package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.queries._

import Main.{median, pct}

/** The `gates_sf01` workload: a fixed panel of the `SparkEntry.queries`
  * gates at scale factor 0.1, one gate from each of the nine gate
  * modules. Set-up runs every gate once, untimed, writing its result to
  * parquet next to its DuckDB oracle SQL for the launcher to compare,
  * then once more to the noop sink; the two passes warm the JIT. The
  * timed window then runs passes over the panel in a seed-shuffled
  * order, each gate materialized to the noop sink with the cache cleared
  * before it. */
object GateBench {

  /** One gate per module, in module order: among the module's cheapest
    * gates (a whole run must stay under a minute), and none whose
    * oracle reads side files that exist only at the verification scale. */
  val panel: Seq[String] = Seq("q_agg_group", "q_hash", "q_graph_reach",
    "q_snapshot_diff", "q_source_search", "q_sample_hash",
    "q_stream_quarantine", "q_text_stopwords", "q_embed_cosine")

  /** Gate name → module, from each module's own entry table. */
  lazy val moduleOf: Map[String, String] = Layers.modules.zip(Seq(
    CoreQueries.entries, FnQueries.entries, GraphQueries.entries,
    SnapshotQueries.entries, PipelineQueries.entries, ExtraQueries.entries,
    StreamQueries.entries, TextQueries.entries, VectorQueries.entries))
    .flatMap { case (m, e) => e.keys.map(_ -> m) }.toMap

  /** The gate fixtures at scale factor 0.1 sit beside the verification
    * scale's fixtures. */
  def dataDir: String =
    Paths.get(graft.Tables.VerifySfDir).resolveSibling("sf0.1").toString

  def gates(run: Run): Unit = {
    val spark = run.spark
    val dir = dataDir
    val fns = SparkEntry.queries
    val missing = panel.filterNot(fns.contains)
    require(missing.isEmpty, s"panel gates not in SparkEntry.queries: $missing")
    writeResults(run, dir)
    // One more untimed pass, materialized the way the timed passes are:
    // after the result pass alone the first timed pass still runs about
    // a tenth slower. A gate that throws is counted in the timed passes.
    panel.foreach { name =>
      spark.catalog.clearCache()
      try fns(name)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case _: Exception => }
    }
    if (run.trace) run.rec.start()
    val setupS = Main.sinceJvmStart()
    val calib0 = Main.calibSec()

    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val failures = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    run.openWindow()
    while (run.more(passes.size)) {
      val order = new scala.util.Random(run.seed * 1000003L + passes.size)
        .shuffle(panel)
      run.rec.enabled = run.traced(passes.size)
      val traced = run.rec.enabled
      var total = 0.0
      run.rec.op("gates.pass") {
        order.foreach { name =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          try run.rec.span(s"queries.${moduleOf(name)}") {
            val df = run.rec.span("queries.build")(fns(name)(spark, dir))
            run.rec.span("queries.exec") {
              df.write.format("noop").mode("overwrite").save()
            }
          } catch {
            case e: Exception =>
              failures(name) += 1
              System.err.println(s"[perfbench] $name failed: $e")
          }
          val dt = (System.nanoTime() - t0) / 1e9
          times(name) = times(name) :+ dt
          total += dt
        }
      }
      passes += ((total, traced))
    }
    run.rec.enabled = false
    val calib1 = Main.calibSec()
    run.out.attempted = passes.size * panel.size
    run.out.failed = failures.values.sum
    run.out.check("every gate ran", failures.isEmpty, s"gate runs threw: $failures")
    run.out.info ++= Seq("setup_jvm_s" -> setupS, "passes" -> passes.size,
      "gates" -> panel.size, "pass_s" -> passes.map(_._1), "data_dir" -> dir,
      "gate_failures" -> failures.toMap,
      "gate_s" -> panel.map(n => n -> times(n)).toMap,
      "calib_s" -> Seq(calib0, calib1))
    if (!run.trace) {
      // The shared end-to-end metrics: gate runs per second of a pass
      // (the panel size over the pass's summed gate times, median over
      // the passes), and the latency of one gate run (over every gate run
      // of the window).
      val all = panel.flatMap(times)
      run.out.metric("throughput_per_s", panel.size / median(passes.map(_._1).toSeq), "1/s")
      run.out.metric("latency_p50_ms", pct(all, 50) * 1e3, "ms")
      run.out.metric("latency_p95_ms", pct(all, 95) * 1e3, "ms")
    } else {
      run.rec.stop()
      Layers.report(run, "gates.pass", passes.filter(_._2).map(_._1).toSeq,
        passes.filterNot(_._2).map(_._1).toSeq, Map.empty)
    }
  }

  /** Each panel gate's result as one ordered parquet file, plus the
    * oracle SQL, for the launcher's DuckDB comparison. A gate that throws
    * leaves no result file, which the comparison reports. */
  private def writeResults(run: Run, dir: String): Unit = {
    val out = run.work.resolve("gates")
    panel.foreach { name =>
      run.spark.catalog.clearCache()
      try SparkEntry.queries(name)(run.spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(name).toString)
      catch {
        case e: Exception => System.err.println(s"[perfbench] $name failed: $e")
      }
    }
    Files.createDirectories(out)
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle.json"), Main.json.writeValueAsString(
      panel.map(n => n -> oracle(n)).toMap))
  }
}
