package perfbench

import Main.median

/** The per-layer metrics of a traced run. Every workload reports every
  * metric; a layer the workload bypasses reads 0. Layers are the
  * program's modules: sources, model, ingest, sync, sink, tables,
  * queries (one entry per gate module), streaming and spark. */
object Layers {
  val modules: Seq[String] = Seq("core", "fn", "graph", "snapshot",
    "pipeline", "extra", "stream", "text", "vector")
  private val spanLayers = Seq("sources", "sync", "tables", "queries")

  /** Every per-layer metric with its unit, in report order. */
  val all: Seq[(String, String)] = Seq(
    "sources.fetch_s" -> "s", "sources.spool_bytes" -> "bytes",
    "model.compile_ms" -> "ms", "ingest.tables_s" -> "s",
    "sync.to_parquet_s" -> "s",
    "sink.write_all_s" -> "s", "sink.per_table_ms" -> "ms",
    "sink.register_s" -> "s", "sink.bytes_written" -> "bytes",
    "sink.files_written" -> "count", "sink.bytes_per_row" -> "bytes",
    "tables.plan_ms" -> "ms", "tables.exec_ms" -> "ms",
    "reads.failed" -> "count", "reads.file_not_found" -> "count",
    "reads.wrong_generation" -> "count") ++
    modules.map(m => s"queries.$m.wall_s" -> "s") ++ Seq(
    "queries.build_s" -> "s", "queries.exec_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.trigger_other_s" -> "s",
    "streaming.batches" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s",
    "spark.gc_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes") ++
    spanLayers.map(l => s"spark.jobs.$l" -> "count") ++
    (spanLayers :+ "harness").map(l => s"self.${l}_s" -> "s") ++ Seq(
    "trace.ops" -> "count", "trace.coverage_pct" -> "%",
    "trace.overhead_pct" -> "%")

  /** Report the traced run. `primary` names the root span of the
    * workload's operation; per-operation figures are medians over those
    * operations. `traced` and `untraced` are operation wall times with
    * the recorder on and off, interleaved in the same run; their medians
    * give the tracing overhead. `extra` holds figures the workload
    * measured itself (sizes, counts, the layer decomposition). */
  def report(run: Run, primary: String, traced: Seq[Double],
      untraced: Seq[Double], extra: Map[String, Double]): Unit = {
    val t = run.rec.result()
    val ops = t.roots(primary)
    val opSpans = ops.map(o => o -> t.inOp(o.op))
    def spanMedian(name: String): Double =
      median(t.spans.filter(_.name == name).map(_.durNs / 1e9))
    def perOp(f: (Span, Vector[Span]) => Double): Double =
      median(opSpans.map { case (o, ss) => f(o, ss) })
    def sumOf(ss: Vector[Span], p: Span => Boolean): Double =
      ss.filter(p).map(_.durNs).sum / 1e9
    def counter(f: Counters => Double): Double =
      perOp((o, _) => f(t.opCounters(o.op)))

    val v = scala.collection.mutable.LinkedHashMap(all.map(_._1 -> 0.0): _*)
    v("sources.fetch_s") = spanMedian("sources.fetch")
    v("sync.to_parquet_s") = spanMedian("sync.to_parquet")
    v("tables.plan_ms") = spanMedian("tables.plan") * 1e3
    v("tables.exec_ms") = spanMedian("tables.exec") * 1e3
    modules.foreach { m =>
      v(s"queries.$m.wall_s") = perOp((_, ss) => sumOf(ss, _.name == s"queries.$m"))
    }
    v("queries.build_s") = perOp((_, ss) => sumOf(ss, _.name == "queries.build"))
    v("queries.exec_s") = perOp((_, ss) => sumOf(ss, _.name == "queries.exec"))
    v("streaming.add_batch_s") = perOp((o, _) => t.batchesIn(o).map(_._2).sum / 1e3)
    v("streaming.trigger_other_s") =
      perOp((o, _) => t.batchesIn(o).map(b => b._3 - b._2).sum / 1e3)
    v("streaming.batches") = perOp((o, _) => t.batchesIn(o).size.toDouble)
    v("spark.jobs") = counter(_.jobs.toDouble)
    v("spark.tasks") = counter(_.tasks.toDouble)
    v("spark.task_cpu_s") = counter(_.cpuNs / 1e9)
    v("spark.task_run_s") = counter(_.runMs / 1e3)
    v("spark.gc_s") = counter(_.gcMs / 1e3)
    v("spark.shuffle_read_bytes") = counter(_.shuffleRead.toDouble)
    v("spark.shuffle_write_bytes") = counter(_.shuffleWrite.toDouble)
    v("spark.spill_bytes") = counter(_.spill.toDouble)
    v("spark.driver_gap_s") = perOp((o, _) => t.driverGapMs(o) / 1e3)
    spanLayers.foreach { l =>
      def inLayer(s: Span) = s.name.startsWith(l + ".")
      v(s"spark.jobs.$l") = perOp((_, ss) => ss.filter(inLayer)
        .map(s => t.counters.get(s.id).map(_.jobs).getOrElse(0L)).sum.toDouble)
      v(s"self.${l}_s") = perOp((_, ss) => ss.filter(inLayer).map(t.selfNs).sum / 1e9)
    }
    v("self.harness_s") = perOp((o, _) => t.selfNs(o) / 1e9)
    v("trace.ops") = ops.size.toDouble
    v("trace.coverage_pct") = perOp((o, _) => 100.0 * (o.durNs - t.selfNs(o)) / o.durNs)
    if (traced.nonEmpty && untraced.nonEmpty)
      v("trace.overhead_pct") = 100.0 * (median(traced) / median(untraced) - 1)
    extra.foreach { case (k, x) =>
      require(v.contains(k), s"unknown per-layer metric $k")
      v(k) = x
    }
    val units = all.toMap
    v.foreach { case (k, x) => run.out.metric(k, x, units(k)) }
  }
}
