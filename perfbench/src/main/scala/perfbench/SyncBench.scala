package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.{Sync, Tables}
import graft.model.{Kind, Model, ModelCompiler, Property}
import graft.sink.TableSink
import graft.sources.HttpGraphTransport

import Main.{median, pct}

/** Loopback graph server: `POST /graph/<name>/search/graph` answers with
  * `<name>.ndjson` from the input dir, the way the graph server streams
  * a search result. */
final class GraphServer(dir: Path) extends AutoCloseable {
  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.createContext("/graph/", (x: HttpExchange) => {
    x.getRequestBody.readAllBytes()
    val f = dir.resolve(x.getRequestURI.getPath.split('/')(2) + ".ndjson")
    x.getResponseHeaders.set("Content-Type", "application/x-ndjson")
    x.sendResponseHeaders(200, Files.size(f))
    try Files.copy(f, x.getResponseBody) finally x.close()
  })
  server.start()

  val url = s"http://127.0.0.1:${server.getAddress.getPort}"
  def close(): Unit = server.stop(0)
}

/** One catalog read with its expected rows per generation. */
final case class Read(sql: String, binds: Map[String, Any],
    expect: Map[String, Vector[Vector[String]]])

/** The sync workloads: `sync_fanout` (fetch, sync, read back) and
  * `resync_reads` (one writer re-syncing, one reader on the catalog). */
object SyncBench {
  val WarmOps = 3

  def loadModel(p: Path): Model = Model(
    Main.readJson(p).get("kinds").elements.asScala.map { k =>
      Kind(k.get("fqn").asText,
        properties = k.get("props").elements.asScala
          .map(pr => Property(pr.get(0).asText, pr.get(1).asText)).toSeq,
        bases = k.get("bases").elements.asScala.map(_.asText).toSeq,
        aggregateRoot = k.get("aggregate_root").asBoolean,
        successorKinds = Map("default" ->
          k.get("successors").elements.asScala.map(_.asText).toSeq))
    }.toSeq: _*)

  private def rows(n: JsonNode): Vector[Vector[String]] =
    n.elements.asScala.map(_.elements.asScala.map(_.asText).toVector).toVector

  def loadReads(p: Path): Vector[Read] =
    Main.readJson(p).elements.asScala.map { r =>
      Read(r.get("sql").asText,
        r.get("binds").properties.asScala.map(e => e.getKey -> (e.getValue.asText: Any)).toMap,
        r.get("expect").properties.asScala.map(e => e.getKey -> rows(e.getValue)).toMap)
    }.toVector

  /** One read through the SQL passthrough: plan, then collect. */
  def read(run: Run, r: Read): Vector[Vector[String]] = {
    val df = run.rec.span("tables.plan") {
      Tables.executeSql(run.spark, r.sql, r.binds)
    }
    run.rec.span("tables.exec")(df.collect()).toVector
      .map(_.toSeq.map(v => if (v == null) "null" else v.toString).toVector)
  }

  /** Every table of the last sync has the generator's row count, and the
    * declared links that never saw an edge are there and empty. */
  private def checkCatalog(run: Run, expect: JsonNode, gen: Int,
      synced: Set[String]): Unit = {
    val want = expect.get("counts").get(gen.toString).properties.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    run.out.check("table set", synced == want.keySet,
      s"synced ${synced.size} tables, expected ${want.size}: " +
        (synced diff want.keySet).take(3) + " / " + (want.keySet diff synced).take(3))
    val wrong = want.toSeq.sorted.flatMap { case (t, n) =>
      val got = run.spark.table(t).count()
      if (got == n) None else Some(s"$t: $got rows, expected $n")
    }
    run.out.check("table row counts", wrong.isEmpty, wrong.take(5).mkString("; "))
    val empty = expect.get("empty_link_tables").elements.asScala.map(_.asText).toSeq
    run.out.check("declared unobserved links are empty",
      empty.nonEmpty && empty.forall(t => want.get(t).contains(0L)),
      s"empty link tables $empty")
  }

  private def spoolBytes(run: Run): Double =
    Main.du(run.work.resolve("spool"))._2.toDouble

  def fanout(run: Run): Unit = {
    val spark = run.spark
    val model = loadModel(run.input.resolve("model.json"))
    val expect = Main.readJson(run.input.resolve("expect.json"))
    val envelopes = expect.get("envelopes").get("0").asDouble
    val reads = loadReads(run.input.resolve("reads.json"))
    val server = new GraphServer(run.input)
    try {
      val transport = new HttpGraphTransport(server.url, "g0", None,
        run.work.resolve("spool").toString)
      var synced = Set.empty[String]
      val base = run.work.resolve("catalog").toString
      // One operation: fetch, sync over the previous snapshot, then the
      // first `nReads` reads of the fixed read set. Returns (fetch+sync s,
      // read latencies ms, wrong reads, operation wall s).
      def op(nReads: Int): (Double, Seq[Double], Int, Double) = {
        val t0 = System.nanoTime()
        run.rec.op("sync_fanout.op") {
          val env = run.rec.span("sources.fetch")(transport.envelopes(spark, None))
          synced = run.rec.span("sync.to_parquet")(Sync.toParquet(spark, env, model, base)).keySet
          val syncS = (System.nanoTime() - t0) / 1e9
          var wrong = 0
          val lat = reads.take(nReads).map { r =>
            val r0 = System.nanoTime()
            val got = read(run, r)
            if (!r.expect("0").equals(got)) wrong += 1
            (System.nanoTime() - r0) / 1e6
          }
          (syncS, lat, wrong, (System.nanoTime() - t0) / 1e9)
        }
      }
      // An operation that throws is counted as failed and logged; the
      // next one syncs over whatever it left.
      var errors = 0
      def tryOp(nReads: Int): Option[(Double, Seq[Double], Int, Double)] =
        try Some(op(nReads))
        catch {
          case e: Exception =>
            errors += 1
            System.err.println(s"[perfbench] sync_fanout operation failed: $e")
            e.printStackTrace()
            None
        }
      // A fresh JVM's first operations run up to twice as slow while the
      // JIT warms; by the third they are within about a tenth of steady.
      // The warm-up operations make a third of the reads, which cover
      // every read shape.
      val warm = Seq.fill(WarmOps)(tryOp(reads.size / 3)).flatten.map(_._3).sum
      run.out.check("warm-up reads", warm == 0, s"$warm wrong answers")
      if (run.trace) run.rec.start()
      val setupS = Main.sinceJvmStart()
      val calib0 = Main.calibSec()
      val results = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[Double], Int, Double)]
      val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
      val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
      run.openWindow()
      var attempts = 0
      while (run.more(results.size)) {
        run.rec.enabled = run.traced(attempts)
        attempts += 1
        tryOp(reads.size).foreach { r =>
          (if (run.rec.enabled) traced else untraced) += r._4
          results += r
        }
        require(attempts <= results.size + 3, "sync_fanout operations keep failing")
      }
      run.rec.enabled = false
      val calib1 = Main.calibSec()
      checkCatalog(run, expect, 0, synced)
      val wrong = results.map(_._3).sum
      run.out.check("catalog answers", wrong == 0,
        s"$wrong of ${results.size * reads.size} reads returned wrong rows")
      run.out.attempted = attempts
      run.out.failed = (attempts - results.size) + results.count(_._3 > 0)
      val lat = results.flatMap(_._2).toSeq
      run.out.info ++= Seq("setup_jvm_s" -> setupS, "ops" -> results.size,
        "op_errors" -> errors,
        "sync_s" -> results.map(_._1), "op_s" -> results.map(_._4),
        "reads" -> lat.size, "read_ms" -> results.map(_._2), "envelopes" -> envelopes,
        "calib_s" -> Seq(calib0, calib1))
      if (!run.trace) {
        // The shared end-to-end metrics: envelopes fetched and synced per
        // second (median over the operations), and the latency of one
        // catalog read (over every read of the window).
        run.out.metric("throughput_per_s", median(results.map(envelopes / _._1).toSeq), "1/s")
        run.out.metric("latency_p50_ms", pct(lat, 50), "ms")
        run.out.metric("latency_p95_ms", pct(lat, 95), "ms")
      } else {
        val extra = Map("sources.spool_bytes" -> spoolBytes(run)) ++
          decompose(run, transport, model)
        run.rec.stop()
        Layers.report(run, "sync_fanout.op", traced.toSeq, untraced.toSeq, extra)
      }
    } finally server.close()
  }

  /** Times the layers that `Sync.toParquet` runs inside one call, each on
    * its own: compiling the model, building every table with
    * `Sync.tables` (materialized to the noop sink), writing tables that
    * are already materialized with `TableSink.writeAll`, and registering
    * them. Runs after the checks: it repoints the catalog. */
  private def decompose(run: Run, transport: HttpGraphTransport,
      model: Model): Map[String, Double] = {
    val spark = run.spark
    def secs[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = run.rec.span(name)(body)
      (v, (System.nanoTime() - t0) / 1e9)
    }
    run.rec.enabled = true
    try run.rec.op("sync_fanout.layers") {
      val env = transport.envelopes(spark, None)
      val (_, compileS) = secs("model.compile") {
        ModelCompiler.tableKinds(model).foreach(ModelCompiler.tableSchema(_, model))
      }
      val (tables, ingestS) = secs("ingest.tables") {
        val ts = Sync.tables(env, model)
        ts.values.foreach(_.write.format("noop").mode("overwrite").save())
        ts
      }
      val materialized = tables.map { case (n, df) => n -> df.localCheckpoint() }
      val rows = materialized.values.map(_.count()).sum
      val sinkBase = run.work.resolve("sink_probe").toString
      val (paths, writeS) = secs("sink.write_all")(TableSink.writeAll(materialized, sinkBase))
      val (_, registerS) = secs("sink.register")(TableSink.registerProd(spark, paths))
      val (files, bytes) = paths.values.map(p => Main.du(java.nio.file.Paths.get(p)))
        .foldLeft((0L, 0L)) { case ((f, b), (f1, b1)) => (f + f1, b + b1) }
      Map("model.compile_ms" -> compileS * 1e3, "ingest.tables_s" -> ingestS,
        "sink.write_all_s" -> writeS,
        "sink.per_table_ms" -> writeS * 1e3 / math.max(1, paths.size),
        "sink.register_s" -> registerS, "sink.bytes_written" -> bytes.toDouble,
        "sink.files_written" -> files.toDouble,
        "sink.bytes_per_row" -> bytes.toDouble / math.max(1L, rows))
    } finally run.rec.enabled = false
  }

  def resync(run: Run): Unit = {
    val spark = run.spark
    val model = loadModel(run.input.resolve("model.json"))
    val expect = Main.readJson(run.input.resolve("expect.json"))
    val envelopes = Seq(0, 1).map(g => expect.get("envelopes").get(g.toString).asDouble)
    val reads = loadReads(run.input.resolve("reads.json"))
    val base = run.work.resolve("catalog").toString
    val server = new GraphServer(run.input)
    try {
      val transports = Seq(0, 1).map(g => new HttpGraphTransport(server.url,
        s"g$g", None, run.work.resolve("spool").toString))
      def sync(gen: Int): Set[String] = {
        val env = run.rec.span("sources.fetch")(transports(gen).envelopes(spark, None))
        run.rec.span("sync.to_parquet") {
          Sync.toParquet(spark, env, model, base, dropExisting = true)
        }.keySet
      }
      var synced = sync(0)
      // Warm the read path with two rounds of each read shape.
      val warm = reads.take(6).count(r => read(run, r) != r.expect("0"))
      run.out.check("initial catalog answers", warm == 0, s"$warm wrong answers")
      if (run.trace) run.rec.start()
      val setupS = Main.sinceJvmStart()
      val calib0 = Main.calibSec()

      // Writer: alternate generations until the window closes.
      @volatile var writerDone = false
      @volatile var lastGen = 0
      val resyncs = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Int, Double, Boolean)]())
      var writerError: Throwable = null
      val writer = new Thread(() => {
        try {
          var gen = 0
          while (run.more(resyncs.size)) {
            gen = 1 - gen
            val traced = run.traced(resyncs.size)
            run.rec.enabled = traced
            val t0 = System.nanoTime()
            synced = run.rec.op("resync.write")(sync(gen))
            resyncs.add((gen, (System.nanoTime() - t0) / 1e9, traced))
            lastGen = gen
          }
        } catch { case t: Throwable => writerError = t }
        finally writerDone = true
      }, "perfbench-writer")

      // Reader: closed loop over the read set while the writer runs.
      var ok, failed, notFound, wrongGen = 0L
      var i = 0
      run.openWindow()
      val r0 = System.nanoTime()
      writer.start()
      while (!writerDone) {
        val r = reads(i % reads.size)
        i += 1
        run.rec.op("resync.read") {
          try {
            val got = read(run, r)
            if (r.expect.values.exists(_ == got)) ok += 1 else wrongGen += 1
          } catch {
            case e: Exception =>
              failed += 1
              if (fileNotFound(e)) notFound += 1
          }
        }
      }
      val readerS = (System.nanoTime() - r0) / 1e9
      writer.join()
      run.rec.enabled = false
      if (writerError != null) throw writerError
      val calib1 = Main.calibSec()
      checkCatalog(run, expect, lastGen, synced)
      val rs = resyncs.asScala.toSeq
      run.out.attempted = i + rs.size
      run.out.failed = failed + wrongGen
      run.out.info ++= Seq("setup_jvm_s" -> setupS, "resyncs" -> rs.size,
        "reads" -> i, "reads_ok" -> ok, "reads_failed" -> failed,
        "reads_file_not_found" -> notFound, "reads_wrong_generation" -> wrongGen,
        "reader_s" -> readerS, "calib_s" -> Seq(calib0, calib1))
      if (!run.trace) {
        run.out.metric("resync_rows_per_s",
          median(rs.map { case (g, s, _) => envelopes(g) / s }), "1/s")
        run.out.metric("read_ok_per_s", ok / readerS, "1/s")
      } else {
        run.rec.stop()
        Layers.report(run, "resync.write", rs.filter(_._3).map(_._2),
          rs.filterNot(_._3).map(_._2),
          Map("sources.spool_bytes" -> spoolBytes(run) / 2,
            "reads.failed" -> failed.toDouble,
            "reads.file_not_found" -> notFound.toDouble,
            "reads.wrong_generation" -> wrongGen.toDouble))
      }
    } finally server.close()
  }

  /** A read that failed because a file its plan listed was gone. */
  private def fileNotFound(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.FileNotFoundException => true
      case t => Option(t.getMessage).exists(_.contains("FILE_NOT_EXIST"))
    }
}
