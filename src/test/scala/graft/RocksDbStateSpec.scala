package graft

/** State-store-provider independence (VERDICT r10 #7, widened
  * family-wide by r11 #7): at 100 TB the streaming family runs on the
  * RocksDB provider (larger-than-heap state, restart tolerance,
  * changelog checkpointing); the gates default to the HDFS-backed
  * in-memory store only because a finite AvailableNow run never
  * amortizes RocksDB's native per-store open costs. This pins the
  * posture flip as a pure CONFIG seam across EVERY stateful gate
  * shape — windowed agg (q_stream_batch), stream-stream interval join
  * (q_stream_join), session-window merge state (q_stream_session),
  * watermark/late-data eviction (q_stream_late), sliding windows
  * (q_stream_sliding), and the batch session_window twin
  * (q_session_window) — by asserting result identity under both
  * providers. The seam is Spark's own session conf
  * `spark.sql.streaming.stateStore.providerClass`, which the gate
  * harness leaves untouched. */
class RocksDbStateSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Memory sinks register gate-named temp views; drop them so the
    * next run of the same gate starts clean. */
  private def dropGateViews(): Unit =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_"))
      .foreach(t => spark.catalog.dropTempView(t.name))

  Seq("q_stream_batch", "q_stream_join", "q_stream_session",
      "q_stream_late", "q_stream_sliding", "q_session_window")
    .foreach { gate =>
      test(s"$gate is identical under the RocksDB state store") {
        dropGateViews()
        val default = SparkEntry.queries(gate)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        assert(default.nonEmpty, s"$gate returned no rows")
        dropGateViews()
        try {
          val rocks = SparkEnv.withConfs(spark, Map(ProviderKey -> RocksDb)) {
            SparkEntry.queries(gate)(spark, dir)
              .collect().map(_.toString).sorted.toSeq
          }
          assert(rocks.length == default.length,
            s"$gate row count differs: rocksdb ${rocks.length} vs ${default.length}")
          assert(rocks == default,
            s"$gate results differ between state store providers")
        } finally dropGateViews()
      }
    }
}
