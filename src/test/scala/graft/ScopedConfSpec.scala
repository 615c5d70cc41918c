package graft

/** Scoped session confs are restored to exactly their prior state: a
  * key that had a value gets it back, and a key that was unset is unset
  * again — not pinned to its default as an explicit setting. */
class ScopedConfSpec extends SparkSpecBase {

  private val dir = Tables.VerifySfDir

  /** The session's explicit setting for `k` (None when unset). */
  private def explicit(k: String): Option[String] = spark.conf.getAll.get(k)

  // The keys the stream-gate harness and the fixpoint loops scope.
  private val Scoped = Seq(
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  test("stream and fixpoint gates leave previously unset confs unset") {
    Scoped.foreach(spark.conf.unset)
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    Seq("q_stream_quarantine", "q_graph_kcore").foreach { gate =>
      SparkEntry.queries(gate)(spark, dir).collect()
      Scoped.foreach { k =>
        assert(explicit(k).isEmpty, s"$gate left $k set to ${explicit(k)}")
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") == parts,
        s"$gate did not restore spark.sql.shuffle.partitions")
    }
  }

  test("withConfs restores prior values on success and on failure") {
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val unsetKey = "spark.sql.adaptive.enabled"
    val before = explicit(k)
    spark.conf.unset(unsetKey)
    spark.conf.set(k, "1234")
    try {
      SparkEnv.withConfs(spark, Map(k -> "-1", unsetKey -> "false")) {
        assert(spark.conf.get(k) == "-1")
        assert(spark.conf.get(unsetKey) == "false")
      }
      assert(explicit(k).contains("1234"))
      assert(explicit(unsetKey).isEmpty)
      intercept[IllegalStateException] {
        SparkEnv.withConfs(spark, Map(k -> "7")) {
          throw new IllegalStateException("body failed")
        }
      }
      assert(explicit(k).contains("1234"))
    } finally before match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }
}
