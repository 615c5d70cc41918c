package graft

import scala.util.Random

/** Selection.kthSmallest vs the definitional sorted-index reference:
  * exact for every rank on adversarial shapes (duplicates, clustered
  * values, huge-domain spreads, tiny bucket counts that force many
  * refinement passes). */
class SelectionSpec extends SparkSpecBase {

  import graft.queries.Selection

  private def df(xs: Seq[Long]) = {
    import spark.implicits._
    xs.toDF("v")
  }

  test("groupedKth == per-group sorted reference on adversarial shapes") {
    import spark.implicits._
    val rnd = new Random(7)
    val rows = (0 until 400).map { i =>
      val g = s"g${i % 3}"
      val v = rnd.nextInt(4) match {
        case 0 => rnd.nextLong(1L << 40)
        case 1 => (rnd.nextInt(4) * 1000L)
        case 2 => -rnd.nextLong(1L << 40) // sign-straddling
        case _ => 5L                      // heavy duplicates
      }
      (g, v)
    }
    val d = rows.toDF("g", "v")
    val byG = rows.groupBy(_._1).map { case (g, xs) =>
      g -> xs.map(_._2).sorted
    }
    val ranks = byG.map { case (g, xs) =>
      val n = xs.length.toLong
      g -> Seq(1L, (n + 2) / 3, (2 * n + 2) / 3, n)
    }
    // Tiny bucket count forces several shared refinement rounds.
    val got = Selection.groupedKth(d, "g", "v", ranks, buckets = 8)
    ranks.foreach { case (g, ks) =>
      val expect = ks.map(k => byG(g)((k - 1).toInt))
      assert(got(g) == expect, s"group $g: got ${got(g)} want $expect")
    }
  }

  test("weighted groupedKth == expanded-multiset reference (r19)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new Random(19)
    val rows = (0 until 300).map { i =>
      val g = s"g${i % 3}"
      val v = rnd.nextInt(3) match {
        case 0 => rnd.nextLong(1L << 40)
        case 1 => (rnd.nextInt(5) * 100L)
        case _ => -rnd.nextLong(1L << 30) // sign-straddling
      }
      (g, v, 1L + rnd.nextInt(7)) // positive integer weights
    }
    val d = rows.toDF("g", "v", "wt")
    // Reference: weighted rank k over group g == the k-th element of
    // the multiset where each v repeats wt times.
    val byG = rows.groupBy(_._1).map { case (g, xs) =>
      g -> xs.flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
    }
    val ranks = byG.map { case (g, xs) =>
      val n = xs.length.toLong
      g -> Seq(1L, (n + 1) / 2, n) // incl. the weighted-median rank
    }
    val got = Selection.groupedKth(d, "g", "v", ranks, buckets = 8,
      weight = col("wt"))
    ranks.foreach { case (g, ks) =>
      val expect = ks.map(k => byG(g)((k - 1).toInt))
      assert(got(g) == expect, s"group $g: got ${got(g)} want $expect")
    }
  }

  test("groupedKth rejects an absent group and an oversized rank") {
    import spark.implicits._
    val d = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    intercept[RuntimeException] {
      Selection.groupedKth(d, "g", "v", Map("zz" -> Seq(1L)))
    }
    intercept[IllegalArgumentException] {
      Selection.groupedKth(d, "g", "v", Map("a" -> Seq(3L)))
    }
  }

  test("groupedKth rejects a negative weight and counts a null weight as 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val neg = Seq(("a", 1L, 2L), ("a", 2L, -1L), ("b", 5L, 1L))
      .toDF("g", "v", "wt")
    val err = intercept[IllegalArgumentException] {
      Selection.groupedKth(neg, "g", "v", Map("a" -> Seq(1L)),
        weight = col("wt"))
    }
    assert(err.getMessage.contains("non-negative"), err.getMessage)
    // Null weights: the value 1 carries no weight, so rank 1 is the
    // smallest value with positive weight, and the group's total
    // weight (3) bounds the ranks. An all-null group has weight 0.
    val nul = Seq[(String, Long, Option[Long])](
      ("a", 1L, None), ("a", 2L, Some(1L)), ("a", 3L, Some(2L)),
      ("b", 7L, None)).toDF("g", "v", "wt")
    val got = Selection.groupedKth(nul, "g", "v", Map("a" -> Seq(1L, 2L, 3L)),
      weight = col("wt"))
    assert(got("a") == Seq(2L, 3L, 3L), got)
    intercept[IllegalArgumentException] {
      Selection.groupedKth(nul, "g", "v", Map("b" -> Seq(1L)),
        weight = col("wt"))
    }
  }

  test("groupedKth rejects buckets < 2 (no narrowing possible)") {
    import spark.implicits._
    val d = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    intercept[IllegalArgumentException] {
      Selection.groupedKth(d, "g", "v", Map("a" -> Seq(1L)), buckets = 1)
    }
    intercept[IllegalArgumentException] {
      Selection.groupedKth(d, "g", "v", Map("a" -> Seq(1L)), buckets = 0)
    }
  }

  test("groupedKth census is bounded to the requested groups") {
    // A high-cardinality decoy group domain (10k one-row groups):
    // the opening min/max/count census must collect O(|ranks|) rows,
    // never O(|group domain|) — the decoys may not reach the driver.
    import spark.implicits._
    val decoys = (0 until 10000).map(i => (s"decoy$i", i.toLong))
    val wanted = Seq(("a", 10L), ("a", 30L), ("a", 20L),
      ("b", -5L), ("b", 7L))
    val d = (decoys ++ wanted).toDF("g", "v").repartition(8)
    val got = Selection.groupedKth(d, "g", "v",
      Map("a" -> Seq(1L, 2L, 3L), "b" -> Seq(1L, 2L)), buckets = 4)
    assert(got("a") == Seq(10L, 20L, 30L))
    assert(got("b") == Seq(-5L, 7L))
  }

  test("kth matches the sorted reference on duplicates and clusters") {
    val xs = Seq(5L, 5L, 5L, 1L, 9L, 9L, 1000000007L, 0L, 5L)
    val sorted = xs.sorted
    for (k <- 1 to xs.length)
      assert(Selection.kthSmallest(df(xs), "v", k.toLong,
        buckets = 4) == sorted(k - 1), s"k=$k")
  }

  test("huge-domain spread forces multiple refinement passes and stays exact") {
    val xs = Seq(0L, 1L, Long.MaxValue / 2, Long.MaxValue / 2 + 1,
      Long.MaxValue - 1)
    val sorted = xs.sorted
    for (k <- 1 to xs.length)
      assert(Selection.kthSmallest(df(xs), "v", k.toLong,
        buckets = 4) == sorted(k - 1), s"k=$k")
  }

  test("full signed domain: MinValue..MaxValue together stays exact") {
    // The sign-straddling span exceeds a signed Long — the sign-split
    // pass must fix the regime before any bucket arithmetic runs.
    val xs = Seq(Long.MinValue, Long.MinValue + 1, -7L, -1L, 0L, 3L,
      Long.MaxValue - 1, Long.MaxValue)
    val sorted = xs.sorted
    for (k <- 1 to xs.length)
      assert(Selection.kthSmallest(df(xs), "v", k.toLong,
        buckets = 4) == sorted(k - 1), s"k=$k")
  }

  test("all-negative domain narrows without wrap") {
    val xs = Seq(-1000000007L, -5L, -5L, -1L, Long.MinValue / 2)
    val sorted = xs.sorted
    for (k <- 1 to xs.length)
      assert(Selection.kthSmallest(df(xs), "v", k.toLong,
        buckets = 4) == sorted(k - 1), s"k=$k")
  }

  test("property: sampled ranks of random multisets are exact") {
    val rnd = new Random(42)
    (1 to 8).foreach { trial =>
      val n = 1 + rnd.nextInt(60)
      // Mix huge-spread values with deliberate duplicates.
      val xs = Seq.fill(n)(rnd.nextInt(3) match {
        case 0 => rnd.nextLong(1L << 40)
        case 1 => (rnd.nextInt(4) * 1000L)
        case _ => -rnd.nextLong(1L << 40) // sign-straddling mixes
      })
      val sorted = xs.sorted
      val d = df(xs)
      Seq(1, (n + 1) / 2, n).distinct.foreach { k =>
        assert(Selection.kthSmallest(d, "v", k.toLong, buckets = 16)
          == sorted(k - 1), s"trial=$trial k=$k xs=$xs")
      }
    }
  }
}
