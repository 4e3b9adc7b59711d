package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class EncodeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  test("targetEncode: strictly-past stats, ties excluded, nulls skipped") {
    // key a: 10@t0, 20@t10, tie pair (30, 40)@t20, null label @t30, probe @t40
    // key b: singleton
    val df = Seq(
      ("a", 0L, Some(10L)),
      ("a", 10L, Some(20L)),
      ("a", 20L, Some(30L)),
      ("a", 20L, Some(40L)),
      ("a", 30L, None),
      ("a", 40L, Some(5L)),
      ("b", 0L, Some(7L))
    ).map { case (k, t, v) => (k, ts(t), v) }.toDF("k", "ts", "v")
    val got = Encode
      .targetEncode(df, Seq("k"), "ts", $"v", chunkSeconds = 15L)
      .select($"k", $"ts".cast("long").as("t"), $"v", $"enc_cnt", $"enc_sum")
      .as[(String, Long, Option[Long], Long, Option[Long])]
      .collect().map(r => (r._1, r._2, r._3) -> ((r._4, r._5))).toMap
    assert(got(("a", 0L, Some(10L))) == ((0L, None)))
    assert(got(("a", 10L, Some(20L))) == ((1L, Some(10L))))
    // the t20 tie pair: each sees only t0+t10, not its twin
    assert(got(("a", 20L, Some(30L))) == ((2L, Some(30L))))
    assert(got(("a", 20L, Some(40L))) == ((2L, Some(30L))))
    // null label row still OBSERVES the past
    assert(got(("a", 30L, None)) == ((4L, Some(100L))))
    // ...but does not contribute to it
    assert(got(("a", 40L, Some(5L))) == ((4L, Some(100L))))
    assert(got(("b", 0L, Some(7L))) == ((0L, None)))
  }

  test("targetEncode: two-phase equals single-window on random data") {
    val rng = new scala.util.Random(42)
    val rows = (1 to 400).map { i =>
      (s"k${rng.nextInt(3)}", ts(rng.nextInt(500).toLong),
        if (rng.nextInt(10) == 0) None else Some(rng.nextInt(100).toLong), i)
    }
    val df = rows.toDF("k", "ts", "v", "row_id")
    def canon(d: org.apache.spark.sql.DataFrame) = d
      .select($"row_id", $"enc_cnt", $"enc_sum")
      .as[(Int, Long, Option[Long])].collect().sortBy(_._1).toSeq
    // deliberately tiny chunks so carries actually fire
    val two = canon(Encode.targetEncode(df, Seq("k"), "ts", $"v", 7L))
    val one =
      canon(EncodeSpec.targetEncodeSingleWindow(df, Seq("k"), "ts", $"v"))
    assert(two == one)
  }

  test("targetEncode: null keys survive and group together") {
    val df = Seq(
      (Option.empty[String], 0L, 1L),
      (Option.empty[String], 10L, 2L),
      (Option("a"), 5L, 9L)
    ).map { case (k, t, v) => (k, ts(t), v) }.toDF("k", "ts", "v")
    val got = Encode.targetEncode(df, Seq("k"), "ts", $"v", 4L)
      .select($"ts".cast("long"), $"enc_cnt", $"enc_sum")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(got == Set((0L, 0L, None), (10L, 1L, Some(1L)), (5L, 0L, None)))
  }

  test("rankInGroup: min-rank with ties, group size, quartile buckets") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 500).map { i =>
      (s"g${rng.nextInt(3)}", rng.nextInt(40).toLong, i) // heavy ties
    }
    val df = rows.toDF("g", "v", "row_id")
    val got = Encode
      .rankInGroup(df, Seq("g"), "v", nBuckets = 4, valueChunk = 8L)
      .select($"row_id", $"rnk", $"n_group", $"bucket")
      .as[(Int, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val byG = rows.groupBy(_._1)
    rows.foreach { case (g, v, id) =>
      val vs = byG(g).map(_._2)
      val rank = vs.count(_ < v) + 1L
      val n = vs.size.toLong
      val bucket = 4L * (rank - 1) / n
      assert(got(id) == ((rank, n, bucket)), s"g=$g v=$v")
    }
    // buckets cover [0, 4) and the max value lands in bucket 3
    assert(got.values.map(_._3).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("foldAssign: deterministic, conversation-coherent, complete") {
    val df = (0L to 999L).flatMap(id => Seq((id, 0), (id, 1)))
      .toDF("conv", "turn")
    val folds = Encode.foldAssign(df, $"conv", k = 5)
      .select($"conv", $"fold").as[(Long, Long)].collect()
    // every row of a conv in one fold
    assert(folds.groupBy(_._1).forall(_._2.map(_._2).distinct.size == 1))
    val perFold = folds.distinct.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perFold.keySet.subsetOf((0L until 5L).toSet))
    // roughly balanced (fmix64 is uniform; 1000 ids, 5 folds)
    assert(perFold.values.forall(n => n > 130 && n < 270), perFold)
    intercept[IllegalArgumentException] { Encode.foldAssign(df, $"conv", 3) }
  }
}

object EncodeSpec {

  /** [[Encode.targetEncode]] as one strict-past range frame per key (one
    * task per key): the differential twin of the two-phase default.
    */
  def targetEncodeSingleWindow(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      label: Column,
      cntAs: String = "enc_cnt",
      sumAs: String = "enc_sum"
  ): DataFrame = {
    require(keys.nonEmpty, "targetEncode needs at least one key column")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(Encode.guardedEpoch(col(tsCol)))
      .rangeBetween(Window.unboundedPreceding, -1)
    val lbl = label.cast("long")
    df.withColumn(cntAs, coalesce(count(lbl).over(w), lit(0L)))
      .withColumn(sumAs, sum(lbl).over(w))
  }
}
