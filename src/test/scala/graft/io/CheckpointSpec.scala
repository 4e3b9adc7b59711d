package graft.io

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.metrics.Lineage
import graft.schema.TranscriptGen

/** Checkpoint/resume: a partial run + resume must equal a clean run
  * (north-rule resumability), and manifests must carry per-partition
  * lineage + row counts.
  */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_ckpt").toString

  test("clean write commits all buckets with manifest metrics") {
    val df = TranscriptGen.generateDF(spark, 50)
    val out = tmp()
    val promoted = Checkpoint.write(df, "conv_id", out, nBuckets = 8,
      input = "synthetic:50", runId = "run1")
    assert(promoted == (0 until 8).toSet)
    val (rows, skew) = Checkpoint.metrics(out)
    assert(rows.keySet == (0 until 8).toSet)
    assert(rows.values.sum == df.count())
    assert(skew >= 1.0)
    assert(Checkpoint.read(spark, out).count() == df.count())
  }

  test("manifest entries stay valid JSON when the input path holds " +
    "quotes and backslashes") {
    val df = TranscriptGen.generateDF(spark, 30)
    val out = tmp()
    val input = """in/"quoted" dir\with\backslash "rows":7"""
    Checkpoint.write(df, "conv_id", out, nBuckets = 4,
      input = input, runId = "esc1")
    val manifest = spark.read.json(s"$out/_manifest")
    assert(!manifest.columns.contains("_corrupt_record"),
      "a manifest entry is not valid JSON")
    val entries = manifest.select("bucket", "rows", "input", "run_id")
      .as[(Long, Long, String, String)].collect()
    assert(entries.map(_._3).toSet == Set(input))
    assert(entries.map(_._4).toSet == Set("esc1"))
    val (rows, _) = Checkpoint.metrics(out)
    assert(rows == entries.map(e => e._1.toInt -> e._2).toMap)
    val readBack = spark.read.option("basePath", out)
      .parquet(s"$out/bucket=*").groupBy("bucket").count()
      .as[(Int, Long)].collect().toMap
    assert(rows.filter(_._2 > 0) == readBack)
    assert(rows.values.sum == df.count())
  }

  test("invalidate recomputes exactly the chosen buckets (repair path)") {
    val df = TranscriptGen.generateDF(spark, 50)
    val out = tmp()
    Checkpoint.write(df, "conv_id", out, 8, "synthetic:50", "i1")
    val before = Checkpoint.read(spark, out)
      .orderBy("conv_id", "turn_idx").collect()
    Checkpoint.invalidate(out, Set(2, 5))
    assert(Checkpoint.committedBuckets(out) == Set(0, 1, 3, 4, 6, 7))
    val promoted = Checkpoint.write(df, "conv_id", out, 8, "synthetic:50", "i2")
    assert(promoted == Set(2, 5), s"recomputed $promoted, expected {2,5}")
    val after = Checkpoint.read(spark, out)
      .orderBy("conv_id", "turn_idx").collect()
    assert(after.toSeq == before.toSeq)
  }

  test("double-run: a second writer over a fully-committed dir is a no-op " +
    "and never clobbers the first run's commits") {
    val df = TranscriptGen.generateDF(spark, 40)
    val out = tmp()
    val first = Checkpoint.write(df, "conv_id", out, 8, "synthetic:40", "a1")
    assert(first == (0 until 8).toSet)
    val before = Checkpoint.read(spark, out)
      .orderBy("conv_id", "turn_idx").collect()
    // second run (different runId) racing the same out dir after the first
    // completed: must promote nothing and leave the first run's manifest
    // lineage (run_id) and data bit-identical
    val second = Checkpoint.write(df, "conv_id", out, 8, "synthetic:40", "b2")
    assert(second.isEmpty, s"second run promoted $second")
    val manifests = (0 until 8).map { b =>
      Files.readString(
        java.nio.file.Paths.get(out, "_manifest", s"bucket-$b.json"))
    }
    assert(manifests.forall(_.contains("\"run_id\":\"a1\"")),
      "second run must not rewrite the first run's manifest entries")
    val after = Checkpoint.read(spark, out)
      .orderBy("conv_id", "turn_idx").collect()
    assert(after.toSeq == before.toSeq)
    // interim-commit guard: a bucket committed between the resume scan and
    // promotion (simulated by invalidating then hand-committing bucket 3
    // with foreign lineage before the rewrite) is skipped, not clobbered
    Checkpoint.invalidate(out, Set(3))
    val foreign = """{"bucket":3,"rows":0,"input":"other","run_id":"zz"}"""
    Files.writeString(
      java.nio.file.Paths.get(out, "_manifest", "bucket-3.json"), foreign)
    val third = Checkpoint.write(df, "conv_id", out, 8, "synthetic:40", "c3")
    assert(third.isEmpty)
    assert(Files.readString(
      java.nio.file.Paths.get(out, "_manifest", "bucket-3.json")) == foreign)
  }

  test("resume after partial run equals clean run") {
    val df = TranscriptGen.generateDF(spark, 50)
    val clean = tmp()
    Checkpoint.write(df, "conv_id", clean, 8, "synthetic:50", "c1")

    // partial: full write, then simulate a run killed mid-commit by
    // removing the manifest entries and data of half the buckets
    val partial = tmp()
    Checkpoint.write(df, "conv_id", partial, 8, "synthetic:50", "p1")
    (4 until 8).foreach { b =>
      Files.deleteIfExists(
        java.nio.file.Paths.get(partial, "_manifest", s"bucket-$b.json"))
      val dir = java.nio.file.Paths.get(partial, s"bucket=$b")
      if (Files.exists(dir))
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
    }
    val committedBefore = Checkpoint.committedBuckets(partial)
    assert(committedBefore == (0 until 4).toSet)

    // resume with the FULL input: only missing buckets are written
    val promoted = Checkpoint.write(df, "conv_id", partial, 8,
      "synthetic:50", "p2")
    assert((committedBefore ++ promoted) == (0 until 8).toSet)

    val a = Checkpoint.read(spark, clean).orderBy("conv_id", "turn_idx")
      .collect().toSeq
    val b = Checkpoint.read(spark, partial).orderBy("conv_id", "turn_idx")
      .collect().toSeq
    assert(a == b, "resume output differs from clean run")
  }

  test("commit phase launches O(1) jobs regardless of bucket count") {
    val df = TranscriptGen.generateDF(spark, 60)
    val out = tmp()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Checkpoint.write(df, "conv_id", out, nBuckets = 32,
        input = "synthetic:60", runId = "jobs1")
      Thread.sleep(1000) // let the listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)
    // staged write + one staged-counts aggregate (+ a possible schema
    // probe) — NOT one count job per bucket
    assert(jobs.get() <= 5,
      s"expected O(1) jobs for 32 buckets, saw ${jobs.get()}")
    val (rows, _) = Checkpoint.metrics(out)
    assert(rows.values.sum == df.count())
  }

  test("observation lineage metrics ride along the action") {
    val df = TranscriptGen.generateDF(spark, 10)
    val (observed, obs) = Lineage.observed(df, "ts")
    val n = observed.count()
    val m = obs.get
    assert(m("rows") == n)
    assert(m("null_ts") == 0L)
  }

  test("partition histogram reports skew") {
    val df = TranscriptGen.generateDF(spark, 30).repartition(4)
    val (hist, skew) = Lineage.partitionHistogram(df)
    assert(hist.values.sum == df.count())
    assert(skew >= 1.0)
  }

  test("bucketManifest: totals conserve, buckets in range, null-ts and " +
    "distinct-key counts exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      ("c1", Some("2026-01-01 10:00:00")), ("c1", None),
      ("c2", Some("2026-01-01 11:00:00")), ("c3", Some("2026-01-01 12:00:00"))
    ).toDF("conv_id", "ts_s").withColumn("ts", col("ts_s").cast("timestamp"))
    val m = Lineage.bucketManifest(df, "conv_id", "ts", nBuckets = 4).cache()
    assert(m.agg(sum("n_rows")).head.getLong(0) == 4L)
    assert(m.agg(sum("n_null_ts")).head.getLong(0) == 1L)
    assert(m.agg(sum("n_keys")).head.getLong(0) == 3L) // keys hash to distinct buckets or sum still 3
    assert(m.filter(col("bucket") < 0 || col("bucket") >= 4).count() == 0L)
    m.unpersist()
  }
}
