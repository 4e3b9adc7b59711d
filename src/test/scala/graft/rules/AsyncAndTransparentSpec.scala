package graft.rules

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.compile.{AsyncRules, WaryGate}
import graft.rules.VRule._

class AsyncAndTransparentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("transparent field suppresses its path segment (emit.rs:355-358)") {
    val spec = WarySpec(Seq(
      FieldSpec("v", rules = Seq(AsciiRule), transparent = true)))
    val gated = WaryGate(Seq("héllo").toDF("v"), spec)
    val path = gated.selectExpr("errors[0].path").collect().head.getSeq[String](0)
    assert(path == Seq.empty)
  }

  test("transparent field under dive keeps only the parent's path") {
    // a #[wary(transparent)] newtype reached through #[wary(dive)]: the
    // newtype's `_0` adds no segment, so the error sits at ["name"]
    val spec = WarySpec(Seq(FieldSpec("name", rules = Seq(Dive(WarySpec(Seq(
      FieldSpec("_0", rules = Seq(AsciiRule), transparent = true))))))))
    val df = Seq("héllo").toDF("v")
      .selectExpr("named_struct('_0', v) AS name")
    val path = WaryGate(df, spec).selectExpr("errors[0].path")
      .collect().head.getSeq[String](0)
    assert(path == Seq("name"))
  }

  test("batched async-substitute rule appends to the errors report") {
    val spec = WarySpec(Seq(FieldSpec("v", rules = Seq(Required()))))
    val gated = WaryGate(
      Seq(Option("good"), Option("blocked"), None).toDF("v"), spec)
    // "async" batched lookup: flags values found in a denylist
    val out = AsyncRules.withBatchedRule(gated, "v", "v", "value denylisted") {
      batch => batch.map(v => if (v == "blocked") Some("denylisted") else None)
    }
    val got = out
      .selectExpr("v", "transform(errors, e -> e.code) AS codes")
      .collect()
      .map(r => Option(r.getString(0)) -> r.getSeq[String](1).toList)
      .toMap
    assert(got(Some("good")) == Nil)
    assert(got(Some("blocked")) == List("denylisted"))
    assert(got(None) == List("cannot_be_empty")) // sync rule untouched
  }

  test("async rule streams bounded batches, not the whole partition") {
    val n = 1000
    val batchSize = 64
    val spec = WarySpec(Seq(FieldSpec("v", rules = Seq.empty)))
    val gated = WaryGate(
      (0 until n).map(i => s"v$i").toDF("v").repartition(1), spec)
    val batchSizes = spark.sparkContext.collectionAccumulator[Int]("batches")
    val out = AsyncRules.withBatchedRule(
      gated, "v", "v", "flagged", batchSize = batchSize) { batch =>
      batchSizes.add(batch.size)
      batch.map(v => if (v == "v7") Some("flagged") else None)
    }
    val flagged = out.selectExpr("v", "size(errors) AS n")
      .collect().filter(_.getInt(1) > 0).map(_.getString(0)).toSeq
    assert(flagged == Seq("v7"))
    val sizes = batchSizes.value
    assert(sizes.size >= n / batchSize,
      s"expected >= ${n / batchSize} batches, got ${sizes.size}")
    sizes.forEach(s => assert(s <= batchSize))
  }
}
