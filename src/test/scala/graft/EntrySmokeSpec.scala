package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() yields rows; every queries() entry runs
  * at sf0.001; every oracleSql key has a matching query.
  */
class EntrySmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry() produces feature rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries execute at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n >= 0, name)
      info(s"$name: $n rows")
    }
  }

  test("oracleSql keys all map to queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("no two plan-inspectable queries are the same computation") {
    // canonicalized optimized plans must be pairwise distinct — two green
    // oracle rows for one computation would inflate the query count.
    // Queries with side effects (temp dirs, sinks, streaming replays)
    // embed fresh paths per call and are inherently distinct; comparing
    // the pure ones is the meaningful check and keeps this test cheap.
    // Every q_stream_* entry is a replay; the batch writers are named.
    val dir = "/root/testdata/sf0.001"
    val batchWriters = Set("q_ingest_split", "q_checkpoint_resume",
      "q_write_shards", "q_write_jsonl", "q_compact_exec")
    def sideEffecting(name: String): Boolean =
      name.startsWith("q_stream_") || batchWriters(name)
    // key = canonical plan + OUTPUT COLUMN NAMES: canonicalization
    // erases names, which falsely collides driver-materialized
    // selection queries (mmrSelect, coverageSelect, bpeLearnMerges…) —
    // their returned plan is just a LocalRelation of the loop's result,
    // so same-shaped outputs looked identical even though the actual
    // computations (upstream of the driver loop) are entirely different
    val plans = SparkEntry.queries.view
      .filterKeys(!sideEffecting(_)).toMap
      .map { case (name, fn) =>
        val qe = fn(spark, dir).queryExecution
        name -> (qe.optimizedPlan.canonicalized.toString + "\n" +
          qe.analyzed.schema.fieldNames.mkString(","))
      }
    val dupes = plans.toSeq
      .groupBy(_._2)
      .values.filter(_.size > 1)
      .map(_.map(_._1).sorted.mkString(" == "))
    assert(dupes.isEmpty, s"duplicate query bodies: ${dupes.mkString("; ")}")
  }
}
