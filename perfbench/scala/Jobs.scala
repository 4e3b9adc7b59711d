package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.compile.WaryGate
import graft.features.{Sessionize, Windows}
import graft.io.Checkpoint
import graft.metrics.Lineage

/** The timed jobs, built only from the program's public functions.
  *
  * The prefix builders below restate `Pipeline.featuresFromTurns` one
  * layer at a time (same calls, same arguments) so the traced run can
  * time each cumulative prefix; the last prefix is the real
  * `featuresFromTurns`, so the full job never depends on the restatement.
  */
object Jobs {
  val Buckets = 32
  /** The 8 of 32 buckets a backfill cycle loses and resumes. */
  val Lost: Set[Int] = (0 until Buckets by 4).toSet

  def read(spark: SparkSession, in: String): DataFrame = spark.read.parquet(in)

  def gated(turns: DataFrame): DataFrame =
    WaryGate(turns, Pipeline.turnSpec)
      .withColumn("n_errors", size(col("errors")))
      .drop("errors")

  def windowed(turns: DataFrame): DataFrame = {
    val w = Windows.turnWindow
    Windows.runningCount(
      Windows.locf(
        Windows.withLag(gated(turns), w, "text", 1, as = "prev_text"),
        w, "tool", as = "tool_state"),
      w, col("tool").isNotNull, as = "n_tool_calls")
  }

  def sessionized(turns: DataFrame): DataFrame =
    Sessionize(windowed(turns), Seq("conv_id"), "ts", gapSeconds = 1800L,
      tieBreak = Seq("turn_idx"))

  def features(turns: DataFrame): DataFrame = Pipeline.featuresFromTurns(turns)

  /** Gate + serialized report, routed by the `quarantined` flag: the
    * valid/quarantine split of the serving path in one scan-fused pass.
    */
  def routed(turns: DataFrame): DataFrame =
    WaryGate.reportJson(turns, Pipeline.turnSpec)
      .withColumn("quarantined", size(col(WaryGate.ErrorsCol)) > 0)
      .drop(WaryGate.ErrorsCol)

  /** Forces every output row and column without writing anything. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Checkpointed write of `df` into a fresh `out`, with lineage
    * observation; returns the promoted buckets and the observed rows.
    */
  def checkpointWrite(df: DataFrame, in: String, out: String,
      runId: String): (Set[Int], Long) = {
    val (f, obs) = Lineage.observed(df, "ts")
    val promoted = Checkpoint.write(f, "conv_id", out, Buckets, in, runId)
    (promoted, obs.get("rows").asInstanceOf[Long])
  }

  /** Invalidates the [[Lost]] buckets of a committed `out`, then resumes
    * from a recomputed `df`; returns the promoted buckets, the rows the
    * lost buckets held and the rows the resume processed.
    */
  def resume(df: () => DataFrame, in: String, out: String): (Set[Int], Long, Long) = {
    val (rows, _) = Checkpoint.metrics(out)
    val lostRows = Lost.toSeq.map(rows.getOrElse(_, 0L)).sum
    Checkpoint.invalidate(out, Lost)
    val (promoted, processed) = checkpointWrite(df(), in, out, "resume")
    (promoted, lostRows, processed)
  }

  /** One backfill cycle: write all buckets, lose 8, resume them. */
  def backfill(df: () => DataFrame, in: String, out: String): Unit = {
    val (written, _) = checkpointWrite(df(), in, out, "write")
    val (resumed, _, _) = resume(df, in, out)
    if (written != (0 until Buckets).toSet || resumed != Lost)
      throw new IllegalStateException(
        s"backfill promoted ${written.size} then ${resumed.toSeq.sorted}")
  }
}
