package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.WaryGate
import graft.features.{AsOfNative, Sessionize, Windows}
import graft.io.Tables
import graft.rules._
import graft.rules.VRule._

/** The flagship end-to-end feature pipeline (SURVEY.md §7.2): validate +
  * normalize each turn via the wary gate, then per-conversation point-in-
  * time features — previous turn text (lag), tool state (as-of/LOCF),
  * running tool-call count, and a gap session id.
  *
  * Plan shape at scale: the gate is a narrow projection fused into the
  * scan; all window features share one (conv_id)-partitioned sort; the
  * as-of is the native sort-merge exec ([[AsOfNative.joinBackward]]) on
  * the same key. Its observation side adds two exchanges of its own (the
  * per-(conv_id, ts) collapse, then conv_id clustering for the merge), so
  * the benchmark's plan trace counts 3 exchanges on `uniform`, whatever
  * the number of window features.
  */
object Pipeline {

  /** Turn-validation spec: text required + byte-length bounded, trimmed and
    * lower-cased when valid (wary gate semantics).
    */
  val turnSpec: WarySpec = WarySpec(
    Seq(
      FieldSpec(
        "text",
        rules = Seq(Required(), Length(min = 1, max = 4000)),
        transforms = Seq(TRule.Trim(), TRule.Lower())
      )
    )
  )

  def features(spark: SparkSession, dir: String): DataFrame =
    // the gate branch and the tool-observation branch BOTH consume the
    // derived transcript (events scan + user_id window); materialize the
    // derivation once per evaluation (lazy localCheckpoint, fresh per
    // invocation). Deliberately NOT inside featuresFromTurns: over a
    // bucketed table a checkpoint would erase the conv_id bucketing that
    // elides the downstream exchanges (pipeline_bucketed's whole point),
    // and there the second read is a cheap bucketed scan anyway.
    featuresFromTurns(Tables.transcript(spark, dir).localCheckpoint(false))

  /** Same pipeline over an already-materialized transcript table. */
  def featuresFromTurns(turns: DataFrame): DataFrame = {
    val gated = WaryGate(turns, turnSpec)
      .withColumn("n_errors", size(col("errors")))
      .drop("errors")
    val w = Windows.turnWindow
    val withWin = Sessionize(
      Windows.runningCount(
        Windows.locf(
          Windows.withLag(gated, w, "text", 1, as = "prev_text"),
          w, "tool", as = "tool_state"),
        w, col("tool").isNotNull, as = "n_tool_calls"),
      Seq("conv_id"), "ts", gapSeconds = 1800L, tieBreak = Seq("turn_idx"))

    // as-of: latest per-conversation tool observation at ts <= anchor ts.
    // The NATIVE sort-merge exec (custom plan) is ~6.7x faster than the
    // union-merge formulation at 25M rows: each side sorts separately and
    // the merge streams, instead of window-scanning the combined union.
    val obs = turns
      .filter(col("tool").isNotNull)
      .groupBy(col("conv_id"), col("ts"))
      .agg(max_by(col("tool"), col("turn_idx")).as("last_tool"))
    AsOfNative.joinBackward(withWin, obs, Seq("conv_id"))
  }
}
