package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Leakage-free categorical encodings for training pipelines.
  *
  * [[targetEncode]] is the point-in-time version of the classic target
  * (mean) encoding: at each row, the count and sum of a numeric label
  * over all STRICTLY EARLIER rows sharing the key — never the current
  * row, never a tie at the same timestamp, never the future. Emitting
  * the exact integer sufficient statistics (count, sum) instead of a
  * float mean keeps the output under the hard oracle and lets the caller
  * pick the smoothing (e.g. `(sum + prior·m) / (cnt + m)`) downstream.
  *
  * Encoding keys are low-cardinality by nature (role, tool, source), so
  * the naive single window serializes each key's entire history into one
  * task — the mega-key problem. The default here is the same two-phase
  * shape as [[graft.ops.Curation.packShards]] / [[LocfScalable]]: a
  * range frame within (key, time-chunk) plus an exclusive running carry
  * over per-chunk totals, so a key's history parallelizes across
  * chunks. The single-window formulation is the differential twin in
  * `EncodeSpec` (test scope).
  */
object Encode {

  private[features] def guardedEpoch(ts: Column): Column = {
    val e = ts.cast("long")
    when(e.isNotNull, e).otherwise(raise_error(lit(
      "Encode: null order value — the order column must be non-null")))
  }

  /** Exact integral floor-division (subtract the non-negative remainder
    * first, so trunc-div equals floor-div for negative epochs too, and
    * nothing routes through a double).
    */
  private def floorDiv(v: Column, d: Long): Column =
    call_function("div", v - pmod(v, lit(d)), lit(d))

  /** Adds `cntAs` / `sumAs`: the count and sum of `label` over strictly
    * earlier rows (by `tsCol`) with the same `keys`. Rows whose epoch
    * ties the current row's are excluded on both sides of the tie — a
    * same-instant label is not yet observable. `sumAs` is null when the
    * count is zero (nothing observed yet), mirroring SQL `SUM` over an
    * empty frame.
    *
    * Scale shape: one range-frame window per (key, chunk) — bounded by
    * `chunkSeconds` of history, not by the key's total volume — then a
    * rows-frame carry over one row per chunk. Epoch ties cannot straddle
    * a chunk boundary (same epoch ⇒ same chunk), so the strict-exclusion
    * semantics survive the split exactly.
    */
  def targetEncode(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      label: Column,
      chunkSeconds: Long = 86400L,
      cntAs: String = "enc_cnt",
      sumAs: String = "enc_sum"
  ): DataFrame = {
    require(keys.nonEmpty, "targetEncode needs at least one key column")
    require(chunkSeconds > 0, "chunkSeconds must be positive")
    val reserved = Seq(cntAs, sumAs, "__te_epoch", "__te_chunk", "__te_lbl",
      "__te_wc", "__te_ws", "__te_tc", "__te_tsum", "__te_cc", "__te_cs")
    require(!reserved.exists(df.columns.contains),
      s"targetEncode reserves the column names ${reserved.mkString(", ")}")

    val df1 = df
      .withColumn("__te_epoch", guardedEpoch(col(tsCol)))
      .withColumn("__te_chunk", floorDiv(col("__te_epoch"), chunkSeconds))
      .withColumn("__te_lbl", label.cast("long"))

    // phase 1: strict-past range frame WITHIN (keys, chunk)
    val w1 = Window
      .partitionBy((keys :+ "__te_chunk").map(col): _*)
      .orderBy(col("__te_epoch"))
      .rangeBetween(Window.unboundedPreceding, -1)

    // phase 2: per-chunk totals, then the exclusive carry over one row
    // per chunk — what each chunk's frame starts from
    val totals = df1.groupBy((keys :+ "__te_chunk").map(col): _*)
      .agg(count(col("__te_lbl")).as("__te_tc"),
        sum(col("__te_lbl")).as("__te_tsum"))
    val wc = Window.partitionBy(keys.map(col): _*).orderBy(col("__te_chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = totals
      .withColumn("__te_cc", coalesce(sum(col("__te_tc")).over(wc), lit(0L)))
      .withColumn("__te_cs", coalesce(sum(col("__te_tsum")).over(wc), lit(0L)))
      .select(col("__te_chunk").as("__te_jchunk") +:
        col("__te_cc") +: col("__te_cs") +:
        keys.map(k => col(k).as(s"__te_j_$k")): _*)

    // null-safe key match: a null key is its own encoding group (window
    // PARTITION BY semantics), so the carry join must not drop its rows
    val joinCond = keys
      .map(k => df1(k) <=> carry(s"__te_j_$k"))
      .reduce(_ && _) && (df1("__te_chunk") === carry("__te_jchunk"))

    val cnt = col("__te_cc") +
      coalesce(count(col("__te_lbl")).over(w1), lit(0L))
    val sm = col("__te_cs") + coalesce(sum(col("__te_lbl")).over(w1), lit(0L))
    df1
      .join(carry, joinCond)
      .withColumn(cntAs, cnt)
      .withColumn(sumAs, when(col(cntAs) === 0L, lit(null).cast("long"))
        .otherwise(sm))
      .drop("__te_epoch", "__te_chunk", "__te_lbl", "__te_cc", "__te_cs",
        "__te_jchunk")
      .drop(keys.map(k => s"__te_j_$k"): _*)
  }

  /** Exact per-group rank features: for every row, its min-rank among the
    * group's `valueCol` values (`rankAs`, ties share a rank), the group
    * size (`nAs`), and — when `nBuckets > 0` — its equal-frequency
    * quantile bucket `floor(nBuckets·(rank−1)/n)` (`bucketAs`, in
    * `[0, nBuckets)`): the standard discretization / percentile-rank
    * featurization, emitted as exact integers (the caller divides for a
    * float percentile if it wants one).
    *
    * `Window.partitionBy(group).orderBy(value)` would sort each whole
    * group in one task; this instead counts strictly-smaller values with
    * the same two-phase chunked frame as [[targetEncode]] (rank−1 IS that
    * count, by definition of min-rank), so a dominant group parallelizes
    * across `valueChunk`-wide value ranges. One extra group-sized
    * aggregate + join supplies n. `valueCol` must be non-null
    * (fail-loud guard, shared with targetEncode).
    */
  def rankInGroup(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      nBuckets: Int = 0,
      valueChunk: Long = 1024L,
      rankAs: String = "rnk",
      nAs: String = "n_group",
      bucketAs: String = "bucket"
  ): DataFrame = {
    require(nBuckets >= 0, "nBuckets must be >= 0 (0 = no bucket column)")
    val reserved = Seq(rankAs, nAs, bucketAs, "__rk_c", "__rk_s")
    require(!reserved.exists(df.columns.contains),
      s"rankInGroup reserves the column names ${reserved.mkString(", ")}")
    val ranked = targetEncode(df, keys, valueCol, lit(1L), valueChunk,
        cntAs = "__rk_c", sumAs = "__rk_s")
      .withColumn(rankAs, col("__rk_c") + 1L)
      .drop("__rk_c", "__rk_s")
    val totals = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(nAs))
      .select(col(nAs) +: keys.map(k => col(k).as(s"__rk_j_$k")): _*)
    val cond = keys.map(k => ranked(k) <=> totals(s"__rk_j_$k")).reduce(_ && _)
    val joined = ranked.join(totals, cond)
      .drop(keys.map(k => s"__rk_j_$k"): _*)
    if (nBuckets == 0) joined
    else joined.withColumn(bucketAs,
      call_function("div", lit(nBuckets.toLong) * (col(rankAs) - 1L),
        col(nAs)))
  }

  /** Deterministic group k-fold assignment: fold = fmix64-gate(id) mod k,
    * so every row carrying the same id (every turn of a conversation)
    * lands in the same fold — group k-fold with zero cross-fold leakage
    * at the grouping granularity, no stored randomness, reproducible
    * across runs and engines (the oracle replays the gate bit-exactly).
    *
    * `k` must divide 10000 (the gate's basis-point range) so folds are
    * exactly equiprobable over gate values; this also makes folds NEST
    * with [[graft.ops.Curation.sampleStratified]]'s rate gates — fold
    * boundaries are gate-value boundaries.
    *
    * Scale shape: a codegen'd scan-fused projection; zero shuffles,
    * zero state.
    */
  def foldAssign(
      df: DataFrame,
      id: Column,
      k: Int,
      as: String = "fold"
  ): DataFrame = {
    require(k > 1, "foldAssign needs k > 1")
    require(10000 % k == 0,
      s"k=$k must divide 10000 (the sampling-gate range) for exactly " +
        "equiprobable folds — use 2, 4, 5, 8, 10, 16, 20, 25, 40, 50, ...")
    df.withColumn(as, graft.ops.Curation.sampleGateBp(id) % k)
  }
}
