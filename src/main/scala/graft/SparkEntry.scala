package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.compile.WaryGate
import graft.exprs.SimHash64
import graft.features.{AsOf, Sessionize, Windows}
import graft.io.Tables
import graft.ops.{Dedup, Similarity, TextStats}
import graft.rules._
import graft.rules.VRule._

/** Driver contract: one entry per operator (SURVEY.md §2), each with an
  * ANSI-SQL oracle the driver replays in DuckDB over the same parquet
  * tables. Column names/types are kept exactly aligned between the Spark
  * query and its oracle (the compare hashes values under sorted columns).
  */
object SparkEntry {

  /** Flagship feature pipeline on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.features(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------- helpers

  private def turns(s: SparkSession, dir: String): DataFrame =
    Tables.transcript(s, dir)

  /** Bucketized layout dimensions for the z-order family: capped char
    * length (10 bits) and the numeric source suffix ("src7" → 7).
    */
  private def zDims(d: DataFrame): DataFrame =
    d.withColumn("len_b", least(col("n_chars"), lit(1023L)))
      .withColumn("src_b",
        col("source").substr(lit(4), length(col("source"))).cast("long"))

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  private def embeds(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")

  private val T = Tables.turnsCte

  /** Stage `df` as ONE parquet file named `name` in `destDir` with an
    * explicit modification time — the file-source replay harness's unit of
    * arrival order (FileStreamSource processes oldest-mtime first, so
    * strictly increasing mtimes make batch order deterministic). The data
    * never touches the driver: each chunk is a distributed write whose
    * single part-file is then renamed into the watched directory.
    */
  private def stageOrderedFile(
      df: DataFrame, scratch: String, destDir: String, name: String,
      mtimeMs: Long): Unit = {
    import scala.jdk.CollectionConverters._
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(scratch)))(
      _.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .next())
    val dest = java.nio.file.Paths.get(destDir, name)
    java.nio.file.Files.createDirectories(dest.getParent)
    java.nio.file.Files.move(part, dest)
    java.nio.file.Files.setLastModifiedTime(
      dest, java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  /** A fresh memory-sink table name, dropping this prefix's previous
    * incarnations first: memory-sink tables pin their full result in the
    * driver for the session lifetime, and Bench/Verify cycles re-run
    * every query — without the cleanup each pass would leak one result
    * copy per streaming query.
    */
  private def freshStreamView(s: SparkSession, prefix: String): String = {
    s.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith(prefix))
      .foreach(s.catalog.dropTempView(_))
    s"$prefix${System.nanoTime()}"
  }

  // The streaming replays share one file-source protocol: stage the input
  // as mtime-ordered parquet chunks (ReplayChunks), read the watched
  // directory one file per micro-batch (replayStream), and drain one
  // AvailableNow query under the replay partition count (runReplay).

  /** Shuffle partitions of every streaming replay. A stateful operator's
    * parallelism (= its state-store count) is frozen from
    * `spark.sql.shuffle.partitions` at query start, and every micro-batch
    * commits every store, so a replay pays O(batches × partitions) state
    * file operations whatever its data volume. 8 is sized for the key
    * cardinality of the test scale factors (sf0.001–sf0.1), not for the
    * session's batch queries; deriving it from the input is still open.
    */
  private val ReplayShufflePartitions = 8

  /** Modification time of replay file `slot`: chunks take slots 1..n and
    * sentinel files the slots after them, so they arrive in that order.
    */
  private def replayMtime(slot: Int): Long = 1700000000000L + slot * 10000L

  /** Stage: `df` cut into `n` replay chunks by `order` — ntile over the
    * rows, or with `cohorts` over the distinct `order` values, so an
    * equal-key cohort never straddles a micro-batch. The cut is
    * checkpointed once, so every chunk write shares the single-task
    * replay sort (a replay coordinator's cost; production streams arrive
    * already ordered).
    */
  private final class ReplayChunks(
      df: DataFrame, val n: Int, order: Seq[String], cohorts: Boolean = false) {
    private val chunked = {
      def cut(d: DataFrame): DataFrame = d.withColumn("__chunk",
        ntile(n).over(org.apache.spark.sql.expressions.Window
          .orderBy(order.map(col): _*)))
      val withChunk =
        if (!cohorts) cut(df)
        else df.join(cut(df.select(order.map(col): _*).distinct()), order)
          .select((df.columns :+ "__chunk").map(col): _*)
      withChunk.localCheckpoint(false)
    }

    /** The staged files' schema: the replay stream's read schema. */
    val schema: StructType = chunked.drop("__chunk").schema

    /** Stages chunks `ids` into `watched` as `chunk-$i.parquet` at mtime
      * slot i (each written through scratch dir `$scratch$i`); returns
      * [[schema]].
      */
    def stage(scratch: String, watched: String,
        ids: Seq[Int] = 1 to n): StructType = {
      ids.foreach { i =>
        stageOrderedFile(chunked.filter(col("__chunk") === i).drop("__chunk"),
          s"$scratch$i", watched, s"chunk-$i.parquet", replayMtime(i))
      }
      schema
    }
  }

  /** Read: the watched directory as a file stream, one file per batch. */
  private def replayStream(
      s: SparkSession, schema: StructType, watched: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(watched)

  /** `body` under [[ReplayShufflePartitions]], restoring the session's
    * setting after; queries started in it keep the replay count.
    */
  private def withReplayPartitions[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      ReplayShufflePartitions.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Starts `writer` as one AvailableNow query and drains it. */
  private def drainAvailableNow(writer: DataStreamWriter[_]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
  }

  /** Run: [[drainAvailableNow]] under the replay partition count. */
  private def runReplay(s: SparkSession)(writer: => DataStreamWriter[_]): Unit =
    withReplayPartitions(s)(drainAvailableNow(writer))

  // ------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- wary gate: validate + normalize each turn -----------------------
    "q_gate_normalize" -> ((s, dir) => {
      val spec = Pipeline.turnSpec
      WaryGate(turns(s, dir), spec)
        .select(
          col("conv_id"),
          col("turn_idx"),
          col("text").as("text_norm"),
          size(col("errors")).as("n_errors"),
          get(col("errors"), lit(0)).getField("code").as("first_code")
        )
    }),

    // --- serving-path report JSON (byte-parity with the reference's
    // serialized Report, incl. per-variant detail payloads). Text is
    // perturbed so every turnSpec error branch appears in the output:
    // NULL (required), empty (required + too_short), >4000 bytes
    // (too_long), valid (report "[]").
    "q_report_json" -> ((s, dir) => {
      val perturbed = turns(s, dir).withColumn(
        "text",
        when(col("turn_idx") % 7 === 0, lit(null).cast("string"))
          .when(col("turn_idx") % 7 === 1, lit(""))
          .when(col("turn_idx") % 7 === 2, concat(lit("x"), repeat(lit("y"), 4500)))
          .otherwise(col("text")))
      WaryGate.reportJson(perturbed, Pipeline.turnSpec)
        .select("conv_id", "turn_idx", "report")
    }),

    // --- JSON-lines ingest: ONE-PASS valid/quarantine split under the oracle ----
    // The reference's serving path (deserialize → wary() → 200-with-
    // transformed-payload / 400-with-report) as a batch source+sink: turns
    // are perturbed so every gate branch appears, round-tripped through
    // JSON-lines, gated, and landed in a validity-partitioned sink in one
    // write. The oracle predicts BOTH splits — transformed text + "[]"
    // report on the valid side, original text + exact report bytes on the
    // quarantine side — so the split routing, the transform gating, and
    // the serde shape are all under the hard signal.
    "q_ingest_split" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_ingest").toString
      val jsonDir = s"$tmp/in"
      val outDir = s"$tmp/out"
      turns(s, dir).select(
        col("conv_id"), col("turn_idx"),
        when(col("turn_idx") % 7 === 0, lit(null).cast("string"))
          .when(col("turn_idx") % 7 === 1, lit(""))
          .when(col("turn_idx") % 7 === 2, concat(lit("x"), repeat(lit("y"), 4500)))
          .otherwise(col("text")).as("text"))
        .write.mode("overwrite").json(jsonDir)
      val schema = StructType(Seq(
        StructField("conv_id", StringType),
        StructField("turn_idx", IntegerType),
        StructField("text", StringType)))
      val src = graft.io.JsonIngest.readJsonl(s, jsonDir, schema)
      graft.io.JsonIngest.ingest(src, Pipeline.turnSpec, outDir)
      s.read.parquet(outDir)
        .select(col("conv_id"), col("turn_idx"), col("text"), col("report"),
          col("__valid").as("valid"))
    }),

    // --- lag / lead -------------------------------------------------------
    "q_lag_lead" -> ((s, dir) => {
      val w = Windows.turnWindow
      Windows.withLead(
        Windows.withLag(turns(s, dir), w, "text", 1, as = "prev_text"),
        w, "role", 1, as = "next_role")
        .select("conv_id", "turn_idx", "prev_text", "next_role")
    }),

    // --- LOCF backfill -----------------------------------------------------
    "q_locf_backfill" -> ((s, dir) =>
      Windows.locf(turns(s, dir), Windows.turnWindow, "tool", as = "tool_locf")
        .select("conv_id", "turn_idx", "tool_locf")),

    // --- mega-key-safe LOCF (two-phase; same semantics as q_locf_backfill) ---
    "q_locf_scalable" -> ((s, dir) =>
      graft.features.LocfScalable(turns(s, dir), Seq("conv_id"), "ts",
        "turn_idx", "tool", chunkSeconds = 1800L, as = "tool_locf")
        .select("conv_id", "turn_idx", "tool_locf")),

    // --- gap sessionization -------------------------------------------------
    "q_sessionize" -> ((s, dir) =>
      Sessionize(turns(s, dir), Seq("conv_id"), "ts", 1800L, Seq("turn_idx"))
        .select("conv_id", "turn_idx", "session_seq", "session_id")),

    // --- gap + MAX-DURATION capped sessionization ---------------------------
    // q_sessionize's boundaries, then fixed 1200 s slices from each
    // session's first event — "no session longer than N" on top of gap
    // logic (the closed-form slicing contract; see Sessionize.capped).
    "q_sessionize_capped" -> ((s, dir) =>
      Sessionize.capped(turns(s, dir), Seq("conv_id"), "ts",
          gapSeconds = 1800L, maxSeconds = 1200L, tieBreak = Seq("turn_idx"))
        .select("conv_id", "turn_idx", "session_seq", "slice_seq",
          "capped_session_id")),

    // --- LOCF with EXPIRY (stale-feature invalidation) ----------------------
    // q_locf_backfill's carry, but a tool observation only serves for
    // 900 s after it happened — past that the anchor reads NULL, the
    // point-in-time staleness contract a feature store enforces.
    "q_locf_ttl" -> ((s, dir) =>
      Windows.locfTtl(turns(s, dir), Windows.turnWindow, "tool", "ts",
          ttlSeconds = 900L, as = "tool_ttl")
        .select("conv_id", "turn_idx", "tool_ttl")),

    // --- checkpoint write -> invalidate -> RESUME -> read, under the oracle ----
    // The sessionized output is written through the resumable bucketed
    // sink, two buckets are then invalidated (the operational repair
    // path), and a second write recomputes ONLY those buckets. The final
    // read-back must equal the plain sessionization SQL — resume and
    // layout must be results-invisible.
    "q_checkpoint_resume" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_verify_ckpt").toString
      val sess =
        Sessionize(turns(s, dir), Seq("conv_id"), "ts", 1800L, Seq("turn_idx"))
          .select("conv_id", "turn_idx", "session_seq", "session_id")
      graft.io.Checkpoint.write(sess, "conv_id", out, nBuckets = 8,
        input = dir, runId = "verify_r1")
      graft.io.Checkpoint.invalidate(out, Set(0, 1))
      graft.io.Checkpoint.write(sess, "conv_id", out, nBuckets = 8,
        input = dir, runId = "verify_r2")
      graft.io.Checkpoint.read(s, out)
        .select("conv_id", "turn_idx", "session_seq", "session_id")
    }),

    // --- per-bucket lineage manifest -----------------------------------------------
    // The north rule's "per-partition lineage + metrics" AS DATA: rows,
    // null-ts count, ts range, and distinct keys per deterministic
    // md5-hex key bucket — the manifest itself sits under the oracle
    // rather than being a trusted side channel.
    "q_lineage" -> ((s, dir) =>
      graft.metrics.Lineage.bucketManifest(
        turns(s, dir), "conv_id", "ts", nBuckets = 16)),

    "q_session_summary" -> ((s, dir) => {
      val sess =
        Sessionize(turns(s, dir), Seq("conv_id"), "ts", 1800L, Seq("turn_idx"))
      Sessionize.summary(sess, Seq("conv_id"), "ts")
        .select("conv_id", "session_id", "n_turns", "session_start",
          "session_end", "duration_sec")
    }),

    // --- point-in-time as-of join -------------------------------------------
    "q_asof_tool" -> ((s, dir) => {
      val t = turns(s, dir)
      val anchors = t.filter(col("role") === "assistant")
        .select("conv_id", "turn_idx", "ts")
      val obs = t.filter(col("tool").isNotNull)
        .groupBy(col("conv_id"), col("ts"))
        .agg(max_by(col("tool"), col("turn_idx")).as("last_tool"))
      AsOf.joinBackward(anchors, obs, Seq("conv_id"))
        .select("conv_id", "turn_idx", "last_tool")
    }),

    // --- trailing rolling MEDIAN (robust window feature) --------------------------
    // Exact discrete median of the previous 8 turns' byte lengths, per
    // conversation, strictly preceding — the robust trailing statistic
    // an average can't give next to q_rolling_1h's sums.
    "q_rolling_median" -> ((s, dir) =>
      Windows.rollingQuantileDisc(
          turns(s, dir), Windows.turnWindow,
          coalesce(octet_length(col("text")).cast("long"), lit(0L)),
          k = 8, qBp = 5000, as = "med_len")
        .select("conv_id", "turn_idx", "med_len")),

    // --- observation staleness (time-since-last-event feature) --------------------
    // Seconds since the conversation's last tool observation at each
    // turn — the freshness feature every point-in-time feature vector
    // carries next to the LOCF'd value itself. Composes Windows.locf on
    // the observation's own ts; exact integer seconds.
    "q_staleness" -> ((s, dir) => {
      val t = turns(s, dir)
        .withColumn("obs_ts", when(col("tool").isNotNull, col("ts")))
      Windows.locf(t, Windows.turnWindow, "obs_ts", "last_obs_ts")
        .select(col("conv_id"), col("turn_idx"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("last_obs_ts")))
            .as("staleness_sec"))
    }),

    // --- MULTI-FEED backward as-of (feature-store read path) ----------------------
    // Two feature feeds (last tool event, last user-turn byte length)
    // merged onto assistant anchors point-in-time in ONE union + ONE
    // shuffle + ONE sort — k feeds without k as-of joins; both LOCF
    // carries share a single Window exec.
    "q_asof_multi" -> ((s, dir) => {
      val t = turns(s, dir)
      val anchors = t.filter(col("role") === "assistant")
        .select("conv_id", "turn_idx", "ts")
      val toolFeed = t.filter(col("tool").isNotNull)
        .groupBy(col("conv_id"), col("ts"))
        .agg(max_by(col("tool"), col("turn_idx")).as("name"))
      val userFeed = t.filter(col("role") === "user")
        .groupBy(col("conv_id"), col("ts"))
        .agg(max(octet_length(col("text"))).cast("long").as("len"))
      AsOf.joinBackwardMulti(anchors,
          Seq("tool" -> toolFeed, "user" -> userFeed), Seq("conv_id"))
        .select("conv_id", "turn_idx", "tool_name", "user_len")
    }),

    // --- FORWARD as-of join (label generation: earliest obs at ts >= anchor) ---
    // DEFAULT = the native sort-merge exec (≈2x the union-merge on this
    // query; same pairing as the backward default in Pipeline). The
    // portable union-merge formulation stays oracled as q_asof_fwd_union.
    "q_asof_forward" -> ((s, dir) => {
      val t = turns(s, dir)
      val anchors = t.filter(col("role") === "assistant")
        .select("conv_id", "turn_idx", "ts")
      val obs = t.filter(col("tool").isNotNull)
        .groupBy(col("conv_id"), col("ts"))
        .agg(max_by(col("tool"), col("turn_idx")).as("next_tool"))
      graft.features.AsOfNative.joinForward(anchors, obs, Seq("conv_id"))
        .select("conv_id", "turn_idx", "next_tool")
    }),

    // --- forward as-of, union-merge formulation (portable fallback) -------------
    "q_asof_fwd_union" -> ((s, dir) => {
      val t = turns(s, dir)
      val anchors = t.filter(col("role") === "assistant")
        .select("conv_id", "turn_idx", "ts")
      val obs = t.filter(col("tool").isNotNull)
        .groupBy(col("conv_id"), col("ts"))
        .agg(max_by(col("tool"), col("turn_idx")).as("next_tool"))
      AsOf.joinForward(anchors, obs, Seq("conv_id"))
        .select("conv_id", "turn_idx", "next_tool")
    }),

    // --- NATIVE forward as-of WITH TOLERANCE (backward exec over negated ts) ---
    // Distinct from q_asof_forward (the untolerated default): this row
    // exercises the forward tolerance window — an observation only
    // matches within 24 h after the anchor, at TRUE microsecond duration
    // (o.ts - a.ts <= 86 400 000 ms; see AsOfNative.joinForward's
    // scaladoc on the micros rescale). On this data the window matches
    // ~1/3 of anchors and NULLs the rest, so the oracle checks the
    // cutoff itself, not just the pairing.
    "q_asof_fwd_native" -> ((s, dir) => {
      val t = turns(s, dir)
      val anchors = t.filter(col("role") === "assistant")
        .select("conv_id", "turn_idx", "ts")
      val obs = t.filter(col("tool").isNotNull)
        .groupBy(col("conv_id"), col("ts"))
        .agg(max_by(col("tool"), col("turn_idx")).as("next_tool"))
      graft.features.AsOfNative.joinForward(anchors, obs, Seq("conv_id"),
          toleranceMs = Some(86400000L))
        .select("conv_id", "turn_idx", "next_tool")
    }),

    // --- native as-of join (custom LogicalPlan+Strategy+Exec) -----------------
    "q_asof_native" -> ((s, dir) => {
      val t = turns(s, dir)
      val anchors = t.filter(col("role") === "assistant")
        .select("conv_id", "turn_idx", "ts")
      val obs = t.filter(col("tool").isNotNull)
        .groupBy(col("conv_id"), col("ts"))
        .agg(max_by(col("tool"), col("turn_idx")).as("last_tool"))
      graft.features.AsOfNative.joinBackward(anchors, obs, Seq("conv_id"))
        .select("conv_id", "turn_idx", "last_tool")
    }),

    // --- leakage-free target encoding ---------------------------------------
    // Per-role strictly-past label stats (count + sum of text byte length):
    // the point-in-time form of target/mean encoding — same-instant ties
    // excluded on both sides, exact integer sufficient statistics so the
    // caller picks the smoothing. Two-phase (per-day chunks + carry), so a
    // dominant key parallelizes instead of serializing into one task.
    "q_target_encode" -> ((s, dir) =>
      graft.features.Encode.targetEncode(turns(s, dir), Seq("role"), "ts",
          octet_length(col("text")), chunkSeconds = 86400L)
        .select("conv_id", "turn_idx", "role", "enc_cnt", "enc_sum")),

    // --- deterministic group k-fold -----------------------------------------
    // fmix64-gate(conv) mod 5: every turn of a conversation lands in one
    // fold (group k-fold, zero cross-fold leakage), no stored randomness,
    // zero shuffles. The oracle replays the gate bit-exactly in UBIGINT.
    "q_fold_assign" -> ((s, dir) =>
      graft.features.Encode.foldAssign(turns(s, dir),
          col("conv_id").substr(lit(2), lit(24)).cast("long"), k = 5)
        .select("conv_id", "turn_idx", "fold")),

    // --- trailing-window DISTINCT count --------------------------------------
    // Distinct tools per conversation over the trailing hour — exact, via
    // +1/−1 last-occurrence intervals and a running sweep (no per-row
    // sets, no moving COUNT(DISTINCT) frame, O(1) state per conversation).
    "q_rolling_distinct" -> ((s, dir) =>
      graft.features.RollingDistinct.rollingDistinctByTime(turns(s, dir),
        partCols = Seq("conv_id"), tsCol = "ts", orderCols = Seq("turn_idx"),
        keyCol = "tool", windowSeconds = 3600L, idCols = Seq("turn_idx"),
        as = "n_tools_1h")),

    // --- exact per-group rank + equal-frequency buckets -----------------------
    // Each document's min-rank / group size / quartile bucket of its length
    // within its language — discretization as exact integers, computed by
    // the two-phase strictly-smaller count (no whole-group single-task sort).
    "q_quantile_bucket" -> ((s, dir) =>
      graft.features.Encode.rankInGroup(docs(s, dir), Seq("lang"), "n_chars",
          nBuckets = 4, valueChunk = 64L)
        .select("doc_id", "lang", "n_chars", "rnk", "n_group", "bucket")),

    // --- transcript → SFT text rendering ---------------------------------------
    // One training string per conversation, stable (ts, turn_idx) order,
    // byte-equal to the oracle's ordered string_agg — the serialize step
    // at the end of a chat-data pipeline.
    "q_render_sft" -> ((s, dir) =>
      graft.features.ConvFeatures.renderConversation(turns(s, dir))),

    // --- SFT loss-mask spans ----------------------------------------------------
    // Each turn's [start, end) character span inside q_render_sft's
    // training string + the assistant-only loss mask — computed from the
    // same sort by a running sum, no join back to the rendered text.
    "q_sft_spans" -> ((s, dir) =>
      graft.features.ConvFeatures.sftSpans(turns(s, dir))),

    // --- nearest as-of join ----------------------------------------------------
    // The closest tool event to each assistant turn in EITHER direction,
    // backward winning ties — one shuffle + one sort, both direction
    // frames in a single Window exec. 'asof_side' records the winner.
    "q_asof_nearest" -> ((s, dir) => {
      val t = turns(s, dir)
      val anchors = t.filter(col("role") === "assistant")
        .select("conv_id", "turn_idx", "ts")
      val obs = t.filter(col("tool").isNotNull)
        .groupBy(col("conv_id"), col("ts"))
        .agg(max_by(col("tool"), col("turn_idx")).as("near_tool"))
      graft.features.AsOf.joinNearest(anchors, obs, Seq("conv_id"))
        .select("conv_id", "turn_idx", "near_tool", "asof_side")
    }),

    // --- trailing time-range window ------------------------------------------
    "q_rolling_1h" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      Windows.rollingByTime(ev, Seq("user_id"), "ts", 3600L, Seq(
        (count(lit(1)), "n_1h"),
        (sum(round(col("value") * 100).cast("long")), "cents_1h")
      )).select("user_id", "event_id", "n_1h", "cents_1h")
    }),

    // --- rule profile over documents ------------------------------------------
    "q_rules_profile" -> ((s, dir) => {
      val spec = WarySpec(Seq(FieldSpec("text", rules = Seq(
        Length(VRule.LengthUnit.Chars, 50, 500),
        ContainsStr("data"),
        PrefixStr("the"),
        AsciiRule
      ))))
      WaryGate(docs(s, dir), spec).select(
        col("doc_id"),
        size(col("errors")).as("n_errors"),
        array_join(transform(col("errors"), e => e.getField("code")), ",")
          .as("codes")
      )
    }),

    // --- parser validators (constructed inputs, analytic oracle) -------------
    "q_validators" -> ((s, dir) => {
      import graft.exprs.{functions => gf}
      val m = md5(col("doc_id").cast("string").cast("binary"))
      val hyph = concat_ws("-",
        substring(m, 1, 8), substring(m, 9, 4), substring(m, 13, 4),
        substring(m, 17, 4), substring(m, 21, 12))
      docs(s, dir).select(
        col("doc_id"),
        (gf.validator_code(
          concat((col("doc_id") % 300).cast("string"), lit(".0.0.1")),
          "ipv4") === "").as("ip_ok"),
        (gf.validator_code(
          when(col("doc_id") % 3 === 0, concat(hyph, lit("x"))).otherwise(hyph),
          "uuid") === "").as("uuid_ok"),
        (gf.validator_code(
          when(col("doc_id") % 4 === 0, lit("user.name"))
            .otherwise(concat(lit("user"), col("doc_id").cast("string"),
              lit("@example.com"))),
          "email") === "").as("email_ok"),
        (gf.validator_code(
          when(col("doc_id") % 5 === 0, lit("nota url"))
            .otherwise(concat(lit("https://example.com/p"),
              col("doc_id").cast("string"))),
          "url") === "").as("url_ok"),
        (gf.validator_code(
          when(col("doc_id") % 7 === 0, lit("1.2"))
            .otherwise(concat(lit("1."), (col("doc_id") % 9).cast("string"),
              lit(".3"))),
          "semver") === "").as("semver_ok")
      )
    }),

    // --- exact dedup -------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir), "doc_id", "text")),

    // --- text quality ------------------------------------------------------
    "q_text_quality" -> ((s, dir) => {
      val cols = TextStats.qualityColumns(col("text"))
      docs(s, dir).select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),

    // --- token counting ----------------------------------------------------
    "q_token_count" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextStats.wsTokenCount(col("text")).as("ws_tokens"),
        TextStats.regexTokenCount(col("text")).as("re_tokens"))),

    // --- repetition quality signals (Gopher/RefinedWeb filter family) ----------
    // top-bigram fraction + duplicate-trigram fraction per document, in
    // basis points — the two numbers that catch boilerplate and
    // generation loops before any model-based scorer runs.
    "q_repetition" -> ((s, dir) =>
      TextStats.repetitionStats(docs(s, dir), "doc_id", "text")),

    // --- shard SINK roundtrip (write one file per shard dir, read back) --------
    // The materialization step a dataloader consumes: writeShards lays
    // out out/<lang>=…/shard_seq=…/one-parquet-file, and the readback
    // must carry exactly the same assignments as the in-plan packing —
    // the oracle is the same packing SQL as q_pack_shards, so this row
    // proves the SINK (partition pruning layout, partition-value type
    // roundtrip, one-task-per-shard routing) end-to-end.
    "q_write_shards" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_shards").toString
      graft.ops.Curation.writeShards(
        docs(s, dir), strataCol = "lang", orderCol = "doc_id",
        tokens = TextStats.regexTokenCount(col("text")),
        budgetTokens = 2000L, outDir = tmp)
      s.read.parquet(tmp)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("shard_seq").cast("long").as("shard_seq"))
    }),

    // --- JSONL shard sink roundtrip ----------------------------------------------
    // The dataloader-facing TEXT export: token-packed shards written as
    // {"id":…,"text":"…"} lines (serde_json escaping via the codegen'd
    // json_quote expression), one file per (lang, shard) dir, read back
    // and byte-matched against the oracle's to_json replay.
    "q_write_jsonl" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_jsonl").toString
      graft.io.JsonlSink.writeJsonlShards(
        docs(s, dir), idCol = "doc_id", textCol = "text",
        strataCol = "lang", budgetTokens = 2000L, outDir = tmp)
      graft.io.JsonlSink.readBack(s, tmp, "lang")
    }),

    // --- mixture interleave schedule ----------------------------------------------
    // Stride scheduling in closed form over the packed-shard MANIFEST:
    // the deterministic order a trainer consumes shards so each lang
    // appears with frequency ∝ its weight (en 40%, de 20%, rest 5%
    // each), smoothly and statelessly replayable.
    "q_interleave" -> ((s, dir) => {
      val manifest = graft.ops.Curation.packShards(
          docs(s, dir), strataCol = "lang", orderCol = "doc_id",
          tokens = TextStats.regexTokenCount(col("text")),
          budgetTokens = 2000L)
        .select("lang", "shard_seq").distinct()
      graft.ops.Curation.interleaveSchedule(manifest, "lang", "shard_seq",
        weightsBp = Map("en" -> 4000, "de" -> 2000), defaultBp = 500)
    }),

    // --- exact corpus distribution stats ----------------------------------------
    // Per-language doc-length percentiles by EXACT discrete rank selection
    // (value at ceil(q·n) in (value, doc_id) order) — integer-exact, so
    // unlike approx_percentile sketches or interpolating percentile
    // functions it sits under the byte-exact oracle.
    "q_corpus_stats" -> ((s, dir) =>
      graft.ops.Stats.exactGroupedQuantiles(
        docs(s, dir), "lang", col("n_chars"), "doc_id",
        Seq(5000, 9000, 9900))),

    // --- TOKEN-MASS-weighted quantiles -------------------------------------------------
    // Where does the training mass sit? p50/p90/p99 doc length per
    // language weighted by per-doc char mass — same two-phase geometry,
    // cumulative weights in decimal(38).
    "q_wquantile" -> ((s, dir) =>
      graft.ops.Stats.weightedGroupedQuantiles(
        docs(s, dir).filter(col("text").isNotNull),
        "lang", col("n_chars"), length(col("text")).cast("long"),
        Seq(5000, 9000, 9900))),

    // --- stratified mixture sampling (deterministic, no RNG state) -------------
    // Training-mix curation: keep 80% of en, 50% of zh, 25% of es, 10% of
    // de, 5% of everything else — decided per row by a codegen'd fmix64
    // gate on doc_id, so the sample is reproducible, nests across rates,
    // and the oracle replays the exact bit pattern (UBIGINT xor/shift +
    // HUGEINT mod-2^64 multiplies).
    "q_sample_mix" -> ((s, dir) => {
      val rates = Map("en" -> 8000, "zh" -> 5000, "es" -> 2500, "de" -> 1000)
      graft.ops.Curation.sampleStratified(
          docs(s, dir), "doc_id", "lang", rates, defaultBp = 500)
        .select(col("doc_id"), col("lang"),
          graft.ops.Curation.sampleGateBp(col("doc_id")).as("gate_bp"))
    }),

    // --- token-budget shard packing --------------------------------------------
    // Sequence packing for training shards: per-lang streams in doc_id
    // order, shard = floor(exclusive-cumsum(bpe-ish tokens) / 2000).
    // Straddling documents belong to the shard where they START (stated
    // overrun contract); strata parallelize the inherently-sequential
    // packing, which is the 100 TB shape.
    "q_pack_shards" -> ((s, dir) =>
      graft.ops.Curation.packShards(
          docs(s, dir), strataCol = "lang", orderCol = "doc_id",
          tokens = TextStats.regexTokenCount(col("text")),
          budgetTokens = 2000L)
        .select("doc_id", "lang", "n_tokens", "shard_seq")),

    // --- exact-boundary concat-and-chop packing --------------------------------
    // The OTHER pretraining layout: the per-lang token stream cut every
    // 2000 tokens with documents SPLITTING at boundaries — every shard
    // is exactly budget-sized, one output row per (doc, shard) piece
    // with both within-shard and within-document [start, end) offsets.
    // The oracle replays the running sum and expands each document's
    // shard range with generate_series.
    "q_pack_split" -> ((s, dir) =>
      graft.ops.Curation.packSplit(
          docs(s, dir), strataCol = "lang", orderCol = "doc_id",
          tokens = TextStats.regexTokenCount(col("text")),
          budgetTokens = 2000L)
        .select("doc_id", "lang", "n_tokens", "shard_seq", "piece_seq",
          "tok_start", "tok_end", "doc_tok_start", "doc_tok_end")),

    // --- curriculum ordering (two-phase global rank) ------------------------------
    // "Sort the corpus by difficulty, number it, cut it into equal
    // training phases" — the global row_number computed by the two-phase
    // chunked cumsum, so no single-task global-window sort ever runs.
    "q_curriculum" -> ((s, dir) =>
      graft.ops.Curation.globalRank(
          docs(s, dir).select("doc_id", "n_chars"),
          orderCol = "n_chars", tieCol = "doc_id", nPhases = 4,
          chunkSpan = 256L) // small span: multiple chunks under the oracle
        .select("doc_id", "n_chars", "global_rank", "phase")),

    // --- small-file compaction plan (layout maintenance) --------------------------
    // A file manifest (per-source ingest files of ~64 docs) packed into
    // rewrite groups of ~2k bytes IN LAYOUT ORDER — Iceberg-binpack
    // semantics: coalesce adjacent small files, never split or re-sort.
    "q_compact_plan" -> ((s, dir) => {
      val manifest = docs(s, dir)
        .groupBy(col("source"), floor(col("doc_id") / 64).as("file_seq"))
        .agg(sum(col("n_chars")).as("bytes"))
      graft.ops.Layout.compactionPlan(
        manifest, "source", "file_seq", "bytes", targetBytes = 2000L)
    }),

    // --- Bloom-manifest file skipping (equality predicates) -------------------------
    // The stats block min/max can't serve: per 64-doc bucket, the packed
    // Bloom words of its n_chars values ride the manifest; an equality
    // scan keeps only might-contain buckets (driver-side, catalog-sized
    // decision) then applies the exact predicate. Lossless by
    // no-false-negatives — the oracle is the PLAIN filter.
    "q_bloom_skip" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("bucket", floor(col("doc_id") / 64))
      val manifest = graft.ops.Layout.bloomBucketManifest(
        d, col("bucket"), col("n_chars"), nWords = 4, nHashes = 3)
      graft.ops.Layout.bloomPrunedEquality(
          d, col("bucket"), col("n_chars"), 300L, manifest,
          nWords = 4, nHashes = 3)
        .select("doc_id", "lang", "n_chars")
    }),

    // --- per-tool response-latency quantiles ----------------------------------------
    // Operator reuse end-to-end: FORWARD as-of from each tool event to
    // the next assistant turn in its conversation, exact integer-second
    // latency, then exact discrete p50/p90 per tool via the two-phase
    // rank selection. Events with no assistant turn after them are
    // excluded (stated, not hidden — they have no latency).
    "q_tool_latency" -> ((s, dir) => {
      val t = turns(s, dir)
      val anchors = t.filter(col("tool").isNotNull && col("ts").isNotNull)
        .select("conv_id", "turn_idx", "ts", "tool")
      val assist = t.filter(col("role") === "assistant" && col("ts").isNotNull)
        .select(col("conv_id"), col("ts"), col("ts").as("next_assist_ts"))
        .distinct()
      val lat = graft.features.AsOfNative.joinForward(
          anchors, assist, Seq("conv_id"))
        .filter(col("next_assist_ts").isNotNull)
        .withColumn("latency_sec",
          unix_timestamp(col("next_assist_ts")) - unix_timestamp(col("ts")))
      graft.ops.Stats.exactGroupedQuantiles(
        lat.select(col("tool"), col("latency_sec"), col("conv_id"),
          col("turn_idx")),
        "tool", col("latency_sec"), "turn_idx", Seq(5000, 9000))
    }),

    // --- small-file compaction EXECUTED (Iceberg binpack end-to-end) --------------
    // The q_compact_plan loop closed: docs staged as ~200 small files
    // under source=*/file_seq=*, a REAL driver-side file manifest (actual
    // on-disk bytes), packShards groups adjacent smalls under the byte
    // budget, and compactExec rewrites each group to ONE file in layout
    // order. The oracle is the ORIGINAL table projection — compaction
    // must not change one row; the file-count shrink and one-file-per-
    // group invariants are asserted in LayoutSpec.
    "q_compact_exec" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_compact").toString
      // the small-file fixture is a pure deterministic function of the
      // input dir, so stage it once PER JVM per dir and reuse (the bench
      // row then times the operator — manifest -> pack -> rewrite — not
      // a repeated fixture write). The cache is process-private (a fresh
      // temp dir registered in an in-memory map), NEVER a persistent
      // shared /tmp path: a path keyed on the dir name would silently
      // reuse stale data after the inputs or the fixture recipe change,
      // and two concurrent JVMs would race overwrites inside it.
      val small = compactFixtureCache.computeIfAbsent(dir, d => {
        val stage = java.nio.file.Files
          .createTempDirectory("graft_compact_fixture").toString + "/small"
        // ~8 docs per (lang, file) leaf: enough files that packing has
        // real work at every SF
        docs(s, d).withColumn("file_seq", floor(col("doc_id") / 64))
          // explicit count: keep the 200-leaf staging write parallel
          // (AQE would coalesce the keyless repartition to one task)
          .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
            col("lang"), col("file_seq"))
          .write.partitionBy("lang", "file_seq").mode("overwrite")
          .parquet(stage)
        stage
      })
      val out = s"$tmp/compacted"
      val manifest = graft.ops.Layout.fileManifest(s, small, "lang", "file_seq")
      val assigned = graft.ops.Curation.packShards(
          manifest, "lang", "file_seq", col("bytes"),
          budgetTokens = 16384L)
        .select(col("lang"), col("file_seq"),
          col("shard_seq").as("group_seq"))
      graft.ops.Layout.compactExec(
        s.read.parquet(small), assigned,
        "lang", "file_seq", "doc_id", out)
      s.read.parquet(out).select("doc_id", "lang", "n_chars", "source")
    }),

    // --- length-bucketed dataloader batches (padding-waste accounting) ------------
    // Dynamic batching: searchsorted pow-ish buckets, batches of 32 in
    // doc_id order within each bucket (two-phase rank), one summary row
    // per batch with the exact padded-token overhead.
    "q_batch_pack" -> ((s, dir) =>
      graft.ops.Curation.batchByLength(
        docs(s, dir).select("doc_id", "n_chars"), "doc_id", col("n_chars"),
        batchSize = 32, bucketEdges = Seq(64L, 256L, 1024L, 4096L))),

    // --- ingest-volume anomaly gate ------------------------------------------------
    // Per (role, hour) turn counts vs a trailing-24-observed-buckets
    // baseline; spike = n > 2x trailing mean, cross-multiplied exact.
    "q_ingest_anomaly" -> ((s, dir) =>
      graft.ops.Analytics.volumeAnomaly(
        turns(s, dir).filter(col("ts").isNotNull), "role", "ts",
        bucketSeconds = 3600L, trailing = 24, factor = 2L)),

    // --- packed-pretraining attention-mask offsets ---------------------------------
    // packShards plus each document's [tok_start, tok_end) within its
    // shard — the boundary table a trainer needs to zero cross-document
    // attention in concatenated sequences.
    "q_pack_offsets" -> ((s, dir) =>
      graft.ops.Curation.packOffsets(
          docs(s, dir), strataCol = "lang", orderCol = "doc_id",
          tokens = TextStats.regexTokenCount(col("text")),
          budgetTokens = 2000L)
        .select("doc_id", "lang", "n_tokens", "shard_seq",
          "tok_start", "tok_end")),

    // --- quality-cutoff threshold sweep ---------------------------------------------
    // Exact confusion table of `score >= thr` at five thresholds in one
    // Expand pass — the table behind "where do we set the quality bar".
    "q_threshold_sweep" -> ((s, dir) =>
      graft.ops.Analytics.thresholdSweep(
        docs(s, dir), col("n_chars"), col("lang") === "en",
        Seq(100L, 200L, 400L, 800L, 1600L))),

    // --- exact per-segment ROC-AUC --------------------------------------------------
    // Scorer evaluation without sampling or a global sort: average-rank
    // AUC as the exact integer pair (auc_num, auc_den); the distinct-
    // score prefix sum runs two-phase so a dominant segment never
    // serializes.
    "q_auc" -> ((s, dir) =>
      graft.ops.Analytics.aucExact(
        Tables.read(s, dir, "events"),
        col("user_id") % 8, col("value"),
        col("event_type").isin("click", "purchase"),
        chunkSpan = 16.0)),

    // --- calibration (reliability-diagram) bins --------------------------------------
    // Per-bin count / positives / exact bp score mass; out-of-range
    // scores clamp into the edge bins.
    "q_calibration" -> ((s, dir) =>
      graft.ops.Analytics.calibrationBins(
        Tables.read(s, dir, "events"),
        col("value"), col("event_type").isin("click", "purchase"),
        nBins = 10, lo = 0.0, hi = 100.0)),

    // --- EXACT isotonic calibration over the reliability bins -----------------------
    // PAV on calibrationBins output, reduced rationals out. The oracle
    // does NOT replay the pooling loop — it recomputes the fit through
    // the independent minimax identity max_{j<=i} min_{k>=i} avg(j..k)
    // (exact-fraction min/max via all-pairs cross-multiplied
    // comparisons), so the two formulations check each other. The label
    // is score-dependent WITH a deliberate dip in bin 6 (the natural
    // event labels are flat in value, which would collapse the fit to
    // one pool and exercise nothing): bins 0-2 rate 0, 3-5 rate 1,
    // 6 rate 0, 7-9 rate 1 — PAV must pool the dip backwards.
    "q_iso_calibrate" -> ((s, dir) =>
      graft.ops.Analytics.isotonicCalibrate(
        graft.ops.Analytics.calibrationBins(
          Tables.read(s, dir, "events"),
          col("value"),
          col("value") >= 30 && !(col("value") >= 60 && col("value") < 70),
          nBins = 10, lo = 0.0, hi = 100.0))),

    // --- DPO preference pairs --------------------------------------------------------
    // Best-vs-worst assistant turn per conversation by a deterministic
    // integer score (char length as the stand-in scorer); equal-score
    // conversations emit nothing. One struct-min/max partial agg.
    "q_pref_pairs" -> ((s, dir) =>
      graft.features.ExampleFactory.preferencePairs(
        turns(s, dir), length(col("text")))),

    // --- Bradley–Terry rating sufficient statistics -----------------------------
    // q_pref_pairs EMITS comparisons; this builds the rating model's
    // table from a comparison stream (the q_kn_stats-to-q_lm_surprisal
    // relationship). Stream: per conversation with ≥2 tool invocations,
    // the LAST-invoked tool beats the FIRST (the tool that closed the
    // conversation vs the one that couldn't) — deterministic on
    // (ts, turn_idx); same-tool and single-invocation conversations
    // carry no signal and are excluded by the op.
    "q_bt_stats" -> ((s, dir) => {
      val t = turns(s, dir).filter(col("tool").isNotNull)
      val cmp = t.groupBy(col("conv_id"))
        .agg(
          max(struct(col("ts"), col("turn_idx"), col("tool"))).as("__last"),
          min(struct(col("ts"), col("turn_idx"), col("tool"))).as("__first"))
        .select(col("__last.tool").as("winner"),
          col("__first.tool").as("loser"))
      graft.ops.Preference.bradleyTerryStats(cmp, "winner", "loser")
    }),

    // --- unbiased pass@k sufficient statistics (exact rationals) -----------------
    // Task = conversation, sample = assistant turn, "correct" = non-null
    // response (the transcript derivation nulls low-value payloads).
    // pass@2 = 1 − fail_num/fail_den with both sides exact falling
    // factorials; conversations with < 2 assistant turns are excluded
    // (the estimator is undefined, not zero, there).
    "q_pass_at_k" -> ((s, dir) =>
      graft.ops.Analytics.passAtK(
        turns(s, dir).filter(col("role") === "assistant"),
        "conv_id", col("text").isNotNull, k = 2)),

    // --- strictly-ordered funnel ------------------------------------------------------
    // view → click → purchase where each stage only counts events after
    // the user's earliest valid previous-stage event.
    "q_funnel" -> ((s, dir) =>
      graft.ops.Analytics.funnel(
        Tables.read(s, dir, "events"), "user_id", "ts",
        Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))),

    // --- cohort retention matrix ------------------------------------------------------
    // Users bucketed by first-seen week; per (cohort, offset) active
    // counts in engine-stable integer buckets.
    "q_cohort" -> ((s, dir) =>
      graft.ops.Analytics.cohortRetention(
        Tables.read(s, dir, "events"), "user_id", "ts", 604800L)),

    // --- language id (marker heuristic) --------------------------------------
    // --- TRAINED hashed-ngram Naive Bayes classifier (train + infer in-pipeline) ----
    // The model-based upgrade over q_lang_id's fixed marker lists: the
    // classifier's weights come from the corpus's own labels, and both
    // training and inference are exact-integer (bitlen log2), so the
    // oracle replays the whole train→predict round trip. Texts are
    // decorated in-query with per-lang marker phrases (the q_script_mix
    // pattern — the synthetic corpus shares one vocabulary across
    // langs, so undecorated labels carry no signal to learn).
    "q_nb_classify" -> ((s, dir) => {
      val marker = when(col("lang") === "de",
          lit(" zwischen durch nicht schon"))
        .when(col("lang") === "es", lit(" corazon manana senor nino"))
        .when(col("lang") === "fr", lit(" toujours beaucoup chateau"))
        .when(col("lang") === "zh", lit(" zhongwen pinyin hanzi shu"))
        .otherwise(lit(" the quick brown fox jumps"))
      val d = docs(s, dir).withColumn("__t",
        concat(col("text"), repeat(marker, 6)))
      val model = graft.ops.NaiveBayes.nbTrain(d, "lang", col("__t"))
      graft.ops.NaiveBayes.nbPredict(d, "doc_id", col("__t"), model)
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("predicted"), col("score"),
          (col("predicted") === col("lang")).as("ok"))
    }),

    // --- k-fold CROSS-VALIDATION of the trained classifier, one pass ----------------
    // q_nb_classify's fixture, but every document scored OUT-OF-FOLD:
    // leave-fold-out counts are algebra (cnt_all − cnt_fold), so all
    // four fold models come from ONE cell aggregation — no retraining
    // loop — and the leakage-free accuracy lands under the oracle.
    "q_nb_crossval" -> ((s, dir) => {
      val marker = when(col("lang") === "de",
          lit(" zwischen durch nicht schon"))
        .when(col("lang") === "es", lit(" corazon manana senor nino"))
        .when(col("lang") === "fr", lit(" toujours beaucoup chateau"))
        .when(col("lang") === "zh", lit(" zhongwen pinyin hanzi shu"))
        .otherwise(lit(" the quick brown fox jumps"))
      val d = docs(s, dir).withColumn("__t",
        concat(col("text"), repeat(marker, 6)))
      graft.ops.NaiveBayes.nbCrossVal(d, "lang", col("__t"), "doc_id",
        k = 4)
    }),

    "q_lang_id" -> ((s, dir) => {
      val langs = Seq(
        "en" -> Seq("the", "a"),
        "db" -> Seq("data", "table", "row"),
        "qy" -> Seq("query", "join", "scan"))
      docs(s, dir).select(
        col("doc_id"),
        TextStats.langScore(col("text"), langs(0)._2).as("s_en"),
        TextStats.langScore(col("text"), langs(1)._2).as("s_db"),
        TextStats.langScore(col("text"), langs(2)._2).as("s_qy"),
        TextStats.langId(col("text"), langs).as("lang_pred"))
    }),

    // --- Unicode script mix (lang-id prior / homoglyph-spam signal) --------------
    // Docs are decorated in-query so every script class fires: zh docs
    // get Han, every 9th doc Cyrillic, the rest extra Latin + digits.
    // Codepoint-RANGE classes only — engine-version-independent.
    "q_script_mix" -> ((s, dir) => {
      val decorated = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("lang") === "zh", lit(" 中文测试样本"))
            .when(col("doc_id") % 9 === 0, lit(" русский об"))
            .otherwise(lit(" plain 42"))).as("text"))
      graft.ops.TextStats.scriptMix(decorated, "doc_id", col("text"))
    }),

    // --- document fingerprint -------------------------------------------------
    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))),

    // --- rolling-hash fingerprint (polynomial over codepoints, mod 1e9+7) ------
    "q_rolling_fp" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.rollingFingerprint(col("text")).as("rfp"))),

    // --- WINNOWING fingerprints (MOSS local fingerprinting) ----------------------
    // Width-4 windows over 3-word-shingle hashes, min per window with
    // rightmost ties — any shared run of >= w+k-1 = 6 words between two
    // docs is GUARANTEED to share a fingerprint (substring-granularity
    // matching that doc-level minhash can't localize).
    "q_winnow_fp" -> ((s, dir) =>
      Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text",
        k = 3, w = 4)),

    // --- MinHash LSH near-dup candidate pairs ---------------------------------
    "q_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(docs(s, dir), "doc_id", "text")),

    // --- n-gram (word-set) Jaccard --------------------------------------------
    "q_ngram_jaccard" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .filter(col("a") % 10 === 0)
      Dedup.wordJaccard(pairs, d, "doc_id", "text")
    }),

    // --- benchmark decontamination (n-gram overlap vs probe set) ---------------
    // Probes simulate leaked benchmark items: the first 150 chars of every
    // 97th document. A probe's shingles are (near-)all present in its
    // source document, so each probe flags its source at ~10000 bp while
    // unrelated documents stay below the 5000 bp gate. Hot shingles
    // (df > 100) are excluded from matching, mirroring the LSH bucket cap.
    "q_decontam" -> ((s, dir) => {
      val d = docs(s, dir)
      val probes = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("probe_id"),
          substring(col("text"), 1, 150).as("text"))
      graft.ops.Decontam.ngramOverlap(d, probes, "doc_id", "probe_id",
        "text", k = 3, minContamBp = 5000, maxShingleDf = 100)
    }),

    // --- maximal CONTIGUOUS contaminated runs (longest-overlap criterion) -------
    // Same probe suite as q_decontam, but POSITIONAL: word positions
    // whose 3-shingle appears anywhere in the suite, merged into maximal
    // runs per doc (the contiguous-n-gram-overlap check; 50 scattered
    // shared shingles vs one verbatim quote are different problems).
    // The probe docs themselves must report their 150-byte prefix as one
    // long run; runs of a single shingle are screened (minRunShingles=2).
    "q_decontam_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      val probes = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("probe_id"),
          substring(col("text"), 1, 150).as("text"))
      graft.ops.Decontam.contamSpans(d, probes, "doc_id", "text",
        k = 3, minRunShingles = 2, maxShingleDf = 100)
    }),

    // --- MEMORIZATION audit (per-probe corpus-derived fraction) --------------------
    // ngramOverlap turned around: per "generation", how much of its
    // text appears anywhere in the corpus. Probes synthesized in-query:
    // every 89th doc's 100-char prefix + a novel suffix (partial
    // memorization) and pure-novel word soup per 178th doc (must report
    // 0, not vanish).
    "q_memorization" -> ((s, dir) => {
      val d = docs(s, dir)
      val partial = d.filter(col("doc_id") % 89 === 0)
        .select(col("doc_id").as("probe_id"),
          concat(substring(col("text"), 1, 100),
            lit(" zq1 zq2 zq3 zq4 zq5")).as("text"))
      val novel = d.filter(col("doc_id") % 178 === 0)
        .select((-col("doc_id") - 1).as("probe_id"),
          concat_ws(" ",
            concat(lit("zzqa"), col("doc_id").cast("string")),
            concat(lit("zzqb"), col("doc_id").cast("string")),
            concat(lit("zzqc"), col("doc_id").cast("string")),
            concat(lit("zzqd"), col("doc_id").cast("string"))).as("text"))
      graft.ops.Decontam.memorizationScore(
        d, partial.unionAll(novel), "probe_id", "text", k = 3)
    }),

    // --- composed corpus cleaning (dedup + quality + language gates) ----------
    "q_corpus_clean" -> ((s, dir) =>
      graft.ops.CorpusClean(docs(s, dir))
        .select("doc_id", "n_chars_q", "n_words", "lang_pred")),

    // --- END-TO-END curation pipeline under ONE oracle --------------------------
    // The actual 100 TB training-data job as one declarative DAG:
    // quality+dedup gates (CorpusClean) → decontamination anti-join
    // (documents flagged ≥ 50% vs the leaked-snippet probe set are
    // DROPPED) → stratified mixture sampling on the real lang column →
    // token-budget shard packing over the survivors. Every stage is an
    // already-oracled operator; this row proves they COMPOSE — Catalyst
    // fuses the whole thing into one plan, and the oracle replays all
    // four stages in sequence.
    "q_corpus_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      val cleaned = graft.ops.CorpusClean(d)
      val probes = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("probe_id"),
          substring(col("text"), 1, 150).as("text"))
      val flagged = graft.ops.Decontam.ngramOverlap(d, probes,
          "doc_id", "probe_id", "text", k = 3,
          minContamBp = 5000, maxShingleDf = 100)
        .select("doc_id").distinct()
      val decon = cleaned.join(flagged, Seq("doc_id"), "left_anti")
      val sampled = graft.ops.Curation.sampleStratified(decon, "doc_id",
        "lang", Map("en" -> 8000, "zh" -> 5000, "es" -> 2500, "de" -> 1000),
        defaultBp = 500)
      graft.ops.Curation.packShards(sampled, strataCol = "lang",
          orderCol = "doc_id",
          tokens = TextStats.regexTokenCount(col("text")),
          budgetTokens = 2000L)
        .select("doc_id", "lang", "n_tokens", "shard_seq")
    }),

    // --- enum (sum-type) gate: each turn encoded as a tagged union of a
    // "msg" variant (user/assistant: text rules) and a "sys" variant
    // (system/tool: tool required) — per-variant rules fire only for the
    // active variant (EnumGate, match-arm semantics).
    "q_enum_gate" -> ((s, dir) => {
      val t = turns(s, dir)
      val tagged = t.select(
        col("conv_id"), col("turn_idx"),
        when(col("role").isin("user", "assistant"), "msg")
          .otherwise("sys").as("tag"),
        struct(col("text"), col("turn_idx").as("idx")).as("msg"),
        struct(col("tool")).as("sys"))
      val specMsg = WarySpec(Seq(
        FieldSpec("text", rules = Seq(Required(), Length(min = 1, max = 4000))),
        FieldSpec("idx", rules = Seq(Range(min = Some(0))))))
      val specSys = WarySpec(Seq(FieldSpec("tool", rules = Seq(Required()))))
      tagged
        .withColumn("errors", graft.compile.EnumGate.errorsColumn(
          tagged, "tag",
          Seq(graft.compile.EnumGate.Variant("msg", "msg", specMsg),
            graft.compile.EnumGate.Variant("sys", "sys", specSys))))
        .select(col("conv_id"), col("turn_idx"), col("tag"),
          size(col("errors")).as("n_errors"),
          get(col("errors"), lit(0)).getField("code").as("first_code"))
    }),

    // --- token-level PII scrub (emails / IPv4s / long numbers -> typed
    // placeholders + audit count). Text is salted with deterministic PII
    // tokens so every branch appears in the output.
    "q_pii_scrub" -> ((s, dir) => {
      val d = docs(s, dir).withColumn(
        "t",
        concat(col("text"), lit(" "),
          piiSaltCol))
      d.select(
        col("doc_id"),
        TextStats.scrubPii(col("t")).as("text_scrubbed"),
        TextStats.piiTokenCount(col("t")).as("n_pii"))
    }),

    // --- PII SPAN index: [start, end) byte offsets + kind ------------------------
    // The audit artifact behind the scrub: WHERE each redaction sat in
    // the unmodified text, as engine-stable BYTE offsets (char offsets
    // drift between UTF-8 and UTF-16 engines past any non-ASCII char).
    // Same salted fixture and byte-identical classification rules as
    // q_pii_scrub; one scan-fused expression + a hit-sized explode.
    "q_pii_spans" -> ((s, dir) => {
      val d = docs(s, dir).withColumn(
        "t",
        concat(col("text"), lit(" "),
          piiSaltCol))
      d.select(col("doc_id"), explode(TextStats.piiSpans(col("t"))).as("sp"))
        .select(col("doc_id"), col("sp.start").as("start"),
          col("sp.end").as("end"), col("sp.kind").as("kind"))
    }),

    // --- consistent key pseudonymization ------------------------------------------
    // Release-time surrogate keys: salted md5 pseudonyms that preserve
    // joinability/grouping within a release while rotating across
    // releases. Zero-shuffle scan projection.
    "q_pseudonymize" -> ((s, dir) =>
      graft.ops.Privacy.pseudonymizeKeys(
        turns(s, dir).select(col("conv_id"), col("turn_idx"), col("role")),
        Seq("conv_id"), salt = "rel-2026-08")),

    // --- k-anonymity suppression ---------------------------------------------------
    // Keep only rows whose (lang, source) quasi-identifier combo occurs
    // in >= 4 documents; near-unique combos re-identify even with ids
    // pseudonymized. One quasi-keyed agg + the same-keyed join back.
    "q_kanon" -> ((s, dir) =>
      graft.ops.Privacy.kAnonFilter(
        docs(s, dir).select("doc_id", "lang", "source"),
        Seq("lang", "source"), k = 4L)),

    // --- snapshot diff (dataset-version audit) --------------------------------------
    // v2 is synthesized in-query: every 7th doc removed, every 5th text
    // edited, a 'new' doc added per 11th id — the diff must label each
    // id added/removed/changed/unchanged by content digest.
    "q_snapshot_diff" -> ((s, dir) => {
      val v1 = docs(s, dir).select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(v1.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new "), col("text")).as("text")))
      graft.ops.Snapshot.diffSnapshots(v1, v2, "doc_id", md5(col("text")))
    }),

    // --- SCD-2 dimension history (two-phase lead) -------------------------------
    // The feature store's dimension-history build: each conversation's
    // tool-change feed becomes validity intervals [ts, next change's ts)
    // — the table the as-of join conceptually reads. The lead is
    // two-phase (hour chunks + chunk-head carry), so a mega-conversation
    // never single-task sorts.
    "q_scd2" -> ((s, dir) =>
      graft.features.Scd2.validIntervals(
          turns(s, dir).filter(col("tool").isNotNull)
            .select(col("conv_id"), col("turn_idx"), col("ts"), col("tool")),
          keyCol = "conv_id", tsCol = "ts", tieCol = "turn_idx",
          chunkSpanSec = 3600L)
        .select(col("conv_id"), col("turn_idx"), col("tool"),
          col("ts").as("valid_from"), col("valid_to"), col("is_current"))),

    // --- SCD-2 point-in-time READ (the feature-store read path) ------------------
    // The other half of q_scd2: an anchor joined to the ONE validity
    // interval containing its event time — conv_id equi key + range
    // refinement, SortMergeJoin not BroadcastNestedLoopJoin, ≤ 1 match
    // per anchor by construction (intervals partition each key's
    // timeline; empty [ts, ts) intervals from equal-ts changes match
    // nothing). The oracle is the BACKWARD AS-OF — reading the interval
    // table point-in-time must equal as-of joining the change feed.
    "q_scd2_read" -> ((s, dir) => {
      val t = turns(s, dir)
      val intervals = graft.features.Scd2.validIntervals(
          t.filter(col("tool").isNotNull && col("ts").isNotNull)
            .select(col("conv_id"), col("turn_idx"), col("ts"), col("tool")),
          keyCol = "conv_id", tsCol = "ts", tieCol = "turn_idx",
          chunkSpanSec = 3600L)
        .select(col("conv_id").as("dim_conv"), col("tool"),
          col("ts").as("valid_from"), col("valid_to"))
      val anchors = t.filter(col("role") === "assistant" && col("ts").isNotNull)
        .select("conv_id", "turn_idx", "ts")
      anchors.join(intervals,
          col("conv_id") === col("dim_conv") &&
            col("valid_from") <= col("ts") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")),
          "left")
        .select(col("conv_id"), col("turn_idx"),
          col("tool").as("tool_pit"), col("valid_from").as("since_ts"))
    }),

    // --- CDC latest-wins merge (Iceberg MERGE INTO semantics) --------------------
    // Apply a delta of upserts/deletes to a standing table: standing =
    // merge(∅, first-half feed), then merge(standing, second-half delta
    // with error events as deletes) — the oracle computes latest over the
    // FULL feed in one pass, asserting the merge's associativity.
    "q_cdc_merge" -> ((s, dir) => {
      val feed = Tables.read(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"),
          when(col("event_type") === "error" &&
              col("ts") >= lit("2024-01-16").cast("timestamp"), "d")
            .otherwise("u").as("op"))
      val cutoff = col("ts") < lit("2024-01-16").cast("timestamp")
      val standing = graft.ops.Snapshot.cdcMergeLatest(
        feed.limit(0), feed.filter(cutoff),
        keyCol = "user_id", versionCols = Seq("ts", "event_id"))
      graft.ops.Snapshot.cdcMergeLatest(
        standing, feed.filter(!cutoff),
        keyCol = "user_id", versionCols = Seq("ts", "event_id"))
    }),

    // --- SimHash fingerprint (custom expression; Scala-oracled) ---------------
    "q_simhash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), SimHash64(col("text")).as("sh"))),

    // --- salted two-phase aggregation (explicit skew handling) -----------------
    // Mega-key-immune per-conversation rollup: each key is spread over 16
    // salted partial aggregates and recombined. The WHOLE POINT is that the
    // result equals a plain GROUP BY exactly — which is what the DuckDB
    // oracle asserts.
    "q_salted_agg" -> ((s, dir) => {
      val t = turns(s, dir).withColumn(
        "txt_bytes", coalesce(octet_length(col("text")).cast("long"), lit(0L)))
      graft.features.Skew.saltedCountSum(t, Seq("conv_id"), "txt_bytes",
        salts = 16)
    }),

    // --- pipeline over the BUCKETED layout (layout must not change results) ----
    // Full flagship feature set computed off Bucketed.writeTranscript
    // (hash-clustered + sorted by conv_id — the shuffle-elimination layer);
    // the oracle is the plain-layout pipeline semantics, proving the
    // physical layout is results-invisible.
    "q_bucketed_pipeline" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_bucketed").toString
      graft.io.Bucketed.writeTranscript(
        turns(s, dir), "verify_turns_bucketed", tmp, 16)
      Pipeline
        .featuresFromTurns(graft.io.Bucketed.read(s, "verify_turns_bucketed"))
        .select(col("conv_id"), col("turn_idx"), col("text").as("text_norm"),
          col("n_errors"), col("prev_text"), col("tool_state"),
          col("n_tool_calls"), col("session_seq"), col("last_tool"))
    }),

    // --- brute-force ANN top-k (quantized inner product) -----------------------
    "q_ann_topk" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.topKByDot(e, q, 10, excludeSelf = true)
        .select("query_id", "vec_id", "dot", "rank")
    }),

    // --- hard-negative mining (retrieval training) ------------------------------
    // Per query: drop self and presumed positives (exact cosine ≥ 0.95 via
    // the decimal predicate), skip the 2 closest survivors, emit the next
    // 10 as neg_rank 1..10 — the "hard but not false" negative band.
    "q_hard_negatives" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.hardNegatives(e, q, k = 10, skipTop = 2,
        maxCosineBp = 9500)
    }),

    // --- contrastive TRIPLET mining ----------------------------------------------
    // The training-example factory for embedding models: per anchor, the
    // best presumed positive (exact cosine ≥ 0.35 — the band this
    // synthetic corpus actually populates) + the best hard negative
    // below the band after skipping 2; anchors with no positive emit
    // nothing. One decimal(38) predicate decides both bands, so a
    // vector can never appear on both sides of its own triplet.
    "q_triplets" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.tripletMine(e, q, posMinCosineBp = 3500, skipTop = 2)
    }),

    // --- LSH-bucketed ANN candidates (scale path; Scala-oracled) ---------------
    "q_ann_lsh" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.annCandidates(e, q, dim = 64, nBits = 8, excludeSelf = true)
    }),

    // --- MULTI-PROBE LSH ANN (recall lever: full Hamming-1 ball) ----------------
    // Same corpus/queries/bits as q_ann_lsh but each query also probes all
    // 8 Hamming-1 neighbor buckets — the oracle replays the identical
    // neighbor expansion, and its row count vs q_ann_lsh IS the measured
    // recall gain at equal nBits (the multi-probe contract).
    "q_ann_lsh_mp" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.annCandidates(e, q, dim = 64, nBits = 8, probes = 8, excludeSelf = true)
    }),

    // --- ANN recall@k: multi-probe LSH measured against exact truth -------------
    // The recall AUDIT an approximate index ships with: per query,
    // |top-10(multi-probe candidates) ∩ top-10(exact)| in basis points.
    // The oracle recomputes BOTH sides (brute-force ranking and the full
    // splitmix LSH + Hamming-1 expansion) and the intersection in SQL.
    "q_ann_recall" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val truth = Similarity.topKByDot(e, q, 10, excludeSelf = true)
        .select("query_id", "vec_id", "dot")
      val cand = Similarity.annCandidates(e, q, dim = 64, nBits = 8, probes = 8, excludeSelf = true)
      Similarity.recallAtK(cand, truth, 10)
    }),

    // --- ANN recall@k for the IVF index (same audit, the other index) ----------
    // recall@10 of IVF-flat candidates at nProbe=2 vs exact truth — the
    // number that tells an operator whether to raise nProbe before
    // shipping the index. Oracle replays assignment, probe ranking,
    // re-rank, both top-10s, and the intersection.
    "q_ann_recall_ivf" -> ((s, dir) => {
      val e = embeds(s, dir)
      val cents = Similarity.ivfCentroids(e, step = 100L)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val truth = Similarity.topKByDot(e, q, 10, excludeSelf = true)
        .select("query_id", "vec_id", "dot")
      val cand = Similarity.annIvf(e, q, cents, nProbe = 2, excludeSelf = true)
      Similarity.recallAtK(cand, truth, 10)
    }),

    // --- IVF-flat ANN candidates (inverted-list scale path) ---------------------
    // Centroids are a deterministic sample of corpus vectors; assignment
    // is a zero-shuffle per-row argmax over exact quantized dots, probing
    // the query's 2 nearest lists. The oracle replays the identical
    // integer math (assignment, probe ranking, re-rank) in SQL.
    "q_ann_ivf" -> ((s, dir) => {
      val e = embeds(s, dir)
      val cents = Similarity.ivfCentroids(e, step = 100L)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.annIvf(e, q, cents, nProbe = 2, excludeSelf = true)
    }),

    // --- product-quantization encode (embedding compression at 100 TB) -----------
    // Each 64-dim vector becomes 4 codes (one per 16-dim subspace):
    // argmin exact quantized squared L2 against 8 sampled centroids,
    // ties to the smaller code — a 64x cut of the float payload that ADC
    // can still search. One reference-object expression (plan O(1) in
    // m·k), zero shuffles. The oracle replays quantization, subspace
    // slicing, the integer distances, and the (dist, code) tie rule.
    "q_pq_encode" -> ((s, dir) => {
      val e = embeds(s, dir)
      val books = Similarity.pqBooks(e, m = 4, k = 8)
      e.select(col("vec_id"),
        posexplode(Similarity.pqEncode(col("embedding"), books))
          .as(Seq("subspace", "code")))
    }),

    // --- PQ asymmetric-distance search (ADC) -------------------------------------
    // Per query: top-10 coded corpus vectors by exact-int ADC distance —
    // m table lookups + m adds per row, the scan shape a PQ index runs
    // at 10^12 vectors (codes stream; the query never meets a float
    // vector). ONE corpus pass serves all queries (per-query distance
    // tables are literal arrays); ties break by vec_id. The oracle
    // recomputes codes AND tables in SQL and replays the ranking.
    "q_pq_adc" -> ((s, dir) => {
      val e = embeds(s, dir)
      val books = Similarity.pqBooks(e, m = 4, k = 8)
      val coded = e.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), books).as("codes"))
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
      val adcCols = queries.map { r =>
        struct(lit(r.getLong(0)).as("query_id"),
          Similarity.pqAdcDist(col("codes"), r.getSeq[Float](1), books)
            .as("adc"))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("adc").asc, col("vec_id").asc)
      coded
        .select(col("vec_id"), explode(array(adcCols.toSeq: _*)).as("qa"))
        .select(col("qa.query_id").as("query_id"), col("vec_id"),
          col("qa.adc").as("adc"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
    }),

    // --- embedding-cosine near-duplicate pairs ----------------------------------
    "q_embed_dup" -> ((s, dir) =>
      Similarity.nearDupPairs(
        embeds(s, dir).filter(col("vec_id") % 5 === 0), minDot = 30000000L)),

    // --- STREAMING sessionize under the batch oracle ---------------------------
    // The stateful streaming path (flatMapGroupsWithState, event-time
    // timeouts) replayed over the batch transcript as an in-order stream:
    // 4 micro-batches in global ts order, then two far-future sentinel
    // events whose only job is to advance the watermark (it updates
    // BETWEEN batches) so every open tail session flushes via timeout.
    // The oracle is the plain BATCH sessionization SQL — the hard signal
    // that stream and batch agree row-for-row.
    "q_stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.TurnEvent
      implicit val sqlCtx = s.sqlContext
      val rows = turns(s, dir)
        .select($"conv_id", $"turn_idx", $"role", $"ts")
        .as[TurnEvent].collect()
        .sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
      val maxTs = rows.iterator.map(_.ts.getTime).max
      val input = MemoryStream[TurnEvent]
      val name = freshStreamView(s, "stream_sessions_")
      val q = withReplayPartitions(s)(
        StreamingFeatures.sessionize(input.toDS(), gapSeconds = 1800L)
          .writeStream.outputMode("append").format("memory")
          .queryName(name).start())
      try {
        val chunk = math.max(1, (rows.length + 2) / 3)
        rows.grouped(chunk).foreach { g =>
          input.addData(g.toSeq); q.processAllAvailable()
        }
        // gap + watermark + margin, twice (watermark lags one batch)
        val step = (1800L + 600L + 10L) * 1000L
        input.addData(TurnEvent("__wm__", 0, "user",
          new java.sql.Timestamp(maxTs + step)))
        q.processAllAvailable()
        input.addData(TurnEvent("__wm__", 1, "user",
          new java.sql.Timestamp(maxTs + 2 * step)))
        q.processAllAvailable()
      } finally q.stop()
      s.table(name).filter($"conv_id" =!= "__wm__")
        .select("conv_id", "session_seq", "n_turns", "session_start",
          "session_end")
    }),

    // --- STREAMING sessionize over a FILE SOURCE (no driver materialization) ---
    // The same stateful operator driven the way production would run it:
    // the transcript is staged as mtime-ordered parquet files (each chunk
    // a distributed write — no row ever crosses the driver), consumed via
    // readStream + maxFilesPerTrigger=1 under Trigger.AvailableNow, with 8
    // state partitions and conversations interleaved across every batch
    // (global ts-order chunking = maximal cross-batch key interleaving).
    // Two far-future sentinel FILES flush tail sessions via event-time
    // timeout, exactly as in the MemoryStream twin. Oracle = batch SQL.
    "q_stream_sessionize_files" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.TurnEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamfiles").toString
      val watched = s"$tmp/watched"
      val t = turns(s, dir).select($"conv_id", $"turn_idx", $"role", $"ts")
      // chunk by GLOBAL event-time order so each conversation's turns stay
      // ts-ordered across batches (the operator's cross-batch contract);
      // the single-partition sort is replay-harness-only, like any replay
      // coordinator — production streams arrive already time-ordered
      val chunks = new ReplayChunks(t, 4, Seq("ts", "conv_id", "turn_idx"))
      chunks.stage(s"$tmp/scratch", watched)
      // sentinel events: gap + watermark + margin beyond max ts, twice
      // (the watermark updates BETWEEN batches, so the second sentinel's
      // batch is the one that sees tails expired)
      val maxTs = t.agg(max($"ts")).as[java.sql.Timestamp].head().getTime
      val step = (1800L + 600L + 10L) * 1000L
      (1 to 2).foreach { i =>
        stageOrderedFile(
          Seq(TurnEvent("__wm__", i - 1, "user",
            new java.sql.Timestamp(maxTs + i * step))).toDS().toDF(),
          s"$tmp/scratch_wm$i", watched, s"wm-$i.parquet",
          replayMtime(chunks.n + i))
      }
      val name = freshStreamView(s, "stream_sessions_files_")
      runReplay(s)(StreamingFeatures.sessionize(
          replayStream(s, chunks.schema, watched).as[TurnEvent],
          gapSeconds = 1800L)
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).filter($"conv_id" =!= "__wm__")
        .select("conv_id", "session_seq", "n_turns", "session_start",
          "session_end")
    }),

    // --- STREAMING LOCF over a file source (live-path feature parity) ----------
    // The LIVE twin of q_locf_backfill: per-conversation O(1) state carries
    // the last tool observation across micro-batches; every turn emits
    // immediately (no watermark/sentinels — nothing is held for event
    // time). Same staged-file replay as q_stream_sessionize_files; the
    // oracle is the BATCH LOCF SQL, so stream and batch backfill agree
    // row-for-row.
    "q_stream_locf" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.TurnToolEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamlocf").toString
      val watched = s"$tmp/watched"
      val t = turns(s, dir).select($"conv_id", $"turn_idx", $"tool", $"ts")
      val schema = new ReplayChunks(t, 4, Seq("ts", "conv_id", "turn_idx"))
        .stage(s"$tmp/scratch", watched)
      val name = freshStreamView(s, "stream_locf_")
      runReplay(s)(StreamingFeatures.locf(
          replayStream(s, schema, watched).as[TurnToolEvent])
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).select("conv_id", "turn_idx", "tool_locf")
    }),

    // --- STREAMING LOCF with EXPIRY (live twin of q_locf_ttl) -------------------
    // Same staged-file replay as q_stream_locf, but the per-conversation
    // state carries (value, obs event-time) and the 900 s TTL is checked
    // at each turn's own event time — the oracle is the BATCH TTL'd
    // backfill SQL, so the live staleness contract agrees row-for-row.
    "q_stream_locf_ttl" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.TurnToolEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamlocfttl").toString
      val watched = s"$tmp/watched"
      val t = turns(s, dir).select($"conv_id", $"turn_idx", $"tool", $"ts")
      val schema = new ReplayChunks(t, 4, Seq("ts", "conv_id", "turn_idx"))
        .stage(s"$tmp/scratch", watched)
      val name = freshStreamView(s, "stream_locf_ttl_")
      runReplay(s)(StreamingFeatures.locfTtl(
          replayStream(s, schema, watched).as[TurnToolEvent], ttlSeconds = 900L)
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).select("conv_id", "turn_idx", "tool_ttl")
    }),

    // --- STREAMING capped session assignment (live twin of q_sessionize_capped) ---
    // Per-turn gap-session ordinal + fixed-width duration slice emitted
    // immediately, three longs of state per conversation; oracled
    // against the batch capped-sessionization SQL.
    "q_stream_sess_capped" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.TurnEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamsesscap").toString
      val watched = s"$tmp/watched"
      val t = turns(s, dir).select($"conv_id", $"turn_idx", $"role", $"ts")
      val schema = new ReplayChunks(t, 4, Seq("ts", "conv_id", "turn_idx"))
        .stage(s"$tmp/scratch", watched)
      val name = freshStreamView(s, "stream_sess_capped_")
      runReplay(s)(StreamingFeatures.sessionizeCapped(
          replayStream(s, schema, watched).as[TurnEvent],
          gapSeconds = 1800L, maxSeconds = 1200L)
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).select("conv_id", "turn_idx", "session_seq",
        "slice_seq", "capped_session_id")
    }),

    // --- STREAMING backward as-of join (the north rule's operator, live) ----------
    // The live twin of q_asof_tool: feed observations and assistant
    // anchors replayed as ONE tagged file stream; each anchor emits
    // immediately with the latest feed value at-or-before its ts
    // (feed-first tie rule = allowExactMatches). State is one (value, ts)
    // pair per conversation. Replay files are cut at DISTINCT-ts
    // boundaries so an equal-ts cohort never straddles a micro-batch;
    // null-ts rows have no live timeline position and are filtered, so
    // the oracle anchors on ts IS NOT NULL.
    "q_stream_asof" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.AsOfEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamasof").toString
      val watched = s"$tmp/watched"
      val t = turns(s, dir).filter($"ts".isNotNull)
      val anchors = t.filter($"role" === "assistant")
        .select($"conv_id", lit(1).as("src"), $"turn_idx",
          lit(null).cast("string").as("value"), $"ts")
      val feed = t.filter($"tool".isNotNull)
        .groupBy($"conv_id", $"ts")
        .agg(max_by($"tool", $"turn_idx").as("value"))
        .select($"conv_id", lit(0).as("src"), lit(0).as("turn_idx"),
          $"value", $"ts")
      val tagged = anchors.unionByName(feed)
      val schema = new ReplayChunks(tagged, 4, Seq("ts"), cohorts = true)
        .stage(s"$tmp/scratch", watched)
      val name = freshStreamView(s, "stream_asof_")
      runReplay(s)(StreamingFeatures.asOfBackward(
          replayStream(s, schema, watched).as[AsOfEvent])
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).select("conv_id", "turn_idx", "tool_asof")
    }),

    // --- STREAMING FORWARD as-of (label join live) --------------------------------
    // The forward twin of q_stream_asof: anchors wait in state for their
    // FIRST at-or-after observation; every observation flushes all
    // pending anchors (any later one is farther ahead). A far-future
    // sentinel observation per conversation (value NULL) flushes anchors
    // with no future at all — the batch NULL. Must equal the batch
    // forward as-of restricted to non-null-ts anchors.
    "q_stream_asof_fwd" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.AsOfEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamasoffwd").toString
      val watched = s"$tmp/watched"
      val t = turns(s, dir).filter($"ts".isNotNull)
      val anchors = t.filter($"role" === "assistant")
        .select($"conv_id", lit(1).as("src"), $"turn_idx",
          lit(null).cast("string").as("value"), $"ts")
      val feed = t.filter($"tool".isNotNull)
        .groupBy($"conv_id", $"ts")
        .agg(max_by($"tool", $"turn_idx").as("value"))
        .select($"conv_id", lit(0).as("src"), lit(0).as("turn_idx"),
          $"value", $"ts")
      val tagged = anchors.unionByName(feed)
      val chunks = new ReplayChunks(tagged, 4, Seq("ts"), cohorts = true)
      chunks.stage(s"$tmp/scratch", watched)
      // the sentinel file lands LAST: one far-future null observation per
      // conversation that has anchors
      val sentinel = anchors.select($"conv_id").distinct()
        .select($"conv_id", lit(0).as("src"), lit(0).as("turn_idx"),
          lit(null).cast("string").as("value"),
          lit("2100-01-01 00:00:00").cast("timestamp").as("ts"))
      stageOrderedFile(sentinel, s"$tmp/scratch_sent", watched,
        "chunk-sentinel.parquet", replayMtime(chunks.n + 1))
      val name = freshStreamView(s, "stream_asof_fwd_")
      runReplay(s)(StreamingFeatures.asOfForward(
          replayStream(s, chunks.schema, watched).as[AsOfEvent])
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).select($"conv_id", $"turn_idx",
        $"tool_asof".as("next_tool"))
    }),

    // --- STREAMING target encoding (live strictly-past label stats) -------------
    // The live twin of q_target_encode: per-role running (count, sum) of
    // past labels, same-second cohorts emitted before they absorb — tie
    // exclusion preserved. Replay files are cut at DISTINCT-epoch
    // boundaries so a tie cohort never straddles a micro-batch.
    "q_stream_encode" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.TurnLabelEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamenc").toString
      val watched = s"$tmp/watched"
      val t = turns(s, dir).select($"conv_id", $"turn_idx", $"role",
        octet_length($"text").cast("long").as("label"), $"ts")
      val schema = new ReplayChunks(t, 4, Seq("ts"), cohorts = true)
        .stage(s"$tmp/scratch", watched)
      val name = freshStreamView(s, "stream_encode_")
      runReplay(s)(StreamingFeatures.targetEncode(
          replayStream(s, schema, watched).as[TurnLabelEvent])
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).select("conv_id", "turn_idx", "role", "enc_cnt", "enc_sum")
    }),

    // --- STREAMING ingest-volume anomaly gate ------------------------------------
    // The LIVE twin of q_ingest_anomaly: per-role hour buckets accumulate
    // OPEN across micro-batches and close (emit + join the trailing-24
    // history) when a later bucket arrives on the key; one far-future
    // sentinel row per role flushes the final real bucket (the sentinel's
    // own bucket never closes, so it is never emitted). Replay files are
    // cut in event-time order — the cross-batch open-bucket carry is
    // what's under test.
    "q_stream_anomaly" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.HourEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamanom").toString
      val watched = s"$tmp/watched"
      val t = turns(s, dir).filter($"ts".isNotNull).select($"role", $"ts")
      val maxTs = t.agg(max($"ts")).head().getTimestamp(0).getTime
      val chunks = new ReplayChunks(t, 4, Seq("ts", "role"))
      chunks.stage(s"$tmp/scratch", watched)
      // transcript roles are a fixed enum; one sentinel per role flushes
      // every key's tail bucket
      val sentinel = Seq("user", "assistant", "system", "tool")
        .map(r => (r, new java.sql.Timestamp(maxTs + 86400000L)))
        .toDF("role", "ts")
      stageOrderedFile(sentinel, s"$tmp/sent", watched, "sentinel.parquet",
        replayMtime(chunks.n + 1))
      val name = freshStreamView(s, "stream_anom_")
      runReplay(s)(StreamingFeatures.volumeAnomalyLive(
          replayStream(s, chunks.schema, watched).as[HourEvent],
          bucketSeconds = 3600L, trailing = 24, factor = 2L)
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name)
        .select("role", "bucket", "n", "trail_n", "trail_sum", "is_spike")
    }),

    // --- STREAMING watermarked windowed counts (built-in stateful agg) ---------
    // The watermark-correctness proof for the built-in windowed
    // aggregation path: 5-minute tumbling role counts over a file-source
    // replay in event-time order. Append mode only emits FINALIZED
    // windows (watermark past window end), so two far-future sentinel
    // files advance the watermark (it updates BETWEEN batches) until
    // every real window flushes; sentinel windows never finalize and are
    // filtered. The oracle is the plain batch GROUP BY epoch-bucket.
    "q_stream_window" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamwin").toString
      val watched = s"$tmp/watched"
      val t = turns(s, dir).select($"conv_id", $"role", $"ts")
      val maxTs = t.agg(max($"ts")).head().getTimestamp(0).getTime
      val chunks = new ReplayChunks(t, 4, Seq("ts", "conv_id"))
      chunks.stage(s"$tmp/scratch", watched)
      // watermark 600 s + window 300 s + margin, twice (watermark lags
      // one batch)
      val step = (600L + 300L + 10L) * 1000L
      (1 to 2).foreach { i =>
        val sentinel = Seq(("__wm__", "__wm__",
          new java.sql.Timestamp(maxTs + i * step)))
          .toDF("conv_id", "role", "ts")
        stageOrderedFile(sentinel, s"$tmp/sent$i", watched,
          s"sentinel-$i.parquet", replayMtime(chunks.n + i))
      }
      val name = freshStreamView(s, "stream_win_")
      runReplay(s)(StreamingFeatures.windowedRoleCounts(
          replayStream(s, chunks.schema, watched))
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).filter($"role" =!= "__wm__")
        .select(col("window.start").cast("long").as("w_start_sec"),
          col("role"), col("n"))
    }),

    // --- STREAMING exact dedup with audit (live-path firehose filter) ----------
    // The LIVE twin of q_dedup_exact: each document is emitted immediately
    // with kept=1 iff its md5(text) fingerprint was never seen before.
    // Duplicates are synthesized in-query (every doc_id % 3 == 0 doc gets
    // a copy at doc_id + 1000000); the replay is staged in (hash, doc_id)
    // order so every duplicate pair may straddle a micro-batch boundary —
    // the state carry IS what's under test. Only (doc_id, digest) pairs
    // cross the stateful shuffle, never document text.
    "q_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.DocEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamdedup").toString
      val watched = s"$tmp/watched"
      val d = docs(s, dir).select($"doc_id", $"text")
      val union = d.unionAll(
        d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val hashed = union.select(
        col("doc_id"), md5(col("text").cast("binary")).as("hash"))
      val schema = new ReplayChunks(hashed, 4, Seq("hash", "doc_id"))
        .stage(s"$tmp/scratch", watched)
      val name = freshStreamView(s, "stream_dedup_")
      runReplay(s)(StreamingFeatures.dedupExact(
          replayStream(s, schema, watched).as[DocEvent])
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).select(
        col("doc_id"), col("hash"), col("kept").cast("long").as("kept"))
    }),

    // --- streaming HLL distinct gauge ---------------------------------------------
    // The SAME Sketches.hllRegisters code runs on the live path: a
    // streaming groupBy(bucket).max is legal with O(2^p) state in
    // complete mode, so the running distinct-count gauge needs no
    // bespoke operator. File-source replay across 4 micro-batches must
    // land register-for-register on the batch oracle.
    "q_stream_hll" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamhll").toString
      val watched = s"$tmp/watched"
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val schema = new ReplayChunks(d, 4, Seq("doc_id"))
        .stage(s"$tmp/scratch", watched)
      val name = freshStreamView(s, "stream_hll_")
      runReplay(s)(graft.ops.Sketches.hllRegisters(
          replayStream(s, schema, watched), col("text"), p = 8)
        .writeStream.outputMode("complete").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).select(col("bucket"), col("max_rho"))
    }),

    // --- multimodal container decode (REAL pure-JVM PNG/WAV header parse) ------
    // Media payloads are synthesized deterministically from doc_id (real
    // PNG signature+IHDR with CRC32, real RIFF/WAVE fmt chunk, or corrupt
    // junk), then decoded by parsing the BYTES — the oracle predicts the
    // fields analytically from doc_id, so an encoder/parser offset bug on
    // either side breaks the match.
    "q_multimodal" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Multimodal
      val media = docs(s, dir).select(col("doc_id")).as[Long].map { id =>
        val bytes =
          if (id % 7 == 0) Multimodal.opaqueBytes(id, 32)
          else if (id % 2 == 0)
            Multimodal.encodePng((16 + id % 64).toInt, (8 + id % 32).toInt,
              8, if (id % 3 == 0) 6 else 2, id)
          else
            Multimodal.encodeWav((8000 + (id % 5) * 4000).toInt,
              (1 + (id / 2) % 2).toInt, 16, 64, id)
        (id, bytes)
      }.toDF("media_id", "bytes")
      Multimodal.decodeTable(media).toDF()
    }),

    // --- LSH-bucketed embedding near-dup pairs (sub-quadratic scale path) -------
    // Full corpus, 6-bit sign-LSH buckets, (a < b) pairs within a bucket,
    // exact quantized-dot re-rank. The oracle replays the identical
    // splitmix integer weights, bucket assignment, in-bucket pair
    // expansion, and dot threshold in SQL.
    "q_embed_dup_lsh" -> ((s, dir) =>
      Similarity.nearDupPairsLsh(embeds(s, dir), minDot = 0L,
        dim = 64, nBits = 6)),

    // --- embedding near-dup by COSINE threshold ---------------------------------
    // Near-duplicates synthesized in-query by scaling every 7th vector by
    // 0.5f (exact in binary float — mantissa untouched — and sign-LSH
    // invariant, so each copy shares its original's bucket); the cosine
    // gate at 0.999 then keeps exactly the (original, copy) pairs. The
    // predicate is pure integer arithmetic (dot²·10⁸ vs bp²·|a|²·|b|² in
    // 128-bit), replayed verbatim by the oracle in HUGEINT.
    "q_cosine_dup" -> ((s, dir) => {
      val e = embeds(s, dir).select(col("vec_id"), col("embedding"))
      val scaled = e.filter(col("vec_id") % 7 === 0).select(
        (col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
      Similarity.nearDupPairsCosine(e.unionAll(scaled),
        minCosineBp = 9990, dim = 64, nBits = 6)
    }),

    // --- embedding norms (quantized, exact) -------------------------------------
    "q_embed_norm" -> ((s, dir) =>
      embeds(s, dir).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        Similarity.quantSqNorm(col("embedding")).as("sq_sum"))),

    // --- near-dup pair -> CLUSTER resolution ------------------------------------
    // The step every real dedup run needs after candidate pairs:
    // connected components (hash-min label propagation) over the
    // minhashPairs stream, labeling each paired document with its
    // component's MIN doc_id — the canonical keep-one decision.
    // The oracle replays the transitive closure as a DuckDB recursive
    // CTE over the identical pair SQL.
    "q_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashPairs(docs(s, dir), "doc_id", "text")
      graft.ops.Clusters.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"),
          (col("id") === col("cluster_id")).as("is_keeper"))
    }),

    // --- keep-BEST dedup (policy-pluggable keeper) -------------------------------
    // Same components as q_dup_clusters, but the survivor is the longest
    // copy (n_chars DESC, doc_id ASC tiebreak) instead of the smallest id
    // — the policy real curation wants. Output = the surviving corpus.
    "q_dedup_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashPairs(d, "doc_id", "text")
      graft.ops.Clusters.keepBestInClusters(
          d.select("doc_id", "n_chars"), "doc_id", col("n_chars"), pairs)
        .select("doc_id", "n_chars")
    }),

    // --- leakage-free (cluster-keyed) train/test split ----------------------------
    // Near-duplicate copies must never straddle an eval split: the fmix64
    // gate keys on the near-dup COMPONENT id (own id when unpaired), so a
    // test doc's mirrors ride along instead of leaking into train. Same
    // MinHash pairs as q_dup_clusters; 2000 bp test rate.
    "q_cluster_split" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Clusters.clusterSplit(
        d.select("doc_id"), "doc_id",
        Dedup.minhashPairs(d, "doc_id", "text"), testBp = 2000)
    }),

    // --- cross-source dedup attribution (flow matrix) -----------------------------
    // For every near-dup drop under the keep-best policy: which source
    // lost the copy and which source's copy won, with the chars lost —
    // the "why did crawl-B shrink 40%?" gauge over the same components
    // as q_dedup_keep_best.
    "q_dedup_flow" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashPairs(d, "doc_id", "text")
      graft.ops.Clusters.dedupFlow(
        d.select("doc_id", "source", "n_chars"), "doc_id", "source",
        col("n_chars"), pairs)
    }),

    // --- tokenizer-accurate token counts (greedy vocab longest-match) -----------
    // Counting with the REAL tokenizer's vocabulary instead of a regex:
    // greedy longest-match against an in-plan vocab (reference-object
    // expression, one node at any vocab size) with one-codepoint
    // fallback tokens. The oracle replays the greedy walk as a DuckDB
    // recursive CTE (one step per emitted token), so the match order,
    // longest-match ties and fallback are all under the hard signal.
    // Subset (every 5th doc) keeps the recursive oracle cheap.
    "q_token_bpe" -> ((s, dir) =>
      docs(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          TextStats.vocabTokenCount(col("text"), bpeVocab).as("bpe_tokens"),
          TextStats.regexTokenCount(col("text")).as("re_tokens"))),

    // --- shard packing by TOKENIZER-accurate counts ------------------------------
    // The packing sibling the vocab counter exists for: same two-phase
    // packShards, budgeted on vocabTokenCount instead of the regex
    // approximation (subset keeps the recursive oracle cheap).
    "q_pack_shards_bpe" -> ((s, dir) =>
      graft.ops.Curation.packShards(
          docs(s, dir).filter(col("doc_id") % 5 === 0),
          strataCol = "lang", orderCol = "doc_id",
          tokens = TextStats.vocabTokenCount(col("text"), bpeVocab),
          budgetTokens = 2000L)
        .select("doc_id", "lang", "n_tokens", "shard_seq")),

    // --- STREAMING kill -> RESTART from checkpoint, under the oracle ------------
    // The live path's resumability proof (the twin of the batch
    // q_checkpoint_resume): streaming LOCF processes half the replay
    // files, the query STOPS (simulated kill), a fresh query restarts
    // from the SAME checkpointLocation with the remaining files staged,
    // and the union of both runs' parquet-sink output must equal the
    // batch LOCF SQL. Conversations straddle the kill boundary (chunks
    // cut by global ts order), so the recovered state store — not
    // reprocessing — is what makes the second half correct; the sink's
    // commit log guarantees no batch is emitted twice.
    "q_stream_resume" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.TurnToolEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamresume").toString
      val watched = s"$tmp/watched"
      val sink = s"$tmp/sink"
      val ckpt = s"$tmp/ckpt"
      val t = turns(s, dir).select($"conv_id", $"turn_idx", $"tool", $"ts")
      val chunks = new ReplayChunks(t, 4, Seq("ts", "conv_id", "turn_idx"))
      def runOnce(): Unit = runReplay(s)(StreamingFeatures.locf(
          replayStream(s, chunks.schema, watched).as[TurnToolEvent])
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt))
      chunks.stage(s"$tmp/scratch", watched, 1 to 2)
      runOnce() // first run drains the staged half, then stops (the kill)
      chunks.stage(s"$tmp/scratch", watched, 3 to 4)
      runOnce() // restart: recovered state + only the new files
      s.read.parquet(sink).select("conv_id", "turn_idx", "tool_locf")
    }),

    // --- STREAMING sessionize kill -> RESTART from checkpoint -------------------
    // The stateful-session twin of q_stream_resume: flatMapGroupsWithState
    // sessions (open-session state + event-time timeouts) survive a kill.
    // Run 1 drains half the replay files — many sessions are OPEN in the
    // state store when it stops; run 2 restarts from the same
    // checkpointLocation with the remaining files plus the watermark
    // sentinels staged. Sessions straddling the kill can only come out
    // right if the recovered state store carries their open tails, so the
    // two-run parquet-sink union equaling the batch sessionize SQL is a
    // direct proof of state recovery (not just sink idempotence).
    "q_stream_sess_resume" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingFeatures
      import graft.streaming.StreamingFeatures.TurnEvent
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_sessresume").toString
      val watched = s"$tmp/watched"
      val sink = s"$tmp/sink"
      val ckpt = s"$tmp/ckpt"
      val t = turns(s, dir).select($"conv_id", $"turn_idx", $"role", $"ts")
      val chunks = new ReplayChunks(t, 4, Seq("ts", "conv_id", "turn_idx"))
      def runOnce(): Unit = runReplay(s)(StreamingFeatures.sessionize(
          replayStream(s, chunks.schema, watched).as[TurnEvent],
          gapSeconds = 1800L)
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt))
      chunks.stage(s"$tmp/scratch", watched, 1 to 2)
      runOnce() // the kill: open sessions are live in the state store here
      chunks.stage(s"$tmp/scratch", watched, 3 to 4)
      val maxTs = t.agg(max($"ts")).as[java.sql.Timestamp].head().getTime
      val step = (1800L + 600L + 10L) * 1000L
      (1 to 2).foreach { i =>
        stageOrderedFile(
          Seq(TurnEvent("__wm__", i - 1, "user",
            new java.sql.Timestamp(maxTs + i * step))).toDS().toDF(),
          s"$tmp/scratch_wm$i", watched, s"wm-$i.parquet",
          replayMtime(chunks.n + i))
      }
      runOnce() // restart: recovered open sessions + remaining files
      s.read.parquet(sink).filter($"conv_id" =!= "__wm__")
        .select("conv_id", "session_seq", "n_turns", "session_start",
          "session_end")
    }),

    // --- corpus-wide segment-level exact dedup ----------------------------------
    // CCNet-style span dedup: 10-word blocks keyed by a 64-bit content
    // hash, globally-first occurrence survives, documents reassembled
    // minus their dropped blocks. The decision machinery runs on
    // fixed-width (hash, id, idx) rows; segment text crosses exactly one
    // shuffle (the reassembly join).
    "q_seg_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.SegDedup.dedupSegments(d, "doc_id",
        graft.ops.SegDedup.wordBlocks(col("text"), 10))
    }),

    // --- boilerplate STRIP by document frequency --------------------------------
    // A 10-word banner is prepended to every 4th doc in-query; any
    // segment present in >= 3 distinct documents is removed EVERYWHERE
    // (unlike q_seg_dedup, the first copy of a cookie banner is still a
    // cookie banner). Naturally-recurring word blocks clear the same
    // bar on both engines.
    "q_boilerplate" -> ((s, dir) => {
      val banner =
        "terms of service apply all rights reserved please contact admin"
      val d = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 4 === 0, concat(lit(banner + " "), col("text")))
          .otherwise(col("text")).as("text"))
      graft.ops.SegDedup.stripBoilerplate(d, "doc_id",
        graft.ops.SegDedup.wordBlocks(col("text"), 10), minDf = 3)
    }),

    // --- maximal duplicated-span detection (ExactSubstr shape) ------------------
    // A shared 20-word preamble is prepended to every 5th doc in-query,
    // so those docs must report a maximal span starting at block 0 with
    // >= 2 blocks (adjacent duplicated blocks MERGE into one span);
    // naturally repeated 10-word blocks surface as their own spans on
    // both engines.
    "q_dup_spans" -> ((s, dir) => {
      val pre =
        "the quick brown fox jumps over the lazy dog again " +
          "and the cat sat on the mat watching it run"
      val d = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(lit(pre + " "), col("text")))
          .otherwise(col("text")).as("text"))
      graft.ops.SegDedup.duplicatedSpans(d, "doc_id",
        graft.ops.SegDedup.wordBlocks(col("text"), 10))
    }),

    // --- composed DO-NOT-TRAIN byte mask (span-source union) --------------------
    // The loss mask a tokenized pipeline consumes: PII spans and
    // duplicated-block excision regions — independent producers in
    // different coordinates (bytes vs blocks) — converted onto one byte
    // axis (blockByteSpans via the word-offset sentinel array) and
    // merged into maximal disjoint [start, end) intervals with an
    // absorbed-span count. Fixture plants a shared 20-word preamble
    // CONTAINING an IP on every 5th doc, so a PII span provably
    // collapses INTO its covering duplicate span (n_spans >= 2 there),
    // plus the usual per-doc PII salt for disjoint spans.
    "q_mask_spans" -> ((s, dir) => {
      val pre = "header 10.0.0.1 flagged the quick brown fox jumps over " +
        "the lazy dog while the cat sat on the mat today"
      val d0 = docs(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0, concat(lit(pre + " "), col("text")))
            .otherwise(col("text")),
          lit(" "),
          piiSaltCol).as("t"))
      val pii = d0
        .select(col("doc_id"), explode(TextStats.piiSpans(col("t"))).as("sp"))
        .select(col("doc_id"), col("sp.start").as("start"),
          col("sp.end").as("end"))
      val dupBlocks = graft.ops.SegDedup.duplicatedSpans(
        d0, "doc_id", graft.ops.SegDedup.wordBlocks(col("t"), 10))
      val dupBytes = graft.ops.SegDedup.blockByteSpans(
        d0, "doc_id", col("t"), dupBlocks, blockWords = 10)
      TextStats.mergeSpans(pii.unionByName(dupBytes), "doc_id")
    }),

    // --- Z-order layout key ------------------------------------------------------
    // Two bucketized dims (capped char length, source number) interleaved
    // into one 20-bit Morton key — codegen'd built-ins only (shift/and/or
    // terms), bit-replayed by the oracle.
    "q_zorder" -> ((s, dir) => {
      val d = zDims(docs(s, dir))
      d.select(col("doc_id"), col("len_b"), col("src_b"),
        graft.ops.Layout.zorderKey(Seq(col("len_b"), col("src_b")), bits = 10)
          .as("zval"))
    }),

    // --- Z-layout skipping manifest ---------------------------------------------
    // One row per z-bucket (= data file of the z-sorted layout): count +
    // per-dim min/max — the Iceberg/Delta-style stats block a planner
    // prunes range predicates against.
    "q_zorder_stats" -> ((s, dir) =>
      graft.ops.Layout.zBucketStats(
        zDims(docs(s, dir)).select("doc_id", "len_b", "src_b"),
        Seq("len_b", "src_b"), bits = 10, shift = 12)),

    // --- manifest-pruned exact scan ---------------------------------------------
    // 2-D range predicate answered by opening only manifest-intersecting
    // z-buckets; the oracle is the PLAIN filter — equality proves the
    // pruning is lossless. Selectivity vs a 1-D layout is asserted in
    // LayoutSpec.
    "q_zorder_prune" -> ((s, dir) =>
      graft.ops.Layout.prunedScan(
        zDims(docs(s, dir)).select("doc_id", "len_b", "src_b"),
        Seq("len_b", "src_b"), bits = 10, shift = 12,
        ranges = Seq((128L, 255L), (2L, 5L)))),

    // --- corpus-level top-k n-gram heavy hitters --------------------------------
    // The boilerplate detector: exact global top-20 trigrams via
    // two-level partial-agg count + TakeOrderedAndProject (per-partition
    // top-k, never a full sort); ties break by n-gram text.
    "q_top_ngrams" -> ((s, dir) =>
      graft.ops.TextStats.topNgrams(docs(s, dir), "text", n = 3, k = 20)),

    // --- one-scan blocklist tagging (Aho–Corasick, k terms one pass) ------------
    // The C4/RefinedWeb badwords-filter shape: every term of the
    // blocklist counted (substring, overlapping-exact) in ONE automaton
    // pass per row — k regex scans over 100 TB collapse to one, the term
    // list rides as a single reference object. Output is one row per
    // (doc, matched term) with the exact count — the audit behind the
    // drop decision.
    "q_blocklist" -> ((s, dir) =>
      graft.ops.TextStats.blocklistCounts(
        docs(s, dir), "doc_id", col("text"), blocklistTerms)),

    // --- blocklist match SPANS (byte offsets, third mask source) ----------------
    // WHERE each term matched, [start, end) bytes — the blocklist feed
    // into the mergeSpans do-not-train mask; overlapping occurrences all
    // emitted, hit-sized output, zero shuffle.
    "q_blocklist_spans" -> ((s, dir) =>
      graft.ops.TextStats.blocklistSpans(
        docs(s, dir), "doc_id", col("text"), blocklistTerms)),

    // --- the composed badwords DROP gate -----------------------------------------
    // Documents containing NO blocklist term survive; same automaton,
    // zero-shuffle scan-fused predicate.
    "q_blocklist_gate" -> ((s, dir) =>
      graft.ops.TextStats.blocklistGate(
          docs(s, dir), col("text"), blocklistTerms)
        .select("doc_id", "n_chars")),

    // --- word co-occurrence (PMI sufficient statistics) -------------------------
    // Ordered pairs within 2 positions, pair + unigram + total counts as
    // exact integers — PMI and collocation mining without a float log.
    "q_cooccur" -> ((s, dir) =>
      graft.ops.TextStats.cooccurrence(docs(s, dir), "text",
        maxDist = 2, minCount = 5L)),

    // --- k-means Lloyd step: exact-integer sufficient statistics ----------------
    // The training half of the IVF index ("trained k-means centroids from
    // a separate job" — this is that job's inner loop): assignment by the
    // index's own max-quantized-dot rule (zero-shuffle expression), then
    // per (list, dim) member count + quantized coordinate sums — the
    // exact sufficient statistics a driver turns into new means. Means/
    // normalization are float driver math ON TOP of these sums
    // (kmeansTrain, differentially tested in KMeansSpec); the oracle
    // pins the distributed part bit-for-bit.
    "q_kmeans_step" -> ((s, dir) => {
      val e = embeds(s, dir)
      val cents = Similarity.ivfCentroids(e, step = 100L)
      Similarity.clusterSums(e, cents)
    }),

    // --- cluster-dedup -> deterministic shuffle -> two-phase pack ---------------
    // The training-prep tail COMPOSED from this round's operators: minhash
    // near-dup pairs resolve to connected components and only each
    // component's min-id keeper survives (transitive keep-one, not
    // pairwise); survivors are SHUFFLED by the seedless fmix64 bijection
    // (the "shuffle the training data" step — reproducible, coordination-
    // free); then two-phase shard packing runs per lang ORDERED BY the
    // shuffle key, with chunkSpan sized for the full int64 range (2^48 →
    // the order-contiguous chunking stays balanced under a uniform hash
    // order). Proves the pack operator's contract holds when the order
    // column is a hash, not a dense id.
    "q_corpus_dedup_pack" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashPairs(d, "doc_id", "text")
      val kept = graft.ops.Clusters.dropNearDuplicates(d, "doc_id", pairs)
      val shuffled = kept.withColumn("shuffle_key",
        graft.ops.Curation.shuffleKey(col("doc_id")))
      graft.ops.Curation.packShards(shuffled, strataCol = "lang",
          orderCol = "shuffle_key",
          tokens = TextStats.regexTokenCount(col("text")),
          budgetTokens = 2000L, chunkSpan = 1L << 48)
        .select("doc_id", "lang", "shuffle_key", "n_tokens", "shard_seq")
    }),

    // --- conversation-level feature summary --------------------------------------
    // The per-entity summary vector (role mix, tool usage, span, max
    // inter-turn gap) — ONE conv_id shuffle shared by the gap window and
    // the aggregation; zero over a bucketed layout.
    "q_conv_features" -> ((s, dir) =>
      graft.features.ConvFeatures.summarize(turns(s, dir))),

    // --- reply latency (forward-looking training target) -------------------------
    // Per user turn: seconds to the next assistant turn, via a running
    // conditional min over the FOLLOWING frame — no self-join of the
    // table against its own future.
    "q_reply_latency" -> ((s, dir) =>
      graft.features.ConvFeatures.replyLatency(turns(s, dir))),

    // --- grounding score (hallucination gauge) ------------------------------------
    // Per assistant turn: how many of its distinct words appeared in a
    // STRICTLY earlier tool turn of the same conversation — exact
    // integer numerator/denominator; the tool side collapses to first
    // occurrence per (conv, word) before the join.
    "q_grounding" -> ((s, dir) =>
      graft.features.ConvFeatures.groundingScore(turns(s, dir))),

    // --- tool-call sequence mining (trigram support counts) -----------------------
    // Corpus-wide counts of consecutive tool-call trigrams per
    // conversation — the agent-behavior profile / loop detector.
    "q_tool_ngrams" -> ((s, dir) =>
      graft.features.ConvFeatures.toolTrigrams(turns(s, dir), minSupport = 2L)),

    // --- echo (parroting) score -----------------------------------------------
    // Per assistant turn: distinct words shared with the NEAREST
    // preceding user turn — the restate-the-prompt signal, exact
    // integer numerator/denominator.
    "q_echo" -> ((s, dir) =>
      graft.features.ConvFeatures.echoScore(turns(s, dir))),

    // --- stuck-loop self-repeat detector ---------------------------------------
    // First byte-identical assistant turn per (conv, text) and a
    // repeat flag — an agent looping shows as a run pointing at one
    // first_idx.
    "q_self_repeat" -> ((s, dir) =>
      graft.features.ConvFeatures.selfRepeat(turns(s, dir))),

    // --- exact type-token ratio (lexical diversity) -----------------------------
    // Per conversation over assistant turns: (distinct words, total
    // words) as integers; (0,0) when the role contributes nothing.
    "q_lexical" -> ((s, dir) =>
      graft.features.ConvFeatures.lexicalDiversity(turns(s, dir))),

    // --- turn-order integrity audit ----------------------------------------------
    // Per conversation: duplicate turn indexes, index gaps, strict ts
    // inversions, null timestamps, first index — the ingest QC gate the
    // ordered-operator family assumes has run.
    "q_order_audit" -> ((s, dir) =>
      graft.features.ConvFeatures.orderAudit(turns(s, dir))),

    // --- composed conversation quality gate ---------------------------------------
    // Order audit + grounding + echo + loop rate + TTR in ONE job;
    // integer basis-point thresholds by cross-multiplication,
    // first-error-only drop_reason (the wary gate's reporting contract
    // at conversation granularity).
    "q_conv_gate" -> ((s, dir) =>
      graft.features.ConvFeatures.qualityGate(turns(s, dir))),

    // --- incremental (delta) dedup against the standing corpus -------------------
    // New batch = doc_id % 3 == 0, standing corpus = the rest. Exact
    // drops by hash membership, near drops by sharing a MinHash band
    // with ANY old doc — the old side contributes only its hash set and
    // band table (the write-once index artifacts of production
    // incremental ingest).
    "q_incr_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalFlags(
        d.filter(col("doc_id") % 3 === 0),
        d.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text")
    }),

    // --- STREAMING incremental near-dup gate ---------------------------------------
    // q_incr_dedup's live twin: the same delta (doc_id % 3 = 0) replayed
    // through the file source in 3 micro-batches and flagged per batch
    // against the standing corpus's MATERIALIZED index artifacts (hash
    // set + band table written to parquet first — the write-once outputs
    // of production incremental ingest). Stateless: band membership is
    // row-level joins on null-guarded key columns, never explode +
    // stateful re-aggregation; flags must equal the batch operator's.
    "q_stream_neardup" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_sneardup").toString
      val d = docs(s, dir)
      val standing = d.filter(col("doc_id") % 3 =!= 0)
      standing.select(md5(col("text").cast("binary")).as("hash")).distinct()
        .write.mode("overwrite").parquet(s"$tmp/idx_hashes")
      Dedup.minhashBands(standing, "doc_id", "text")
        .select("band_idx", "band_key").distinct()
        .write.mode("overwrite").parquet(s"$tmp/idx_bands")
      val delta = d.filter(col("doc_id") % 3 === 0)
        .select("doc_id", "text")
      val watched = s"$tmp/watched"
      val schema = new ReplayChunks(delta, 3, Seq("doc_id"))
        .stage(s"$tmp/scratch", watched)
      val view = freshStreamView(s, "q_stream_neardup_sink_")
      runReplay(s)(graft.streaming.StreamingFeatures.nearDupFlags(
          replayStream(s, schema, watched),
          s.read.parquet(s"$tmp/idx_hashes"),
          s.read.parquet(s"$tmp/idx_bands"),
          "doc_id", "text")
        .writeStream.outputMode("append")
        .format("memory").queryName(view))
      s.table(view)
    }),

    // --- data-dependent mixture plan ---------------------------------------------
    // Target mixture weights + a global token budget → per-stratum keep
    // rates, all exact-integer (overflow-free budget×bp split); one
    // partial-agg shuffle to a rows-per-stratum frame.
    "q_mixture_plan" -> ((s, dir) =>
      graft.ops.Curation.mixturePlan(
        docs(s, dir), "lang", TextStats.regexTokenCount(col("text")),
        Map("en" -> 5000, "zh" -> 2000, "de" -> 1500), 123456L)),

    // --- apply the mixture plan ---------------------------------------------------
    // Rates come from DATA (the plan frame, broadcast) — the corpus never
    // shuffles and no rate rides through the driver; same fmix64 gate
    // (and nesting property) as q_sample_mix.
    "q_mixture_apply" -> ((s, dir) => {
      val plan = graft.ops.Curation.mixturePlan(
        docs(s, dir), "lang", TextStats.regexTokenCount(col("text")),
        Map("en" -> 5000, "zh" -> 2000, "de" -> 1500), 123456L)
      graft.ops.Curation.sampleByPlan(docs(s, dir), "doc_id", "lang", plan)
        .select("doc_id", "lang")
    }),

    // --- training-sequence assembly -----------------------------------------------
    // Pack each conversation's non-null-text turns into ≤40-token
    // sequences (two-phase cumsum — a mega-conversation never serializes)
    // and materialize one row per sequence with the newline-joined text:
    // the example-assembly step a dataloader consumes.
    "q_assemble_seqs" -> ((s, dir) =>
      graft.ops.Curation.assembleSequences(
        turns(s, dir), "conv_id", "turn_idx", "text", 40L)),

    // --- SemDedup: IVF-partitioned semantic dedup ---------------------------------
    // Near-dups synthesized as in q_cosine_dup (×0.5f copies); centroids
    // from the deterministic every-100th sample; within-list exact-cosine
    // pairs resolve to components, min id keeps. Total assignment: every
    // vector gets (list, cluster, keep).
    "q_semdedup" -> ((s, dir) => {
      val e = embeds(s, dir).select(col("vec_id"), col("embedding"))
      val scaled = e.filter(col("vec_id") % 7 === 0).select(
        (col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
      val corpus = e.unionAll(scaled)
      Similarity.semDedup(
        corpus, Similarity.ivfCentroids(corpus, 100L), minCosineBp = 9990)
    }),

    // --- per-document top-k salient terms (exact tf-idf core) ---------------------
    "q_top_terms" -> ((s, dir) =>
      TextStats.topTermsPerDoc(docs(s, dir), "doc_id", "text", 3)),

    // --- column profiler (data-quality gate) ----------------------------------------
    // One aggregation pass over documents: per column the row/null/exact
    // distinct counts + binary-collation min/max as strings. The
    // before/after pair of these rows is a pipeline stage's cheapest
    // regression test.
    "q_profile" -> ((s, dir) =>
      graft.ops.Analytics.profile(docs(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // --- exact equal-width histogram ------------------------------------------------
    // Document-length distribution per language, 100-char bins, integer
    // floor-div binning; one (lang, bin)-keyed partial agg.
    "q_histogram" -> ((s, dir) =>
      graft.ops.Analytics.histogram(docs(s, dir),
        col("n_chars"), width = 100L, keys = Seq("lang"))),

    // --- exact per-group outlier flags ----------------------------------------------
    // |len − mean| > 3σ within the doc's language, cleared to the
    // integer inequality (n·x−s)² > 9·(n·q−s²) in decimal(38,0) —
    // replayed by the oracle in HUGEINT. No sqrt, no float.
    "q_outliers" -> ((s, dir) =>
      graft.ops.Analytics.outliers(docs(s, dir), Seq("lang"),
          col("n_chars"), z2 = 9)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("is_outlier"))),

    // --- distribution drift between two slices (train/serve skew gate) --------------
    // Ref slice = even doc_id, current = odd: per 100-char length bin the
    // conditional counts, the slice totals, and the exact proportion-
    // shift numerator n_cur·tot_ref − n_ref·tot_cur (decimal(38,0) in
    // the op — the HUGEINT-replayed value is cast to BIGINT here, where
    // it provably fits). PSI/KL/chi² are one float expression downstream;
    // everything under the oracle is integer-exact. One bin-keyed
    // partial agg — the slice split never forces an outer join.
    "q_drift_stats" -> ((s, dir) =>
      graft.ops.Analytics.driftStats(docs(s, dir),
          isRef = col("doc_id") % 2 === 0, value = col("n_chars"),
          width = 100L)
        .select(col("bin"), col("n_ref"), col("n_cur"),
          col("tot_ref"), col("tot_cur"),
          col("delta_num").cast("long").as("delta_num"))),

    // --- min-max feature scaling to basis points ------------------------------------
    // Per-language floor(10000·(len−min)/(max−min)) in pure integer
    // arithmetic; degenerate groups (max=min) scale to NULL. The scan
    // crosses ONE exchange (key-only min/max stats join back).
    "q_minmax_scale" -> ((s, dir) =>
      graft.ops.Analytics.minMaxScaleBp(docs(s, dir), Seq("lang"),
          col("n_chars"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("scaled_bp"))),

    // --- multi-level corpus report: ROLLUP in one Expand pass -----------------------
    // (lang, source) → per-pair, per-lang, grand-total row/char counts
    // with portable GROUPING flags (subtotal NULL ≠ data NULL). One
    // two-level partial agg over the Expand — never one scan per level.
    "q_rollup_stats" -> ((s, dir) =>
      graft.ops.Analytics.rollupCounts(docs(s, dir),
        Seq("lang", "source"), col("n_chars"))),

    // --- edit-distance CONFIRM for near-dup candidate pairs -------------------------
    // Candidates are (doc, synthesized copy with its last 3 chars
    // rewritten to "zzz") for every 7th doc — true distance exactly 3 —
    // plus decoy pairs (doc_id, doc_id+1) of unrelated texts. The
    // banded threshold-10 Levenshtein confirms exactly the true copies
    // and rejects every decoy (threshold form early-exits at
    // O(len·maxDist), the property that makes mis-recalled candidates
    // cheap at corpus scale).
    "q_edit_dup" -> ((s, dir) => {
      val d = docs(s, dir)
      val copies = d.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"),
        concat(expr("substring(text, 1, length(text) - 3)"), lit("zzz"))
          .as("text"))
      val corpus = d.select(col("doc_id"), col("text")).unionAll(copies)
      val cands = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 100000L).as("b"))
        .unionAll(d.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id").as("a"), (col("doc_id") + 1L).as("b")))
      Dedup.editConfirm(cands, corpus, "doc_id", "text", maxDist = 10)
    }),

    // --- chunk -> parent embedding mean-pool (sufficient statistics) ----------------
    // Four consecutive vec_ids pool to one parent: per (parent, dim) the
    // member count and exact int64 sum of ×10⁴-quantized coordinates —
    // the document vector a chunked-embedding pipeline serves is
    // qsum/n/10⁴. Explode + one partial agg; vectors cross the exchange
    // only as per-dimension partials.
    "q_embed_pool" -> ((s, dir) =>
      Similarity.poolStats(embeds(s, dir),
        groupCol = call_function("div", col("vec_id") - pmod(col("vec_id"), lit(4L)), lit(4L)),
        vecCol = col("embedding"))),

    // --- categorical drift (language-mix shift between slices) ----------------------
    // Same drift machinery keyed on the category itself instead of a
    // numeric bin — the train/serve language-mix gate.
    "q_drift_cat" -> ((s, dir) =>
      graft.ops.Analytics.driftStatsBy(docs(s, dir),
          isRef = col("doc_id") % 2 === 0, key = col("lang"))
        .select(col("lang"), col("n_ref"), col("n_cur"),
          col("tot_ref"), col("tot_cur"),
          col("delta_num").cast("long").as("delta_num"))),

    // --- middle-out context truncation ----------------------------------------------
    // Keep the first 8 + last 4 words with an elision marker — the
    // context-window squeeze for long documents (head = instruction,
    // tail = recent state). Within-budget texts pass through
    // byte-identical (whitespace untouched). Scan-side slicing only.
    "q_truncate_mid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.wsTokenCount(col("text")).as("n_words"),
        TextStats.middleTruncate(col("text"), 8, 4).as("trunc"))),

    // --- SimHash near-dup pairs (banded Hamming search) -----------------------------
    // The third recall geometry after MinHash bands and embedding LSH:
    // exact copies (hamming 0) and one-word-appended copies are
    // synthesized in-query; 4x16-bit signature bands recall candidates
    // (pigeonhole-exact for hamming <= 3) and popcount(xor) confirms.
    // Random word-soup pairs sit ~32 bits apart and vanish.
    "q_simhash_pairs" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val exact = d.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val near = d.filter(col("doc_id") % 9 === 4)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" extrawordx")).as("text"))
      Dedup.simhashPairs(d.unionAll(exact).unionAll(near),
        "doc_id", "text", maxHamming = 3)
    }),

    // --- word-rarity quality signals ------------------------------------------------
    // Per doc: token count, corpus-rare token count (df < 5 — the
    // OOV/garbage signal), and the exact integer sum of token corpus
    // frequencies (unigram-LM sufficient statistic). Only (id, word)
    // pairs ever shuffle.
    "q_rarity" -> ((s, dir) =>
      TextStats.rarityStats(docs(s, dir), "doc_id", "text", minCount = 5L)),

    // --- Heaps-law vocabulary growth curve ----------------------------------------
    // Per 100-document bucket: new word types (first containing doc in
    // the bucket), running type/token totals — cum_types vs cum_tokens
    // is the V(n) Heaps curve; a flattening tail means the corpus is
    // saturating its vocabulary. Zero-token docs still hold their
    // bucket position on the volume axis.
    "q_vocab_growth" -> ((s, dir) =>
      TextStats.vocabGrowth(docs(s, dir), "doc_id", "text",
        bucketDocs = 100L)),

    // --- bigram-LM surprisal sufficient statistics (perplexity filter) -----------
    // Per document, the exact-integer multiset of its adjacent pairs'
    // (corpus bigram count, corpus left-unigram count) — the CCNet-style
    // perplexity filter's inputs with the logs (the only float) left
    // downstream. One row per distinct (doc, n_ab, n_a) with its
    // multiplicity.
    "q_lm_surprisal" -> ((s, dir) =>
      TextStats.lmSurprisalStats(docs(s, dir), "doc_id", "text")),

    // --- Kneser–Ney bigram TRAINING statistics (the model-fit side) --------------
    // q_lm_surprisal scores docs against a bigram table; this builds the
    // table: per distinct bigram, the raw count plus both KN
    // continuation-type counts and the distinct-bigram total — exact
    // integers, discount arithmetic downstream. minCount=3 thresholds
    // the OUTPUT only (continuation counts see every bigram).
    "q_kn_stats" -> ((s, dir) =>
      graft.ops.NgramLm.knBigramStats(docs(s, dir), "text", minCount = 3L)),

    // --- Good–Turing frequency-of-frequencies ---------------------------------------
    // Per observed bigram count c: how many distinct bigrams occur
    // exactly c times, plus the total bigram token mass — the GT
    // smoother's whole input and the hapax-rate crawl-quality gauge.
    "q_gt_counts" -> ((s, dir) =>
      graft.ops.NgramLm.goodTuringCounts(docs(s, dir), "text")),

    // --- BPE-training inner loop: adjacent-token pair counts ------------------------
    // Corpus-wide counts of adjacent token pairs under the current
    // vocab — the statistic whose argmax is the next BPE merge. Same
    // doc subset as q_token_bpe (keeps the recursive oracle walk
    // cheap); the oracle carries the emitted token through the walk and
    // pairs it with lead() in walk order.
    "q_bpe_pairs" -> ((s, dir) =>
      TextStats.bpePairCounts(
        docs(s, dir).filter(col("doc_id") % 5 === 0), "text", bpeVocab)),

    // --- BPE merge LEARNING (classic BPE training, the loop around q_bpe_pairs) -----
    // Three rounds of: count adjacent pairs in the current token
    // sequences, take the deterministic argmax, record the merge and
    // APPLY it (leftmost non-overlapping — the textbook BPE pairing
    // rule) before recounting. The oracle replays tokenize-once plus
    // all three data-dependent merge rounds in window SQL, so the
    // learned merges themselves sit under the hard signal.
    "q_bpe_learn" -> ((s, dir) =>
      TextStats.bpeLearnMerges(
        docs(s, dir).filter(col("doc_id") % 5 === 0), "text", bpeVocab,
        rounds = 3)),

    // --- typed parse of embedded JSON args (tool-call payloads) ---------------------
    // Every 11th event's props is corrupted in-query; from_json against
    // the explicit schema parses the rest scan-side (no inference pass)
    // and the validity flag quarantines the corrupt payloads instead of
    // failing the job.
    "q_tool_parse" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val perturbed = Tables.read(s, dir, "events").withColumn("props",
        when(col("event_id") % 11 === 5, lit("{not json"))
          .otherwise(col("props")))
      graft.io.JsonIngest.parseJsonColumn(perturbed, "props",
          StructType(Seq(StructField("k", IntegerType))))
        .select(col("event_id"), col("props"),
          col("props_parsed").getField("k").as("k"),
          col("props_valid"))
    }),

    // --- feature hashing (the hashing trick) ----------------------------------------
    // Fixed-dim sparse featurization with NO vocabulary: word → rolling-
    // hash mod 64 bucket, per-(doc, bucket) counts. One partial-agg
    // shuffle; collisions deterministic and replayed by the oracle.
    "q_feature_hash" -> ((s, dir) =>
      TextStats.featureHash(docs(s, dir), "doc_id", "text", dims = 64)),

    // --- greedy MAX-COVERAGE selection (vocabulary-coverage exemplars) --------------
    // Five documents whose distinct-word union covers the most corpus
    // vocabulary, greedily (Nemhauser 1-1/e guarantee) — eval-set
    // construction by COVERAGE, the objective MMR's embedding diversity
    // can't express. Subset (doc_id % 4 = 1) keeps the oracle's chained
    // round CTEs cheap; ties by doc_id replay exactly.
    "q_coverage_select" -> ((s, dir) =>
      graft.ops.Curation.coverageSelect(
        docs(s, dir).filter(col("doc_id") % 4 === 1), "doc_id", "text",
        k = 5)),

    // --- DSIR importance selection (target-domain data selection) -------------------
    // Every document scored by the whole-bit log2-likelihood ratio of
    // its hashed token profile under the TARGET vs RAW corpus
    // distributions — the "pick web data that looks like my target
    // domain" selector, as exact integers: the oracle replays the word
    // hash, both +1-smoothed 64-bucket profiles, the bitlen-difference
    // weights and the threshold. The target is content-defined (docs
    // saying "customer" ≥ 3 times — a domain, not a label), and
    // minScore = 3 sits exactly in the measured gap: every target doc
    // scores ≥ 3 on this corpus while off-domain docs top out at 2 —
    // the selection recovers the domain from distribution alone.
    "q_dsir_select" -> ((s, dir) => {
      val d = docs(s, dir)
      val target = d.filter(
        size(filter(split(lower(col("text")), " "),
          w => w === "customer")) >= 3)
      graft.ops.Curation.dsirScores(d, target,
        "doc_id", "text", dims = 64, minScore = 3L)
    }),

    // --- inverted index (salted two-phase per-key top-k) ----------------------------
    // term → (df, top-3 docs by tf): the retrieval/decontam lookup
    // structure. The per-TERM ranking is the mega-key showcase — a
    // stopword's postings are corpus-sized, so the rank runs through
    // Skew.topKPerKey (per-salt top-k, then re-rank ≤ salts·k
    // survivors), never a single-task sort of the hottest term.
    "q_inverted_index" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"),
          explode(Dedup.words(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
      graft.features.Skew
        .topKPerKey(tf, Seq("term"),
          Seq(col("tf").desc, col("doc_id").asc), k = 3, salts = 8)
        .join(dfq, Seq("term"))
        .select(col("term"), col("doc_id"), col("tf"), col("df_docs"),
          col("rnk"))
    }),

    // --- BM25 sufficient statistics (ranked retrieval, floats downstream) ---------
    // One row per (query term, doc) posting carrying every INTEGER the
    // BM25 formula consumes (tf, dl, df, N, total_dl) — the saturation
    // curve and idf log are per-row scalars the serving layer applies to
    // a result 10^6× smaller than the corpus, same contract as
    // q_lm_surprisal.
    "q_bm25" -> ((s, dir) =>
      graft.ops.Retrieval.bm25Stats(docs(s, dir), "doc_id", "text",
        Seq("spark", "hash", "window", "merge"))),

    // --- hybrid retrieval: reciprocal-rank fusion (dense ⊕ lexical) --------------
    // The RAG retrieval stack's combiner: per query doc (<5), the exact
    // dense top-10 (quantized dot, q_ann_topk's ranking) is fused with
    // the lexical top-10 (word-set Jaccard via inverted-index candidates)
    // by RRF in fixed point — scale DIV (60 + rank) summed, no score
    // calibration, no float. Fused ties break to the smaller doc_id.
    "q_rrf_fuse" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val dense = Similarity.topKByDot(e, q, 10, excludeSelf = true)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val d = docs(s, dir)
      val lex = graft.ops.Retrieval.moreLikeThisJaccard(
          d, "doc_id", "text",
          d.filter(col("doc_id") < 5), "doc_id", "text", topK = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      graft.ops.Retrieval.rrfFuse(Seq(dense, lex), topK = 10)
        .select(col("query_id"), col("doc_id"), col("rrf"), col("rank"))
    }),

    // --- retrieval eval: MRR@k / precision@k sufficient statistics ---------------
    // Per labeled query (vec_id < 5): rank of the first same-label
    // neighbor in the exact dense top-20 + the same-label count — the
    // integers behind MRR@20 and P@20 (the reciprocal stays downstream).
    // Queries with no hit keep a NULL-rank row: they ARE the metric's
    // denominator.
    "q_mrr" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_embedding"), col("label").as("q_label"))
      val ranked = Similarity.topKByDot(
          e, q.select(col("query_id"), col("q_embedding")), 20,
          excludeSelf = true)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val rels = e.select(col("vec_id").as("doc_id"), col("label"))
        .join(broadcast(q.select(col("query_id"), col("q_label"))),
          col("label") === col("q_label"))
        .select(col("query_id"), col("doc_id"))
      graft.ops.Retrieval.rankEvalAtK(ranked, rels, k = 20)
    }),

    // --- retrieval eval: nDCG/MAP hit-rank table ----------------------------------
    // q_mrr's fixture, but the FULL hit-rank multiset plus each query's
    // total relevant count (self excluded, matching excludeSelf) — the
    // exact inputs of DCG@20, IDCG and AP@20; logs stay downstream.
    "q_ndcg" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_embedding"), col("label").as("q_label"))
      val ranked = Similarity.topKByDot(
          e, q.select(col("query_id"), col("q_embedding")), 20,
          excludeSelf = true)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val rels = e.select(col("vec_id").as("doc_id"), col("label"))
        .join(broadcast(q.select(col("query_id"), col("q_label"))),
          col("label") === col("q_label"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"))
      graft.ops.Retrieval.ndcgStatsAtK(ranked, rels, k = 20)
    }),

    // --- MMR diverse selection (dedup-aware top-k) --------------------------------
    // Greedy maximal-marginal-relevance over a candidate pool: λ=0.7
    // relevance-vs-redundancy in exact ×10⁴-quantized integers, k=4
    // sequential picks each one TakeOrderedAndProject job. The oracle
    // replays the greedy chain as four chained argmax CTEs over a
    // precomputed exact pair-dot table.
    "q_mmr_select" -> ((s, dir) => {
      val e = embeds(s, dir)
      val qv = e.filter(col("vec_id") === 1L)
        .select(col("embedding")).head().getSeq[Float](0).toVector
      Similarity.mmrSelect(
        e.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id"), col("embedding")),
        qv, k = 4, lambdaBp = 7000)
    }),

    // --- EXACT set-similarity join via prefix filtering (PPJoin family) -----------
    // Every doc pair with shingle-set Jaccard ≥ 0.8, recall = 1 — the
    // exact ground truth q_minhash_pairs approximates. Candidates come
    // from a rarest-first prefix-token join (df-ascending order), exact
    // cross-multiplied verify; the oracle is the BRUTE-FORCE Jaccard
    // join, so any prefix-pruning mistake shows as a missing row.
    "q_ssjoin" -> ((s, dir) =>
      graft.ops.SSJoin.jaccardJoinExact(docs(s, dir), "doc_id", "text",
        k = 3, tauBp = 8000, maxPrefixDf = 1000L)),

    // --- cluster-consistent flag propagation (takedown spread) --------------------
    // Rows on the takedown list (doc_id % 53 = 0) taint EVERY member of
    // their near-dup component — removing the flagged copy is not
    // enough; its mirrors go too. Same MinHash pairs + components as
    // q_dup_clusters; unpaired rows keep their own flag.
    "q_label_spread" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashPairs(d, "doc_id", "text")
      graft.ops.Clusters
        .spreadFlag(d, "doc_id", col("doc_id") % 53 === 0, pairs)
        .select(col("id").as("doc_id"), col("flag_self"),
          col("flag_cluster"), col("cluster_id"))
    }),

    // --- integer-exact PageRank (TextRank keyword centrality) ---------------------
    // Power iteration as Pregel-shaped DataFrame joins over the
    // word-adjacency bigram graph: 3 rounds, all mass in floor-division
    // int64 (one decimal(38) multiply), so the oracle replays every
    // round bit-for-bit as chained CTEs. Each round = one src-keyed join
    // + one dst-keyed partial agg; plan kept O(1) by per-round
    // localCheckpoint.
    "q_pagerank" -> ((s, dir) =>
      graft.ops.Graph.pageRank(
        graft.ops.Graph.wordAdjacencyEdges(docs(s, dir), "text"),
        iters = 3)),

    // --- CSV ingest with malformed-row quarantine ---------------------------------
    // Lines staged from the transcript with every (turn_idx % 11 == 3)
    // row's turn_idx corrupted to 'x': PERMISSIVE parse keeps the good
    // fields, nulls the bad one, and preserves the raw line — the
    // quarantine can re-parse after a schema fix, and the job never
    // dies on one bad line.
    "q_csv_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_csv").toString
      turns(s, dir).select(concat(
          col("conv_id"), lit(","),
          when(col("turn_idx") % 11 === 3, lit("x"))
            .otherwise(col("turn_idx").cast("string")),
          lit(","), col("role")).as("value"))
        .write.mode("overwrite").text(s"$tmp/in")
      val schema = StructType(Seq(
        StructField("conv_id", StringType),
        StructField("turn_idx", IntegerType),
        StructField("role", StringType)))
      graft.io.CsvIngest.flagged(
        graft.io.CsvIngest.readCsv(s, s"$tmp/in", schema))
    }),

    // --- STREAMING stream-static enrichment ---------------------------------------
    // Tool-call turns replayed through the file source and joined per
    // micro-batch against a STATIC dimension frame (tool → category) —
    // the stream side never shuffles for the join (broadcast hash), and
    // the result must equal the batch join SQL.
    "q_stream_enrich" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_enrich").toString
      val watched = s"$tmp/watched"
      val t = turns(s, dir)
        .select(col("conv_id"), col("turn_idx"), col("tool"), col("ts"))
      val dim = t.filter(col("tool").isNotNull).select(col("tool")).distinct()
        .withColumn("tool_cat", substring(col("tool"), 6, 1))
      val schema = new ReplayChunks(t, 3, Seq("ts", "conv_id", "turn_idx"))
        .stage(s"$tmp/scratch", watched)
      val view = freshStreamView(s, "q_stream_enrich_sink_")
      // no replay partition pin: the stateless broadcast join keeps the
      // session's count
      drainAvailableNow(replayStream(s, schema, watched)
        .join(broadcast(dim), Seq("tool"))
        .select(col("conv_id"), col("turn_idx"), col("tool"), col("tool_cat"))
        .writeStream.outputMode("append")
        .format("memory").queryName(view))
      s.table(view)
    }),

    // --- overlapping word-window chunking -----------------------------------------
    // Document → embedding-unit splitter: 16-word windows, stride 8
    // (8 words of overlap), scan-side generate + slice projections.
    "q_chunk_words" -> ((s, dir) =>
      TextStats.chunkWords(docs(s, dir), "doc_id", "text",
        chunkWords = 16, strideWords = 8)),

    // --- STREAM-STREAM event-time interval join -----------------------------------
    // User turns ⋈ tool turns of the same conversation within one hour,
    // both sides replayed as watermarked file streams; Spark's symmetric
    // hash join buffers only (watermark delay + window) of state. Must
    // equal the batch interval-join SQL.
    "q_stream_join" -> ((s, dir) => {
      import graft.streaming.StreamingFeatures
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_sjoin").toString
      val t = turns(s, dir)
      val lBatch = t.filter(col("role") === "user")
        .select(col("conv_id"), col("turn_idx").as("u_turn_idx"),
          col("ts").as("u_ts"))
      val rBatch = t.filter(col("tool").isNotNull)
        .select(col("conv_id"), col("turn_idx").as("t_turn_idx"),
          col("tool"), col("ts").as("t_ts"))
      // 2 files/side = 4 micro-batches total: still proves cross-batch
      // matching on both sides while halving the replay's state-commit
      // cadence (this query was the bench replay tail at 3/side)
      def replaySide(df: DataFrame, tsCol: String, sub: String): DataFrame =
        replayStream(s, new ReplayChunks(df, 2, Seq(tsCol))
          .stage(s"$tmp/scratch_${sub}_", s"$tmp/$sub"), s"$tmp/$sub")
      val lStream = replaySide(lBatch, "u_ts", "left")
      val rStream = replaySide(rBatch, "t_ts", "right")
      val view = freshStreamView(s, "q_stream_join_sink_")
      // a stream-stream join runs 4 state-store instances per shuffle
      // partition per batch: the replay partition count matters most here
      runReplay(s)(StreamingFeatures
        .intervalJoin(lStream, "u_ts", rStream, "t_ts", "conv_id",
          windowSec = 3600L, watermark = "2 hours")
        .select(col("conv_id"), col("u_turn_idx"), col("t_turn_idx"),
          col("tool"))
        .writeStream.outputMode("append")
        .format("memory").queryName(view))
      s.table(view)
    }),

    // --- deterministic exact-k sample per stratum ---------------------------------
    // The k smallest fmix64 keys per lang — an exact-size seedless
    // uniform sample, ranked by the two-phase cumsum (packShards with
    // unit weights), never a per-stratum sort of real rows.
    "q_sample_topk" -> ((s, dir) =>
      graft.ops.Curation.sampleExactPerStratum(
          docs(s, dir).select("doc_id", "lang"), "doc_id", "lang", 20L)
        .select("doc_id", "lang")),

    // --- ridge quality model: exact sufficient statistics ------------------------
    // The corpus reduces to ONE X'X / X'y row (decimal(38) partial agg —
    // exact at 10^12 rows); the d×d solve happens on the driver
    // (QualityModel.fitRidge, pinned by LinearFitSpec). The stats row is
    // the part that touches data, so it is the part under the oracle.
    "q_linfit_stats" -> ((s, dir) => {
      val feats = graft.ops.QualityModel.features(col("text")).map(_._2)
      graft.ops.QualityModel.sufficientStats(
        docs(s, dir), feats, (col("lang") === "en").cast("long"))
    }),

    // --- ridge quality model: fixed-point scoring --------------------------------
    // Published basis-point weights applied as an exact integer dot —
    // a scan-fused codegen projection, replayed verbatim by the oracle.
    "q_quality_score" -> ((s, dir) => {
      val feats = graft.ops.QualityModel.features(col("text")).map(_._2)
      docs(s, dir).select(col("doc_id"),
        graft.ops.QualityModel.scoreFixedPoint(feats, qualityWeightsBp)
          .as("score_fp"))
    }),

    // --- KMV distinct-cardinality sketch ------------------------------------------
    // Distinct users per event type via the k-minimum-values order
    // statistic: O(k) mergeable state, only k-long arrays cross the
    // shuffle. The fmix64 bijection makes the k-th minimum exactly
    // replayable (the oracle sorts the true distinct hash set).
    "q_kmv_distinct" -> ((s, dir) =>
      graft.ops.Sketches.kmvDistinct(
        Tables.read(s, dir, "events"), Seq("event_type"), "user_id", 128)),

    // --- HyperLogLog registers as data -----------------------------------------------
    // The mergeable cardinality sketch with every register byte under
    // the oracle: 60-bit md5 key, bucket = k mod 256, rho via bin()
    // bitlen — no float log2, no RNG, merge = groupBy-max.
    "q_hll" -> ((s, dir) =>
      graft.ops.Sketches.hllRegisters(
        docs(s, dir), col("text"), p = 8)),

    // distinct texts per source as per-group registers — one
    // (group, bucket)-keyed exchange, map-side max
    "q_hll_by" -> ((s, dir) =>
      graft.ops.Sketches.hllRegistersBy(
        docs(s, dir), Seq("source"), col("text"), p = 8)),

    // --- Cohen's kappa (labeler agreement) ---------------------------------------------
    // Do two deterministic labelers agree beyond chance? Exact n /
    // n_agree / marginal-product pe_num in decimal(38).
    "q_kappa" -> ((s, dir) =>
      graft.ops.Analytics.kappaExact(
        Tables.read(s, dir, "events"),
        col("event_type"),
        when(col("value") < 20.0, "view")
          .when(col("value") < 40.0, "click")
          .when(col("value") < 60.0, "signup")
          .when(col("value") < 80.0, "purchase")
          .otherwise("error"))),

    // --- Fleiss' kappa sufficient statistics (multi-rater agreement) ------------
    // Three deterministic rule-labelers rate every event into one
    // 5-class alphabet: the event_type itself, q_kappa's value-bucket
    // rater (abstaining — null — on null value instead of q_kappa's
    // otherwise-'error'), and a props-length rater. Items where any
    // rater abstains go ragged and are dropped + audited (classic
    // Fleiss needs a constant rater count per item).
    "q_fleiss" -> ((s, dir) => {
      val e = Tables.read(s, dir, "events")
      val classes = array(lit("view"), lit("click"), lit("signup"),
        lit("purchase"), lit("error"))
      val r1 = e.select(col("event_id").as("item"),
        col("event_type").as("label"))
      val r2 = e.select(col("event_id").as("item"),
        when(col("value") < 20.0, "view")
          .when(col("value") < 40.0, "click")
          .when(col("value") < 60.0, "signup")
          .when(col("value") < 80.0, "purchase")
          .when(col("value").isNotNull, "error").as("label"))
      val r3 = e.select(col("event_id").as("item"),
        element_at(classes,
          (pmod(length(col("props")), lit(5)) + 1).cast("int")).as("label"))
      graft.ops.Analytics.fleissStats(
        r1.unionAll(r2).unionAll(r3), "item", "label", nRaters = 3)
    }),

    // --- exact Spearman rank correlation ----------------------------------------------
    // Do two quality signals agree? Average-rank Spearman over
    // (n_chars, space count) as exact decimal(38) sufficient statistics;
    // both rank maps run the two-phase chunk-carry prefix.
    "q_spearman" -> ((s, dir) =>
      graft.ops.Stats.spearmanExact(
        docs(s, dir).filter(col("text").isNotNull),
        col("n_chars"),
        length(col("text")) - length(replace(col("text"), lit(" "), lit(""))),
        chunkSpan = 64.0)),

    // --- deterministic Bloom membership pre-filter --------------------------------
    // Standing-corpus text digests packed into a 256-word filter; the
    // delta batch probes it as a zero-shuffle codegen'd projection
    // (filter as a reference object). true_dup is the exact answer —
    // every true_dup row must have bloom_hit (no false negatives); the
    // surplus bloom_hit rows are the (deterministic) false positives.
    "q_bloom_filter" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
      val key = conv(substring(md5(col("text").cast("binary")), 1, 15),
        16, 10).cast("long")
      val standing = d.filter(col("doc_id") % 3 =!= 0).select(key.as("k"))
      // delta = genuinely-new docs (parity 0) + re-ingested members
      // (parity 1 re-id'd): the latter MUST all hit (no false negatives)
      val delta = d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), key.as("k"))
        .unionAll(d.filter(col("doc_id") % 9 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"), key.as("k")))
      graft.ops.Sketches
        .membershipWithBloomFastPath(delta, "k", standing, 256, 3)
        .select(col("doc_id"), col("bloom_hit"),
          col("is_member").as("true_dup"))
    }),

    // --- whole-conversation exact dedup ---------------------------------------------
    // Conversations re-ingested under new ids (every 7th user's conv
    // relabeled) must collapse onto the original: digest = md5 of the
    // ordered turn texts, kept = min conv_id per digest. The 'd'-prefix
    // relabels sort after 'c', so originals always win.
    "q_conv_dedup" -> ((s, dir) => {
      val t = turns(s, dir)
      val reIngested = t
        .filter(substring(col("conv_id"), 2, 10).cast("long") % 7 === 0)
        .withColumn("conv_id", concat(lit("d"), substring(col("conv_id"), 2, 10)))
      graft.features.ConvFeatures.dedupConversations(t.unionByName(reIngested))
    }),

    // --- cross-conversation SUB-dialogue duplication ---------------------------------
    // Forked/replayed sessions: every 9th conversation's first 6 turns
    // are re-ingested under a 'd' prefix — whole-conversation digests
    // miss them (the tails differ), but the copies share their 3-turn
    // text shingles with the source, so each must pair with it at
    // containment 10000 bp (unless a shingle is template-hot: df > 20
    // conversations excludes it, the stated guard).
    "q_subdialogue_dup" -> ((s, dir) => {
      val t = turns(s, dir).select("conv_id", "turn_idx", "text")
      val copies = t
        .filter(substring(col("conv_id"), 2, 10).cast("long") % 9 === 0 &&
          col("turn_idx") < 6)
        .withColumn("conv_id", concat(lit("d"), substring(col("conv_id"), 2, 10)))
      Dedup.subdialoguePairs(t.unionByName(copies), "conv_id", "turn_idx",
        "text", k = 3, maxShingleDf = 20)
    }),

    // --- training-example factory (context + label + split, ONE exchange) ----------
    // The engine's end-to-end point for the transcript tier: per user
    // turn, trailing 3-turn context (strictly preceding), forward
    // reply-latency label (strictly following), temporal split tag —
    // both window frames share one conv_id sort, so the whole factory
    // costs ONE shuffle (spec-asserted).
    "q_example_factory" -> ((s, dir) =>
      graft.features.ExampleFactory.examples(
        turns(s, dir), lookback = 3,
        cutoffEpochSec = 1705363200L, embargoSec = 86400L)),

    // --- multi-horizon rolling features (one exchange, three frames) ---------------
    // Trailing turn counts at 1 h / 6 h / 24 h per conversation — all
    // three horizons over ONE partitionBy(conv_id) sort; adding a
    // horizon adds a frame, never a shuffle.
    "q_rolling_multi" -> ((s, dir) =>
      graft.features.Windows.rollingMulti(
        turns(s, dir).select("conv_id", "turn_idx", "ts"),
        Seq("conv_id"), "ts", Seq(3600L, 21600L, 86400L),
        count(lit(1)), "n_prev")
        .select(col("conv_id"), col("turn_idx"),
          col("n_prev_3600s"), col("n_prev_21600s"), col("n_prev_86400s"))),

    // --- role-transition matrix ----------------------------------------------------
    // Corpus dialogue-structure fingerprint: (role → next role) counts.
    "q_role_transitions" -> ((s, dir) =>
      graft.features.ConvFeatures.roleTransitions(turns(s, dir))),

    // --- exponentially-decayed trailing feature (exact EWMA family) -----------------
    // Per turn, the decayed sum of the trailing 8 turns' text lengths
    // with integer 2^k weights (current ×128 … 7-back ×1): the
    // "recent activity matters more" feature, bit-exact (no float decay
    // constant). One conv_id Exchange feeds all 8 lag frames.
    "q_ewma" -> ((s, dir) =>
      graft.features.Windows.decayedSum(
          turns(s, dir).select(col("conv_id"), col("turn_idx"), col("ts"),
            coalesce(char_length(col("text")).cast("long"), lit(0L)).as("v")),
          Windows.turnWindow, col("v"), horizon = 8, as = "decayed_len")
        .select(col("conv_id"), col("turn_idx"), col("v"), col("decayed_len"))),

    // --- bin-bucketed range join (no equi key) --------------------------------------
    // Which turns (any conversation) fall inside the first hour of every
    // 10th conversation: a pure point-in-interval join with NO equi key,
    // normally a BroadcastNestedLoopJoin — here bin-bucketed (3600 s
    // bins, interval ≤ 2 bins) so it runs as an equi-join on the bin.
    // Oracle = the plain range join.
    "q_range_join" -> ((s, dir) => {
      val t = turns(s, dir)
      val iv = t.groupBy(col("conv_id").as("iv_conv"))
        .agg(min(col("ts")).as("start_ts"))
        .filter(substring(col("iv_conv"), 2, 10).cast("long") % 10 === 0)
        .withColumn("end_ts",
          timestamp_seconds(col("start_ts").cast("long") + 3600L))
      graft.features.RangeJoin.pointInInterval(
          t.select("conv_id", "turn_idx", "ts"), "ts",
          iv, "start_ts", "end_ts", binWidthSec = 3600L)
        .select(col("conv_id"), col("turn_idx"), col("iv_conv"))
    }),

    // --- interval × interval OVERLAP join ---------------------------------------------
    // Which conversation sessions were live during an error-incident
    // window (±60 s of each error event)? Binned equi key, each
    // overlapping pair kept exactly once in its overlap's left-edge
    // bin — no nested-loop join, no dedup pass.
    "q_interval_join" -> ((s, dir) => {
      val t = turns(s, dir)
      val sess = graft.features.Sessionize(
          t, Seq("conv_id"), "ts", 1800L, Seq("turn_idx"))
        .groupBy(col("conv_id"), col("session_seq"))
        .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      val win = Tables.read(s, dir, "events")
        .filter(col("event_type") === "error")
        .select(col("event_id"),
          (col("ts").cast("long") - 60L).as("w_start"),
          (col("ts").cast("long") + 60L).as("w_end"))
      graft.features.RangeJoin.intervalOverlap(
          sess, "s_start", "s_end", win, "w_start", "w_end",
          binWidthSec = 3600L, maxBinsPerInterval = 1024)
        .select(col("conv_id"), col("session_seq"), col("event_id"))
    }),

    // --- Count-Min frequency sketch -------------------------------------------------
    // Word frequencies through a depth-3 × width-32 CMS (deliberately
    // narrow so collisions appear): est ≥ true for every word, one-sided
    // by construction, with both counts + overestimate in the output.
    // The sketch is ≤ 96 counter rows no matter the corpus size.
    "q_cms_freq" -> ((s, dir) => {
      val words = docs(s, dir).filter(col("text").isNotNull)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      val key = conv(substring(md5(col("word").cast("binary")), 1, 15),
        16, 10).cast("long")
      val keyed = words.select(col("word"), key.as("k"))
      val sketch = graft.ops.Sketches.cmsBuild(keyed, col("k"), 3, 32)
      val truth = keyed.groupBy("word", "k").agg(count(lit(1)).as("true_count"))
      graft.ops.Sketches.cmsEstimate(truth, col("k"), sketch, 3, 32)
        .withColumn("overestimate", col("est_count") - col("true_count"))
    }),

    // --- Unicode NFC normalization -------------------------------------------------
    // Every 'a' is decomposed to 'a' + COMBINING ACUTE (U+0301), then
    // NFC recomposes to 'á' — same tables as the oracle's
    // nfc_normalize, exercised on real corpus text. Pipelines run this
    // before content hashing so decomposed/composed encodings of the
    // same characters dedup together.
    "q_nfc_norm" -> ((s, dir) => {
      val decomposed = regexp_replace(col("text"), "a", "a\u0301")
      docs(s, dir).filter(col("text").isNotNull)
        .select(
          col("doc_id"),
          length(decomposed).as("n_decomposed"),
          TextStats.nfcNormalize(decomposed).as("text_nfc"))
        .withColumn("n_nfc", length(col("text_nfc")))
    }),

    // --- temporal train/embargo/test split ----------------------------------------
    // Cutoff 2024-01-16T00:00Z with a 1-day embargo band excluded from
    // BOTH sides, so trailing-window features never straddle the
    // boundary. Oracled via the boundary audit (counts + min/max second
    // per split); the per-row column is the same pure time function.
    "q_temporal_split" -> ((s, dir) =>
      graft.features.TemporalSplit.audit(
        turns(s, dir), "ts", 1705363200L, 86400L)),

    // --- deterministic negative sampling ------------------------------------------
    // 4 hash-drawn negatives per document over the dense id space;
    // self-draws dropped (never re-rolled — keeps every row
    // independently replayable). Zero-shuffle scan projection; N rides
    // in as a broadcast count.
    "q_neg_sample" -> ((s, dir) =>
      graft.ops.Curation.negativeSample(
        docs(s, dir).select("doc_id"), "doc_id", 4)),

    // --- skew-aware join (hot keys broadcast, cold keys shuffled) ------------------
    // turns ⋈ conversation dims with conversations above 66 turns routed
    // through a broadcast of their dim rows — the mega-conversation
    // never enters the shuffle join. Output ≡ the plain join (the oracle
    // is exactly that); only the route differs. Threshold 66 splits the
    // fixture roughly in half so BOTH paths carry rows.
    "q_skew_join" -> ((s, dir) => {
      val t = turns(s, dir).select("conv_id", "turn_idx", "role")
      val dim = graft.features.ConvFeatures.summarize(turns(s, dir))
        .select(col("conv_id"), col("n_turns"), col("duration_sec"))
      graft.features.Skew.skewJoin(t, dim, Seq("conv_id"), 66L)
    }),

    // --- KMV sketch MERGE (sketch-of-sketches) ------------------------------------
    // Per-(event_type, event_id%4) sketches re-aggregated to per-type
    // estimates: KMV merge is lossless (the union's k smallest are among
    // each part's k smallest), so the merged estimate equals the
    // from-scratch one — the oracle IS q_kmv_distinct's — while only
    // k-long arrays ever move. This is the cross-day / cross-source
    // cardinality rollup a 100 TB corpus runs nightly.
    "q_kmv_merge" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      val fine = graft.ops.Sketches.kmvSketch(
        ev.withColumn("part", col("event_id") % 4),
        Seq("event_type", "part"), "user_id", 128)
      graft.ops.Sketches.kmvEstimate(
        graft.ops.Sketches.kmvMergeSketches(fine, Seq("event_type"), 128),
        Seq("event_type"), 128)
    }),

    // --- PPS (weight-proportional) sampling ---------------------------------------
    // Expected 30 docs per lang, inclusion probability ∝ n_chars, as a
    // broadcast-total + scan-fused exact-decimal predicate; p_num/p_den
    // is the exact Horvitz–Thompson inclusion probability.
    "q_pps_sample" -> ((s, dir) =>
      graft.ops.Curation.samplePps(
        docs(s, dir).select("doc_id", "lang", "n_chars"),
        "doc_id", "lang", col("n_chars"), 30L)),

    // --- trailing turn-context assembly -------------------------------------------
    // Per turn: the previous ≤3 turns' role-tagged text — point-in-time
    // correct by frame construction (ends at 1 PRECEDING), bounded
    // window state, one conv_id exchange.
    "q_turn_context" -> ((s, dir) =>
      graft.features.ConvFeatures.turnContext(turns(s, dir), 3)),

    // --- consecutive same-role turn merge -----------------------------------------
    // The normalization chat-template renderers assume: maximal
    // same-role runs in (ts, turn_idx) order collapse to one turn
    // (bodies joined by \n, null text rendered empty), conversations
    // re-indexed densely, n_merged auditing the collapse.
    "q_merge_turns" -> ((s, dir) =>
      graft.features.ConvFeatures.mergeTurns(turns(s, dir))),

    // --- context-budget suffix trim --------------------------------------------------
    // Standard chat truncation: system turns always survive; of the
    // rest, keep the longest suffix whose whitespace-token total fits
    // the 64-token budget (an oversized turn drops even when most
    // recent — the suffix property stays exact).
    "q_ctx_window" -> ((s, dir) =>
      graft.features.ConvFeatures.contextBudgetTrim(
        turns(s, dir), budgetTokens = 64L)),

    // --- END-TO-END SFT dataset build under ONE oracle ----------------------------
    // The transcript-axis twin of q_corpus_pipeline: same-role merge →
    // context-budget trim (64 tokens) → render to one training string
    // per conversation → token-budget shard packing (512) over the
    // survivors, all one declarative DAG. Merged turns lose per-turn
    // tool identity, so the render's tool tag is null by construction.
    // Conversations whose every non-system turn overflows the budget
    // drop out before rendering — on both engines.
    "q_sft_pipeline" -> ((s, dir) => {
      import graft.features.ConvFeatures
      val merged = ConvFeatures.mergeTurns(turns(s, dir))
        .withColumnRenamed("merged_idx", "turn_idx")
      val trimmed = ConvFeatures
        .contextBudgetTrim(merged, budgetTokens = 64L)
        .withColumn("tool", lit(null).cast("string"))
        .drop("n_tokens", "tail_tokens")
      val rendered = ConvFeatures.renderConversation(trimmed)
        .withColumn("__ord", substring(col("conv_id"), 2, 18).cast("long"))
        .withColumn("stratum", lit("all"))
      graft.ops.Curation.packShards(
        rendered, "stratum", "__ord",
        TextStats.wsTokenCount(col("sft_text")), budgetTokens = 512L)
        .select(col("conv_id"), col("n_turns"), col("n_chars"),
          col("n_tokens"), col("shard_seq"))
    }),

    // --- BOUNDED-STATE streaming dedup (watermark eviction) -----------------------
    // dropDuplicatesWithinWatermark: first occurrence per content hash
    // wins and its state is evicted once the watermark passes — the
    // bounded-state twin of q_stream_dedup. Event times span 900 s
    // against a 1 h delay, so every duplicate lands within its
    // original's lifetime and the output equals exact batch dedup.
    "q_stream_dedup_wm" -> ((s, dir) => {
      import graft.streaming.StreamingFeatures
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_sdwm").toString
      val watched = s"$tmp/watched"
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val union = d.unionAll(
        d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val hashed = union.select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("hash"),
        timestamp_seconds(lit(1700000000L) + (col("doc_id") % 900L)).as("ts"))
      val schema = new ReplayChunks(hashed, 4, Seq("hash", "doc_id"))
        .stage(s"$tmp/scratch", watched)
      val view = freshStreamView(s, "stream_dedup_wm_")
      runReplay(s)(StreamingFeatures
        .dedupWithinWatermark(replayStream(s, schema, watched), "ts",
          Seq("hash"), "1 hour")
        .select(col("doc_id"), col("hash"))
        .writeStream.outputMode("append").format("memory").queryName(view)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(view)
    }),

    // --- MAD robust outlier flags -----------------------------------------------
    // Heavy-tail-safe twin of q_outliers' 3σ gate: med = exact per-lang
    // median doc length, mad = exact median |v − med|, flag = the
    // division-free cross-multiply |v − med|·10⁴ > 30000·mad ("beyond 3
    // MADs"). Both medians ride the two-phase distributed rank
    // selection, so a mega-language never single-task sorts.
    "q_mad_outliers" -> ((s, dir) =>
      graft.ops.Stats.madOutliers(
        docs(s, dir), "lang", col("n_chars"), "doc_id", kBp = 30000L)),

    // --- winsorization at exact per-group quantiles -------------------------------
    // Clamp doc length into [p5, p95] per language — the tail-taming
    // step before any mean/σ consumer. Bounds are exact discrete
    // quantiles (elements of the data), the clip is a projection after
    // a broadcast-sized join.
    "q_winsorize" -> ((s, dir) =>
      graft.ops.Stats.winsorize(
        docs(s, dir), "lang", col("n_chars"), "doc_id",
        loBp = 500, hiBp = 9500)),

    // --- mergeable log₂-histogram quantile sketch ---------------------------------
    // DDSketch's shape at γ = 2: bucket = bitlength(v) via the same
    // unpadded-bin() idiom as the HLL rho, ≤ 65 counters per group.
    // Built as TWO half-corpus sketches merged counter-wise (the
    // lossless rollup), then rank-selected into factor-2 quantile
    // brackets [2^(b−1), 2^b − 1] — the O(65)-state answer to any later
    // quantile question, where the exact family re-scans the corpus.
    "q_loghist" -> ((s, dir) => {
      val d = docs(s, dir)
      val a = graft.ops.Sketches.logHistogram(
        d.filter(col("doc_id") % 2 === 0), "lang", col("n_chars"))
      val b = graft.ops.Sketches.logHistogram(
        d.filter(col("doc_id") % 2 =!= 0), "lang", col("n_chars"))
      graft.ops.Sketches.logHistQuantiles(
        graft.ops.Sketches.logHistMerge(a, b, "lang"), "lang",
        Seq(5000, 9900))
    }),

    // --- Bloom-PRUNED as-of join (proven lossless) ---------------------------------
    // The 100 TB as-of shape when anchors cover a sliver of the feed's
    // key space: a 4096-bit Bloom over the anchors' conv keys prunes the
    // feed BEFORE its shuffle (no false negatives ⇒ no lost matches;
    // false positives only cost shuffle rows). The oracle is the UNPRUNED
    // as-of — pruning must not change one byte of the answer.
    "q_bloom_prune" -> ((s, dir) => {
      val t = turns(s, dir)
      val ckey = conv(substring(md5(col("conv_id").cast("binary")), 1, 15),
        16, 10).cast("long")
      val anchors = t.filter(col("role") === "assistant" && ckey % 4 === 0)
        .select("conv_id", "turn_idx", "ts")
      val obs = t.filter(col("tool").isNotNull)
        .groupBy(col("conv_id"), col("ts"))
        .agg(max_by(col("tool"), col("turn_idx")).as("last_tool"))
      val words = graft.ops.Sketches.bloomWords(
        graft.ops.Sketches.bloomBuild(anchors, ckey, nWords = 64, nHashes = 4),
        nWords = 64)
      val pruned = graft.ops.Sketches
        .bloomMightContain(obs, ckey, words, nHashes = 4)
        .filter(col("bloom_hit")).drop("bloom_hit")
      AsOf.joinBackward(anchors, pruned, Seq("conv_id"))
        .select("conv_id", "turn_idx", "last_tool")
    }),

    // --- streaming Count-Min frequency gauge ----------------------------------------
    // The SAME Sketches.cmsBuild code on the live path: a streaming
    // groupBy(row, counter).count is legal with O(depth·width) state in
    // complete mode — the running hot-key detector needs no bespoke
    // operator. File-source replay across 4 micro-batches must land
    // counter-for-counter on the batch oracle.
    "q_stream_cms" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamcms").toString
      val watched = s"$tmp/watched"
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val schema = new ReplayChunks(d, 4, Seq("doc_id"))
        .stage(s"$tmp/scratch", watched)
      val name = freshStreamView(s, "stream_cms_")
      runReplay(s) {
        val keyed = replayStream(s, schema, watched)
          .filter(col("text").isNotNull)
          .select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
          .select(conv(substring(md5(col("word").cast("binary")), 1, 15),
            16, 10).cast("long").as("k"))
        graft.ops.Sketches.cmsBuild(keyed, col("k"), 3, 32)
          .writeStream.outputMode("complete").format("memory")
          .queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
      }
      s.table(name).select(col("row_idx"), col("counter_idx"), col("cnt"))
    }),

    // --- Gram-matrix PCA/covariance sufficient statistics ---------------------------
    // Per dimension pair i ≤ j of the 64-dim embeddings: exact-integer
    // (n, Σqᵢ, Σqⱼ, Σqᵢqⱼ) over the shared ×10⁴ quantization —
    // cov·n² = n·s_ij − s_i·s_j with zero float drift, 2080 output keys
    // no matter the corpus size, one partial-agg shuffle.
    "q_gram_stats" -> ((s, dir) =>
      Similarity.gramStats(embeds(s, dir), col("embedding"))),

    // --- topic segmentation by lexical drift ----------------------------------------
    // New segment when a turn's word-set Jaccard vs the previous turn
    // drops below 0.2 — integer cross-multiply, no division; lag +
    // running boundary count share ONE conv_id window.
    "q_topic_segments" -> ((s, dir) =>
      graft.features.ConvFeatures.topicSegments(turns(s, dir),
        tauBp = 2000L)),

    // --- l-diversity audit (homogeneity-attack gate) --------------------------------
    // k-anonymity's companion: per (lang, source) combo, row count +
    // exact distinct sensitive values (doc length) + the meets-l flag.
    "q_ldiversity" -> ((s, dir) =>
      graft.ops.Privacy.lDiversityAudit(
        docs(s, dir), Seq("lang", "source"), col("n_chars"), l = 5L)),

    // --- EXACT Gini coefficient of corpus mass --------------------------------------
    // "Does 1% of the docs carry half the chars?" — the concentration
    // gauge behind mixture/dedup decisions, as an exact rational from
    // the two-phase global rank (no single-task sort). Outputs cast to
    // long for the oracle (library keeps decimal(38) headroom).
    "q_gini" -> ((s, dir) =>
      graft.ops.Stats.giniStats(docs(s, dir), col("n_chars"), "doc_id")
        .select(col("n"), col("total").cast("long").as("total"),
          col("gini_num").cast("long").as("gini_num"),
          col("gini_den").cast("long").as("gini_den"))),

    // --- Lorenz-curve deciles (the table behind q_gini) -----------------------------
    // "The bottom 10% of docs hold X chars" per decile, exact integer
    // boundaries (global-rank phases, not ntile) and exact cumulative
    // mass; division is the consumer's.
    "q_lorenz" -> ((s, dir) =>
      graft.ops.Stats.lorenzCurve(docs(s, dir), col("n_chars"), "doc_id",
          nBuckets = 10)
        .select(col("bucket"), col("n_docs"),
          col("mass").cast("long").as("mass"), col("cum_docs"),
          col("cum_mass").cast("long").as("cum_mass"), col("total_docs"),
          col("total_mass").cast("long").as("total_mass"))),

    // --- TRAINED quantile-cut binning (leakage-free discretization) -----------------
    // Quartile cuts learned on the fmix64-gated 80% REFERENCE split
    // only (the exact-rank contract), then applied to EVERY document as
    // one codegen'd when-sum — bins stay comparable across splits and
    // the held-out 20% never influences its own feature. The cuts
    // artifact is 3 rows (driver-sized by construction).
    "q_bin_apply" -> ((s, dir) => {
      val d = docs(s, dir)
      val ref = d.filter(graft.ops.Curation.sampleGateBp(col("doc_id")) < 8000)
      val cuts = graft.ops.Stats.quantileCuts(ref, col("n_chars"), "doc_id", 4)
        .orderBy("cut_idx").collect().map(_.getLong(1)).toSeq
      d.select(col("doc_id"), col("n_chars"),
        (graft.ops.Curation.sampleGateBp(col("doc_id")) < 8000).as("in_ref"),
        graft.ops.Stats.applyCuts(col("n_chars"), cuts).as("bin"))
    }),

    // --- t-closeness audit (skewness-attack gate; exact ordered EMD) ----------------
    // The release ladder's last rung: per (lang, source) combo, the
    // EMD between the combo's length-bucket distribution and the
    // corpus's, as the exact rational (emd_num, emd_den) — a combo can
    // be k-anonymous and l-diverse yet leak "this combo's docs are all
    // long". Sensitive = n_chars div 100 (the generalized value, as
    // t-closeness prescribes); t = 0.25. Outputs cast to long for the
    // oracle (library keeps decimal(38) for 10¹²-row headroom).
    "q_tcloseness" -> ((s, dir) =>
      graft.ops.Privacy.tClosenessAudit(
          docs(s, dir), Seq("lang", "source"),
          (col("n_chars") / 100).cast("long"), tBp = 2500)
        .select(col("lang"), col("source"), col("n"),
          col("emd_num").cast("long").as("emd_num"),
          col("emd_den").cast("long").as("emd_den"), col("meets_t"))),

    // --- quantile normalization onto a reference group ------------------------------
    // Every language's doc-length distribution mapped exactly onto en's:
    // rank r of n → reference value at ceil(r·n_ref/n). Ranks are
    // two-phase (no single-task group sorts); v_norm is an element of
    // the reference data, never interpolated.
    "q_quantile_norm" -> ((s, dir) =>
      graft.ops.Stats.quantileNormalize(
        docs(s, dir), "lang", col("n_chars"), "doc_id", refGroup = "en")),

    // --- streaming CDC latest-wins view ----------------------------------------------
    // The SAME Snapshot.latestWins kernel on the live path: per-key
    // max_by struct agg in complete mode = the continuously-maintained
    // materialized view of an upsert/delete feed, O(live keys) state.
    // File-source replay across 4 micro-batches must equal the batch
    // merge (associativity, proven in Scd2CdcSpec, is what makes the
    // arbitrary chunking legal).
    "q_stream_cdc" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_verify_streamcdc").toString
      val watched = s"$tmp/watched"
      val feed = Tables.read(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"),
          when(col("event_type") === "error" &&
              col("ts") >= lit("2024-01-16").cast("timestamp"), "d")
            .otherwise("u").as("op"))
      val schema = new ReplayChunks(feed, 4, Seq("event_id"))
        .stage(s"$tmp/scratch", watched)
      val name = freshStreamView(s, "stream_cdc_")
      runReplay(s)(graft.ops.Snapshot.latestWins(
          replayStream(s, schema, watched), "user_id", Seq("ts", "event_id"))
        .writeStream.outputMode("complete").format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt"))
      s.table(name).select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"), col("op"))
    }),

    // --- order-independent corpus digest: replica audit ------------------
    // A "replica" of documents with one row dropped per ~thousand ids and
    // one text mutated; per source the (count, digest) pair must flag
    // exactly the perturbed groups and pass the rest. The digest is a
    // layout-independent multiset checksum, so the replica side is
    // deliberately repartitioned differently — migration verification
    // with one scan per side and no sort anywhere.
    "q_dataset_digest" -> ((s, dir) => {
      val canon = concat_ws("\u001f",
        col("doc_id").cast("string"), col("lang"),
        col("n_chars").cast("string"),
        coalesce(col("text"), lit(" ")))
      val a = docs(s, dir)
      val b = a.filter(col("doc_id") % 997 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 1009 === 500, concat(col("text"), lit("~")))
            .otherwise(col("text")))
        .repartition(7)
      val da = graft.ops.Audit.datasetDigest(a, canon, Seq("source"))
      val db = graft.ops.Audit.datasetDigest(b, canon, Seq("source"))
        .withColumnRenamed("n_rows", "n_rows_b")
        .withColumnRenamed("digest", "digest_b")
      da.join(db, Seq("source"), "full_outer")
        .select(col("source"), col("n_rows"), col("digest"),
          col("n_rows_b"), col("digest_b"),
          (col("n_rows") <=> col("n_rows_b") &&
            col("digest") <=> col("digest_b")).as("replica_ok"))
    }),

    // --- exact join-size forecast before a self-join ---------------------
    // lineitem ⋈ lineitem on l_partkey: the hot-key profile a pipeline
    // reads before launching a dedup-candidate-shaped self-join. Only the
    // two per-key COUNT frames ever meet; the forecast total is the exact
    // cardinality the real join would produce.
    "q_join_size" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      graft.ops.Audit.joinSizeProfile(li, li, "l_partkey", "l_partkey",
        topK = 10)
    }),

    // --- Neyman allocation: variance-proportional sampling plan ----------
    // Budget 300 docs split across languages ∝ n·σ of n_chars, then
    // applied with the deterministic fmix gate; the oracle replays the
    // exact integer moments, the one IEEE sqrt, and the gate.
    "q_neyman" -> ((s, dir) => {
      val d = docs(s, dir)
      val plan = graft.ops.Curation.neymanPlan(d, "lang", col("n_chars"),
        budget = 300)
      val sampled = graft.ops.Curation.sampleByPlan(d, "doc_id", "lang", plan)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      plan.join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_avail"), col("w_nsigma"), col("alloc"),
          col("rate_bp"), coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
    }),

    // --- reply-tree ancestor paths (pointer doubling) --------------------
    // Turns reply to a deterministic hash-chosen EARLIER turn (the
    // branched shape agent transcripts have); every turn resolves its
    // root, depth and full ancestor path in O(log depth) self-joins.
    // The oracle walks the same forest with a recursive CTE.
    "q_thread_paths" -> ((s, dir) => {
      val id64 = expr("CAST(substr(conv_id, 2) AS BIGINT)") * 1048576L +
        col("turn_idx")
      val withParent = turns(s, dir).select(col("conv_id"), col("turn_idx"))
        .withColumn("parent_idx",
          when(col("turn_idx") === 0, lit(null).cast("int"))
            .otherwise((graft.ops.Curation.sampleGateBp(id64) %
              col("turn_idx")).cast("int")))
      graft.ops.Graph.treePaths(withParent, "conv_id", "turn_idx",
          "parent_idx")
        .select(col("conv_id"), col("turn_idx"), col("root").as("root_idx"),
          col("depth"), col("path"))
    }),

    // --- branched-transcript DFS linearization ---------------------------
    // The same hash-chosen reply forest rendered into the order a
    // trainer consumes it: depth-first pre-order, every subtree
    // contiguous, siblings by turn id. One sort per conversation over a
    // padded root-to-node key; the oracle rebuilds the key from the
    // recursive walk and ranks it with a plain window.
    "q_tree_order" -> ((s, dir) => {
      val id64 = expr("CAST(substr(conv_id, 2) AS BIGINT)") * 1048576L +
        col("turn_idx")
      val withParent = turns(s, dir).select(col("conv_id"), col("turn_idx"))
        .withColumn("parent_idx",
          when(col("turn_idx") === 0, lit(null).cast("int"))
            .otherwise((graft.ops.Curation.sampleGateBp(id64) %
              col("turn_idx")).cast("int")))
      graft.ops.Graph.dfsOrder(withParent, "conv_id", "turn_idx",
        "parent_idx")
    }),

    // --- recency-decayed conversation profile at an anchor ---------------
    // Char mass per conversation, halved per whole day of age at the
    // corpus-max anchor — integer stepped decay (bit-exact across
    // engines), future rows excluded by the ≤-anchor leakage guard.
    "q_decay_agg" -> ((s, dir) => {
      val t = turns(s, dir)
      val anch = t.agg(max(col("ts")).as("__anchor"))
      Windows.decayedAtAnchor(
          t.crossJoin(broadcast(anch)), Seq("conv_id"), "ts",
          col("__anchor"), coalesce(length(col("text")), lit(0L)),
          halfLifeSec = 86400L, as = "decayed_chars")
    }),

    // --- mega-group-safe exact grouped top-k -----------------------------
    // Longest 3 documents per language via the salted two-phase
    // selection — identical rows and ranks to the oracle's naive
    // per-group window, but no task ever sees a whole language.
    "q_top_per_group" -> ((s, dir) =>
      graft.ops.Stats.groupedTopK(
          docs(s, dir).select("doc_id", "lang", "n_chars"),
          Seq("lang"), Seq(col("n_chars").desc), "doc_id", k = 3,
          fanout = 8)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("rank"))),

    // --- blocked record linkage across two sources -----------------------
    // Customers vs a perturbed replica (segment wiped for every 5th key,
    // balance off by a cent for every 7th): blocking on (nation, name
    // suffix) bounds candidates; Fellegi–Sunter integer weights classify.
    // Pairs with BOTH fields perturbed score 900 < 2500 and are the
    // expected false negatives; cross-customer candidates cap at 1300.
    "q_record_link" -> ((s, dir) => {
      val base = Tables.read(s, dir, "customer").select(
        col("c_custkey"),
        col("c_nationkey").as("nk"),
        expr("substr(c_name, length(c_name) - 1, 2)").as("sfx"),
        lower(col("c_name")).as("name"),
        col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("cents"))
      val a = base.select(col("c_custkey").as("a_id"), col("nk"), col("sfx"),
        col("name").as("a_name"), col("c_mktsegment").as("a_seg"),
        col("cents").as("a_cents"))
      val b = base.select((col("c_custkey") + 1000000L).as("b_id"),
        col("nk"), col("sfx"), col("name").as("b_name"),
        when(col("c_custkey") % 5 === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("b_seg"),
        (col("cents") + when(col("c_custkey") % 7 === 0, 1L).otherwise(0L))
          .as("b_cents"))
      import graft.ops.RecordLink, RecordLink.FieldRule
      RecordLink.linkBlocked(a, b, Seq("nk", "sfx"), Seq(
          FieldRule("name", col("a_name") === col("b_name"), 2200L, -2000L),
          FieldRule("seg", col("a_seg") === col("b_seg"), 1500L, -600L),
          FieldRule("bal", col("a_cents") === col("b_cents"), 1800L, -700L)),
          thresholdBp = 2500L)
        .select(col("a_id"), col("b_id"), col("agree_name"), col("agree_seg"),
          col("agree_bal"), col("score_bp"))
    }),

    // --- per-feed volume trend as an exact rational slope ----------------
    // Daily event counts per type regressed on the epoch day — the
    // is-this-feed-shrinking gauge with zero float.
    "q_trend_slope" -> ((s, dir) => {
      val daily = Tables.read(s, dir, "events")
        .groupBy(col("event_type"),
          call_function("div", col("ts").cast("long"), lit(86400L)).as("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.ops.Analytics.trendSlope(daily, Seq("event_type"), col("day"),
        col("n_events"))
    }),

    // --- exact two-sample KS distance between language slices ------------
    "q_ks_drift" -> ((s, dir) =>
      graft.ops.Analytics.ksDistance(
        docs(s, dir).filter(col("lang").isin("en", "zh")),
        col("lang") === "en", col("n_chars")))
    ,

    // --- cross-feed user-base overlap matrix from KMV sketches -----------
    // Which event feeds share users: full data is touched once (the
    // sketch build); every pairwise Jaccard then costs one 128-long
    // array compare. The oracle replays the k-min union estimator from
    // the true distinct sets.
    "q_source_overlap" -> ((s, dir) => {
      val e = Tables.read(s, dir, "events")
        .filter(col("user_id").isNotNull)
      val sk = graft.ops.Sketches.kmvSketch(e, Seq("event_type"),
        "user_id", 128)
      graft.ops.Sketches.kmvOverlapMatrix(sk, "event_type", 128)
    }),

    // --- measured MinHash-LSH tuning curve --------------------------------
    // Candidates / precision / recall for every nested band split of the
    // 8-component signature, against the exact PPJoin truth at J ≥ 0.5 —
    // the s-curve as numbers measured on THIS corpus rather than theory.
    "q_lsh_curve" -> ((s, dir) => {
      val d = docs(s, dir)
      val truth = graft.ops.SSJoin.jaccardJoinExact(d, "doc_id", "text",
        k = 3, tauBp = 5000, maxPrefixDf = 10000000L)
      Dedup.lshTuningCurve(d, "doc_id", "text", k = 8,
        bandConfigs = Seq(1, 2, 4, 8), shingleLen = 3, truthPairs = truth)
    })
  )

  /** Published fixed-point weights for q_quality_score — the artifact a
    * trained model ships (here: hand-set so the oracle is standalone;
    * [[graft.ops.QualityModel.fitRidge]] + toFixedPointBp produce the
    * real thing, exercised in LinearFitSpec).
    */
  private val qualityWeightsBp = Seq(15000L, -20L, 450L, -300L, -120L)

  /** The q_linfit_stats / q_quality_score feature columns as DuckDB SQL,
    * index-aligned with [[graft.ops.QualityModel.features]] — generated
    * into both oracles so the two can never drift.
    */
  private val linfitFeatSql = Seq(
    """CAST(1 AS BIGINT)""",
    """CAST(length(text) AS BIGINT)""",
    """CAST(len(string_split(text, ' ')) AS BIGINT)""",
    """CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)""",
    """CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT)""")

  private def linfitStatsSql: String = {
    val d = linfitFeatSql.size
    val fcols = linfitFeatSql.zipWithIndex
      .map { case (e, i) => s"$e AS f$i" }.mkString(",\n  ")
    val xtx = for { i <- 0 until d; j <- i until d }
      yield s"CAST(SUM(f$i * f$j) AS BIGINT) AS xtx_${i}_$j"
    val xty = (0 until d).map(i => s"CAST(SUM(f$i * lbl) AS BIGINT) AS xty_$i")
    s"""WITH f AS (SELECT
       |  $fcols,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lbl
       |  FROM documents)
       |SELECT ${(xtx ++ xty).mkString(",\n  ")},
       |  CAST(count(*) AS BIGINT) AS n
       |FROM f""".stripMargin
  }

  private def qualityScoreSql: String = {
    val terms = linfitFeatSql.zip(qualityWeightsBp)
      .map { case (f, w) => s"($w) * $f" }.mkString(" + ")
    s"""SELECT doc_id, $terms AS score_fp
       |FROM documents""".stripMargin
  }

  /** Heuristic ASCII merge vocab for the tokenizer-accurate counting
    * queries — stands in for a real training tokenizer's vocabulary
    * (which would be loaded from its artifact and passed the same way).
    */
  private val bpeVocab: Seq[String] = Seq(
    "the", "ing", "ion", "ent", "data", "table", "query", "join", "scan",
    "er", "an", "qu", "le", "e", "t", "a", " ")

  /** Blocklist for q_blocklist / q_blocklist_gate: substring terms —
    * multi-word phrases and self-overlap-capable entries included, so
    * the oracle exercises the overlapping-count contract, not just
    * token hits. Shared by query and oracle so they can never drift.
    */
  /** Per-JVM staging cache for q_compact_exec's small-file fixture:
    * dir → freshly-created temp path, so repeat evaluations in one
    * process (bench cold+warm) skip the fixture write without ever
    * sharing state across processes or runs.
    */
  private val compactFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The PII span struct comprehension (DuckDB list comprehension over a
    * `ts` string_split column in scope): byte start/end by prefix sums +
    * the scrub's classification. ONE definition shared by the
    * q_pii_spans and q_mask_spans oracles so the replay can never drift
    * between them (same pattern as incrDedupSql).
    */
  private val piiSpanStructSql: String =
    """unnest([{
    's': CASE WHEN i = 1 THEN 0
      ELSE strlen(array_to_string(ts[1:i-1], ' ')) + 1 END,
    'e': CASE WHEN i = 1 THEN 0
      ELSE strlen(array_to_string(ts[1:i-1], ' ')) + 1 END
      + strlen(ts[i]),
    'k': CASE WHEN len(string_split(ts[i],'@')) = 2
           AND strlen(string_split(ts[i],'@')[1]) >= 1
           AND strlen(string_split(ts[i],'@')[2]) >= 3
           AND contains(string_split(ts[i],'@')[2], '.') THEN 'email'
         WHEN regexp_full_match(ts[i], '[0-9]{1,3}(\.[0-9]{1,3}){3}')
           THEN 'ip'
         WHEN regexp_full_match(ts[i], '[0-9]{7,}') THEN 'num'
         ELSE NULL END
  } for i in range(1, len(ts)+1)])"""

  /** The deterministic per-doc PII salt, SQL side (twin of
    * [[piiSaltCol]]). */
  private val piiSaltSql: String =
    """CASE WHEN doc_id % 4 = 0 THEN 'alice@example.com'
       WHEN doc_id % 4 = 1 THEN '10.0.0.1'
       WHEN doc_id % 4 = 2 THEN '1234567890'
       ELSE 'clean' END"""

  /** The deterministic PII salt appended to every doc in the PII-family
    * fixtures (q_pii_scrub, q_pii_spans, q_mask_spans) — ONE definition
    * on each engine side so the three fixtures can never drift.
    */
  private def piiSaltCol: org.apache.spark.sql.Column =
    when(col("doc_id") % 4 === 0, lit("alice@example.com"))
      .when(col("doc_id") % 4 === 1, lit("10.0.0.1"))
      .when(col("doc_id") % 4 === 2, lit("1234567890"))
      .otherwise(lit("clean"))

  private val blocklistTerms: Seq[String] =
    Seq("slow", "big data", "a a", "scan scan")
  private def blocklistKwCte: String =
    // embedded quotes doubled so a term like "don't" can never break
    // (or rewrite) the oracle SQL it is interpolated into
    "kw(term) AS (SELECT * FROM (VALUES " +
      blocklistTerms.map(t => s"('${t.replace("'", "''")}')")
        .mkString(", ") + ") v(term))"

  // ---------------------------------------------------------------- oracle

  /** fmix64 replayed as DuckDB LATERAL ALIAS columns: takes a UBIGINT
    * input expression, exposes the mixed value as alias `u` (UBIGINT).
    * Same bit math as the older per-CTE replays (q_sample_mix etc.),
    * compacted via DuckDB's same-SELECT alias references so new oracles
    * don't re-inline six CTEs each.
    */
  /** The incremental (delta-vs-standing) near-dup flag replay — shared
    * verbatim by q_incr_dedup and its live twin q_stream_neardup, whose
    * contract is flag-for-flag equality with the batch operator.
    */
  private val incrDedupSql: String =
    """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id,
      |  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, greatest(len(ws)-2, 0)+1)] AS sh
      |  FROM w WHERE len(ws) >= 3),
      |sig AS (SELECT doc_id,
      |  list_min([substr(md5('0|' || s), 1, 8) for s in sh]) AS s0,
      |  list_min([substr(md5('0|' || s), 9, 8) for s in sh]) AS s1,
      |  list_min([substr(md5('0|' || s), 17, 8) for s in sh]) AS s2,
      |  list_min([substr(md5('0|' || s), 25, 8) for s in sh]) AS s3,
      |  list_min([substr(md5('1|' || s), 1, 8) for s in sh]) AS s4,
      |  list_min([substr(md5('1|' || s), 9, 8) for s in sh]) AS s5,
      |  list_min([substr(md5('1|' || s), 17, 8) for s in sh]) AS s6,
      |  list_min([substr(md5('1|' || s), 25, 8) for s in sh]) AS s7
      |  FROM sh),
      |bands AS (
      |  SELECT doc_id, 0 AS band_idx, md5(s0 || ',' || s1) AS band_key FROM sig
      |  UNION ALL SELECT doc_id, 1, md5(s2 || ',' || s3) FROM sig
      |  UNION ALL SELECT doc_id, 2, md5(s4 || ',' || s5) FROM sig
      |  UNION ALL SELECT doc_id, 3, md5(s6 || ',' || s7) FROM sig),
      |newd AS (SELECT doc_id, md5(text) AS hash FROM documents WHERE doc_id % 3 = 0),
      |oldh AS (SELECT DISTINCT md5(text) AS hash FROM documents WHERE doc_id % 3 <> 0),
      |oldb AS (SELECT DISTINCT band_idx, band_key FROM bands WHERE doc_id % 3 <> 0),
      |nearhit AS (SELECT DISTINCT b.doc_id FROM bands b
      |  JOIN oldb USING (band_idx, band_key) WHERE b.doc_id % 3 = 0)
      |SELECT n.doc_id,
      |  (oh.hash IS NOT NULL) AS drop_exact,
      |  (nh.doc_id IS NOT NULL) AS drop_near,
      |  (oh.hash IS NULL AND nh.doc_id IS NULL) AS kept
      |FROM newd n
      |LEFT JOIN oldh oh ON oh.hash = n.hash
      |LEFT JOIN nearhit nh ON nh.doc_id = n.doc_id""".stripMargin

  /** The MinHash-LSH pair replay + recursive hash-min component walk —
    * shared by q_dup_clusters and q_dedup_keep_best, which differ only in
    * the final keeper policy.
    */
  private val minhashWalkCte: String =
    """WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id,
      |  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, greatest(len(ws)-2, 0)+1)] AS sh
      |  FROM w WHERE len(ws) >= 3),
      |sig AS (SELECT doc_id,
      |  list_min([substr(md5('0|' || s), 1, 8) for s in sh]) AS s0,
      |  list_min([substr(md5('0|' || s), 9, 8) for s in sh]) AS s1,
      |  list_min([substr(md5('0|' || s), 17, 8) for s in sh]) AS s2,
      |  list_min([substr(md5('0|' || s), 25, 8) for s in sh]) AS s3,
      |  list_min([substr(md5('1|' || s), 1, 8) for s in sh]) AS s4,
      |  list_min([substr(md5('1|' || s), 9, 8) for s in sh]) AS s5,
      |  list_min([substr(md5('1|' || s), 17, 8) for s in sh]) AS s6,
      |  list_min([substr(md5('1|' || s), 25, 8) for s in sh]) AS s7
      |  FROM sh),
      |bands AS (
      |  SELECT doc_id, 0 AS band_idx, md5(s0 || ',' || s1) AS band_key FROM sig
      |  UNION ALL SELECT doc_id, 1, md5(s2 || ',' || s3) FROM sig
      |  UNION ALL SELECT doc_id, 2, md5(s4 || ',' || s5) FROM sig
      |  UNION ALL SELECT doc_id, 3, md5(s6 || ',' || s7) FROM sig),
      |pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      |  FROM bands l JOIN bands r
      |    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
      |    AND l.doc_id < r.doc_id),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |  UNION SELECT b, a FROM pairs),
      |walk(id, lbl) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, wk.lbl FROM walk wk JOIN edges e ON e.src = wk.id)""".stripMargin

  private def fmixLateralSql(in: String): String =
    s"""xor($in, CAST(11400714819323198485 AS UBIGINT)) AS __m0,
       |  xor(__m0, __m0 >> 33) AS __m1,
       |  CAST(((((__m1 >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
       |    + (__m1 & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT))
       |    % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS __m2,
       |  xor(__m2, __m2 >> 33) AS __m3,
       |  CAST(((((__m3 >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
       |    + (__m3 & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT))
       |    % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS __m4,
       |  xor(__m4, __m4 >> 33) AS u""".stripMargin

  /** The KMV oracle: sort every distinct mixed hash, take the k=128
    * smallest, estimate (k−1)·2^64/(u_k+1) by exact integer division.
    * Shared verbatim by q_kmv_distinct and q_kmv_merge — the merge is
    * lossless, so the merged sketch must reproduce the from-scratch
    * answer bit for bit.
    */
  private def kmvDistinctSql: String =
    s"""WITH d AS (SELECT DISTINCT event_type, user_id FROM events
       |  WHERE user_id IS NOT NULL),
       |m AS (SELECT event_type,
       |  ${fmixLateralSql("CAST(user_id AS UBIGINT)")}
       |  FROM d),
       |r AS (SELECT event_type, u,
       |  row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
       |  FROM m),
       |kth AS (SELECT event_type, count(*) AS k_used, max(u) AS kth
       |  FROM r WHERE rn <= 128 GROUP BY event_type),
       |n AS (SELECT event_type, count(user_id) AS n_ids FROM events
       |  GROUP BY event_type)
       |SELECT n.event_type, n.n_ids,
       |  CAST(COALESCE(k.k_used, 0) AS BIGINT) AS k_used,
       |  CAST(CAST(k.kth AS HUGEINT) AS DECIMAL(38,0)) AS kth_hash_u,
       |  CAST(CASE WHEN COALESCE(k.k_used, 0) < 128 THEN COALESCE(k.k_used, 0)::HUGEINT
       |       ELSE (127 * CAST('18446744073709551616' AS HUGEINT))
       |            // (CAST(k.kth AS HUGEINT) + 1) END AS DECIMAL(38,0))
       |    AS est_distinct,
       |  (COALESCE(k.k_used, 0) < 128) AS est_exact
       |FROM n LEFT JOIN kth k USING (event_type)""".stripMargin

  /** The Bloom probe salts (j·φ mod 2^64) as a SQL VALUES list —
    * generated from [[graft.exprs.BloomImpl.Phi]] so the expression and
    * the oracle can never drift.
    */
  private def bloomSaltValues(nHashes: Int): String =
    (0 until nHashes).map { j =>
      val salt = j.toLong * graft.exprs.BloomImpl.Phi
      s"(CAST(${java.lang.Long.toUnsignedString(salt)} AS UBIGINT))"
    }.mkString(", ")

  /** The vocab as a SQL VALUES list — generated from [[bpeVocab]] so the
    * Spark expression and the recursive oracle can never drift.
    */
  private def bpeVocabValues: String =
    bpeVocab.map(t => s"('${t.replace("'", "''")}', ${t.length})")
      .mkString(", ")

  /** q_coverage_select's oracle: the greedy sweep as chained round CTEs
    * — gains exclude selected docs and covered words, argmax LIMIT 1
    * with id ties, covered set unioned forward. Generated per round so
    * the shape cannot drift between rounds.
    */
  private def coverageOracleSql(k: Int): String = {
    val rounds = (1 to k).map { i =>
      val g =
        if (i == 1) s"g1 AS (SELECT doc_id, count(*) AS g FROM t GROUP BY 1)"
        else
          s"""g$i AS (SELECT doc_id, count(*) AS g FROM t
             |  WHERE doc_id NOT IN (SELECT doc_id FROM sel${i - 1})
             |    AND w NOT IN (SELECT w FROM cov${i - 1})
             |  GROUP BY 1)""".stripMargin
      val s =
        s"""s$i AS (SELECT doc_id, CAST(g AS BIGINT) AS g FROM g$i
           |  ORDER BY g DESC, doc_id LIMIT 1)""".stripMargin
      val sel =
        if (i == 1) "sel1 AS (SELECT doc_id FROM s1)"
        else
          s"""sel$i AS (SELECT doc_id FROM sel${i - 1}
             |  UNION ALL SELECT doc_id FROM s$i)""".stripMargin
      val cov =
        s"""cov$i AS (SELECT DISTINCT w FROM t
           |  WHERE doc_id IN (SELECT doc_id FROM sel$i))""".stripMargin
      Seq(g, s, sel, cov).mkString(",\n")
    }
    val out = (1 to k)
      .map(i => s"SELECT CAST($i AS INTEGER) AS rank, doc_id, g AS gain FROM s$i")
      .mkString("\nUNION ALL ")
    s"""WITH t AS (SELECT DISTINCT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents WHERE doc_id % 4 = 1) WHERE w <> ''),
       |${rounds.mkString(",\n")}
       |$out""".stripMargin
  }

  /** q_bpe_learn's oracle: ONE recursive greedy walk (the q_bpe_pairs
    * tokenization), then per round a windowed argmax + the classic-BPE
    * leftmost-non-overlapping merge application as pure window SQL:
    * match positions chain into runs of consecutive indices
    * (gaps-and-islands), a run's even offsets are the kept merges, kept
    * idx becomes the merged token and kept idx+1 drops. Chained
    * re-walks were tried first and hit a DuckDB recursive-CTE binding
    * bug (a later walk silently reused the round-1 vocab) — the window
    * formulation needs no recursion past the first walk AND matches the
    * textbook merge-in-learned-order semantics the Spark side
    * implements ([[graft.exprs.BpeMergeApply]]).
    */
  private def bpeLearnOracleSql: String = {
    def round(i: Int) =
      s"""w$i AS (SELECT doc_id, idx, tok,
         |    lead(tok) OVER (PARTITION BY doc_id ORDER BY idx) AS nxt
         |  FROM s$i),
         |m$i AS MATERIALIZED (
         |  SELECT t1, t2, t1 || t2 AS merged, CAST(n AS BIGINT) AS n
         |  FROM (SELECT tok AS t1, nxt AS t2, count(*) AS n FROM w$i
         |        WHERE nxt IS NOT NULL GROUP BY 1, 2)
         |  ORDER BY n DESC, t1, t2 LIMIT 1),
         |mm$i AS (SELECT w$i.doc_id, w$i.idx FROM w$i JOIN m$i
         |  ON w$i.tok = m$i.t1 AND w$i.nxt = m$i.t2),
         |k$i AS (SELECT doc_id, idx FROM (
         |    SELECT doc_id, idx,
         |      idx - min(idx) OVER (PARTITION BY doc_id, grp) AS off
         |    FROM (SELECT doc_id, idx,
         |        idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx)
         |          AS grp
         |      FROM mm$i))
         |  WHERE off % 2 = 0),
         |s${i + 1} AS (SELECT s.doc_id,
         |    row_number() OVER (PARTITION BY s.doc_id ORDER BY s.idx) AS idx,
         |    CASE WHEN k.idx IS NOT NULL
         |      THEN (SELECT merged FROM m$i) ELSE s.tok END AS tok
         |  FROM s$i s
         |  LEFT JOIN k$i k ON k.doc_id = s.doc_id AND k.idx = s.idx
         |  LEFT JOIN k$i k2 ON k2.doc_id = s.doc_id AND k2.idx = s.idx - 1
         |  WHERE k2.idx IS NULL)""".stripMargin
    s"""WITH RECURSIVE v(tok, l) AS (VALUES $bpeVocabValues),
       |d AS (SELECT doc_id, text, length(text) AS n
       |  FROM documents WHERE doc_id % 5 = 0),
       |walk(doc_id, pos, tok) AS (
       |  SELECT doc_id, 1, CAST(NULL AS VARCHAR) FROM d
       |  UNION ALL
       |  SELECT s.doc_id,
       |    s.pos + COALESCE(
       |      (SELECT MAX(l) FROM v WHERE substr(d.text, s.pos, l) = tok), 1),
       |    COALESCE(
       |      (SELECT tok FROM v WHERE substr(d.text, s.pos, l) = tok
       |       ORDER BY l DESC LIMIT 1),
       |      substr(d.text, s.pos, 1))
       |  FROM walk s JOIN d USING (doc_id)
       |  WHERE s.pos <= d.n),
       |s1 AS (SELECT doc_id,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS idx, tok
       |  FROM walk WHERE tok IS NOT NULL),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT CAST(1 AS INTEGER) AS round, t1, t2, merged, n FROM m1
       |UNION ALL SELECT 2, t1, t2, merged, n FROM m2
       |UNION ALL SELECT 3, t1, t2, merged, n FROM m3""".stripMargin
  }

  /** Greedy longest-match token walk as a recursive CTE: one step per
    * emitted token — pos advances by the longest vocab entry matching at
    * pos (correlated MAX over the vocab VALUES) or by 1 character as the
    * fallback token. Expects CTEs `v(tok, l)` and `d(doc_id, text, n, …)`
    * in scope; yields step(doc_id, pos, cnt) with the final row at
    * pos = n + 1.
    */
  private def bpeStepCte: String =
    """step(doc_id, pos, cnt) AS (
      |  SELECT doc_id, 1, 0 FROM d
      |  UNION ALL
      |  SELECT s.doc_id,
      |    s.pos + COALESCE(
      |      (SELECT MAX(l) FROM v WHERE substr(d.text, s.pos, l) = tok), 1),
      |    s.cnt + 1
      |  FROM step s JOIN d USING (doc_id)
      |  WHERE s.pos <= d.n)""".stripMargin

  /** Shared PQ replay for q_pq_encode / q_pq_adc: quantized vectors
    * (`q`), the 8-lowest-id codebook rows with code = rank in vec_id
    * order (`train`), per-(vector, subspace, code) exact integer squared
    * L2 distances over the 4×16-dim subspaces (`dist`), and the argmin
    * codes with ties to the smaller code (`codes`).
    */
  private def pqCodesCte: String =
    """q AS (SELECT vec_id,
      |  [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qe
      |  FROM embeddings),
      |train AS (SELECT qe,
      |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
      |  FROM (SELECT vec_id, qe FROM q ORDER BY vec_id LIMIT 8)),
      |sub AS (SELECT CAST(i AS INT) AS subspace FROM range(4) t(i)),
      |dist AS (SELECT v.vec_id, s.subspace, t.code,
      |    list_sum([(v.qe[s.subspace*16 + d] - t.qe[s.subspace*16 + d])
      |            * (v.qe[s.subspace*16 + d] - t.qe[s.subspace*16 + d])
      |      for d in range(1, 17)]) AS dd
      |  FROM q v, sub s, train t),
      |codes AS (SELECT vec_id, subspace, code FROM dist
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
      |    ORDER BY dd, code) = 1)""".stripMargin

  /** The q_simhash FNV-1a/bit-vote chain over an arbitrary (doc_id,
    * text) source CTE, ending in `fpu(doc_id, ufp UBIGINT)` — shared by
    * the signature dump and the banded pair search.
    */
  private def simhashFpCte(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM $src) WHERE tok <> ''
       |),
       |th AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
       |        [CAST(unicode(c) AS UBIGINT) for c in string_split(tok, '')]),
       |      (h, c) -> CAST((xor(h, c)::HUGEINT * 1099511628211::HUGEINT)
       |                     % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT)
       |    ) AS h
       |  FROM toks
       |),
       |votes AS (
       |  SELECT doc_id, t.b AS b,
       |    SUM(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS tally
       |  FROM th, range(64) t(b)
       |  GROUP BY doc_id, t.b
       |),
       |fpu AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN tally > 0 THEN (CAST(1 AS UBIGINT) << b)::HUGEINT
       |             ELSE CAST(0 AS HUGEINT) END) AS UBIGINT) AS ufp
       |  FROM votes GROUP BY doc_id
       |)""".stripMargin

  /** The bit-interleave z-value as plain SQL over already-bucketized
    * dims — the same shift/and/or terms [[graft.ops.Layout.zorderKey]]
    * composes, so the oracle replays the key bit-for-bit.
    */
  private def zorderOracleExpr(dims: Seq[String], bits: Int): String =
    (for {
      i <- 0 until bits
      (d, k) <- dims.zipWithIndex
    } yield s"((($d >> $i) & 1) << ${i * dims.size + k})").mkString(" | ")

  /** `digits`-char lowercase-hex string → integer, as a fixed sum of
    * strpos terms — the engine-portable replay of Spark's `conv(hx, 16,
    * 10)` (q_lineage's bucket key).
    */
  /** First 16 hex digits of an md5 hex column `h` as an unsigned-64
    * HUGEINT, split 8+8 exactly like [[graft.ops.Audit.rowHashU64]]'s
    * `conv` halves so the digest math replays bit-for-bit.
    */
  private def hexU64Sql(h: String): String =
    s"CAST(${hexToLongSql(s"substr($h, 1, 8)", 8)} AS HUGEINT) * 4294967296" +
      s" + (${hexToLongSql(s"substr($h, 9, 8)", 8)})"

  private def hexToLongSql(hx: String, digits: Int): String =
    (1 to digits).map { i =>
      val mult = BigInt(16).pow(digits - i)
      s"(strpos('0123456789abcdef', substr($hx, $i, 1)) - 1) * $mult"
    }.mkString(" + ")

  /** documents → (doc_id, len_b, src_b): the zDims bucketization in SQL. */
  private def zDimsCte: String =
    """d AS (SELECT doc_id, LEAST(n_chars, 1023) AS len_b,
      |    CAST(substr(source, 4) AS BIGINT) AS src_b FROM documents)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // banded SimHash pair search over the synthesized corpus: 4x16-bit
    // band buckets recall candidates, popcount(xor) confirms <= 3
    "q_simhash_pairs" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 9 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000, text || ' extrawordx' FROM documents
         |  WHERE doc_id % 9 = 4),
         |${simhashFpCte("corpus")},
         |bands AS (
         |  SELECT doc_id, t.b AS band, (ufp >> (16 * t.b)) & 65535 AS key
         |  FROM fpu, range(4) t(b)),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l JOIN bands r
         |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
         |SELECT c.a, c.b,
         |  CAST(bit_count(xor(sa.ufp, sb.ufp)) AS BIGINT) AS hamming
         |FROM cand c
         |JOIN fpu sa ON sa.doc_id = c.a
         |JOIN fpu sb ON sb.doc_id = c.b
         |WHERE bit_count(xor(sa.ufp, sb.ufp)) <= 3""".stripMargin,

    // the q_token_bpe greedy walk, carrying the token each step emitted;
    // adjacent pairs come from lead() in walk order
    "q_bpe_pairs" ->
      s"""WITH RECURSIVE v(tok, l) AS (VALUES $bpeVocabValues),
         |d AS (SELECT doc_id, text, length(text) AS n
         |  FROM documents WHERE doc_id % 5 = 0),
         |walk(doc_id, pos, tok) AS (
         |  SELECT doc_id, 1, CAST(NULL AS VARCHAR) FROM d
         |  UNION ALL
         |  SELECT s.doc_id,
         |    s.pos + COALESCE(
         |      (SELECT MAX(l) FROM v WHERE substr(d.text, s.pos, l) = tok), 1),
         |    COALESCE(
         |      (SELECT tok FROM v WHERE substr(d.text, s.pos, l) = tok
         |       ORDER BY l DESC LIMIT 1),
         |      substr(d.text, s.pos, 1))
         |  FROM walk s JOIN d USING (doc_id)
         |  WHERE s.pos <= d.n),
         |seq AS (SELECT doc_id, tok,
         |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM walk WHERE tok IS NOT NULL)
         |SELECT tok AS t1, nxt AS t2, CAST(count(*) AS BIGINT) AS n
         |FROM seq WHERE nxt IS NOT NULL GROUP BY t1, t2""".stripMargin,

    "q_bpe_learn" -> bpeLearnOracleSql,

    "q_coverage_select" -> coverageOracleSql(5),

    // types bucketed by their first containing document (min doc_id,
    // integer-div bucket), doc/token volume from the doc side so empty
    // buckets with docs survive, running sums over the bucket frame
    "q_vocab_growth" ->
      """WITH toks AS (SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) WHERE w <> ''),
        |f AS (SELECT w, min(doc_id) AS fd FROM toks GROUP BY 1),
        |nt AS (SELECT fd // 100 AS bucket, CAST(count(*) AS BIGINT) AS new_types
        |  FROM f GROUP BY 1),
        |dtc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tc
        |  FROM toks GROUP BY 1),
        |db AS (SELECT d.doc_id // 100 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(COALESCE(sum(dtc.tc), 0) AS BIGINT) AS bucket_tokens
        |  FROM documents d LEFT JOIN dtc USING (doc_id) GROUP BY 1),
        |j AS (SELECT db.bucket, db.n_docs,
        |    CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types,
        |    db.bucket_tokens
        |  FROM db LEFT JOIN nt USING (bucket))
        |SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, new_types,
        |  CAST(sum(new_types) OVER (ORDER BY bucket) AS BIGINT) AS cum_types,
        |  bucket_tokens,
        |  CAST(sum(bucket_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens
        |FROM j""".stripMargin,

    // corpus word frequencies joined back per doc; zeros for tokenless
    "q_rarity" ->
      """WITH toks AS (SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) WHERE w <> ''),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY w),
        |st AS (SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |    CAST(sum(cnt) AS BIGINT) AS freq_sum
        |  FROM toks JOIN c USING (w) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(st.n_words, 0) AS n_words,
        |  COALESCE(st.n_rare, 0) AS n_rare,
        |  COALESCE(st.freq_sum, 0) AS freq_sum
        |FROM documents d LEFT JOIN st USING (doc_id)""".stripMargin,

    // bigram counts replayed via zipped unnest slices; n_a = corpus
    // unigram count of the LEFT word (same denominator as the Spark side)
    "q_lm_surprisal" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |  FROM documents),
        |prs0 AS (SELECT doc_id,
        |    unnest(ws[1:len(ws)-1]) AS a, unnest(ws[2:len(ws)]) AS b
        |  FROM w),
        |prs AS (SELECT doc_id, a, b FROM prs0 WHERE a <> '' AND b <> ''),
        |bi AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM prs GROUP BY a, b),
        |uni AS (SELECT w AS a, CAST(count(*) AS BIGINT) AS n_a FROM (
        |    SELECT unnest(ws) AS w FROM w) WHERE w <> '' GROUP BY w)
        |SELECT p.doc_id, bi.n_ab, uni.n_a,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM prs p JOIN bi USING (a, b) JOIN uni USING (a)
        |GROUP BY p.doc_id, bi.n_ab, uni.n_a""".stripMargin,
    // the distinct-bigram table with both KN continuation-type counts
    // (count windows over it) and the distinct-bigram total; empty
    // split-artifact words excluded on both engines; c >= 3 filters the
    // OUTPUT only (continuation counts are over all bigrams)
    "q_kn_stats" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |  FROM documents),
        |prs0 AS (SELECT
        |    unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
        |  FROM w),
        |prs AS (SELECT w1, w2 FROM prs0 WHERE w1 <> '' AND w2 <> ''),
        |b AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        |  FROM prs GROUP BY w1, w2),
        |l AS (SELECT w2, CAST(count(*) AS BIGINT) AS left_types
        |  FROM b GROUP BY w2),
        |r AS (SELECT w1, CAST(count(*) AS BIGINT) AS right_types
        |  FROM b GROUP BY w1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS d_total FROM b)
        |SELECT b.w1, b.w2, b.c, l.left_types, r.right_types, t.d_total
        |FROM b JOIN l USING (w2) JOIN r USING (w1) CROSS JOIN t
        |WHERE b.c >= 3""".stripMargin,

    // the same distinct-bigram table grouped by its count value, plus
    // the total bigram token mass sum(c * n_c)
    "q_gt_counts" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |  FROM documents),
        |prs0 AS (SELECT
        |    unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
        |  FROM w),
        |prs AS (SELECT w1, w2 FROM prs0 WHERE w1 <> '' AND w2 <> ''),
        |b AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        |  FROM prs GROUP BY w1, w2),
        |f AS (SELECT c, CAST(count(*) AS BIGINT) AS n_c FROM b GROUP BY 1),
        |t AS (SELECT CAST(COALESCE(sum(c * n_c), 0) AS BIGINT) AS big_n
        |  FROM f)
        |SELECT f.c, f.n_c, t.big_n FROM f CROSS JOIN t""".stripMargin,

    // transitive closure of the minhash pair stream: symmetric edges,
    // label walk (every label reaches everything in its component), then
    // min label per vertex = the component's min doc_id
    "q_dup_clusters" ->
      s"""$minhashWalkCte
         |SELECT id AS doc_id, min(lbl) AS cluster_id,
         |  (id = min(lbl)) AS is_keeper
         |FROM walk GROUP BY id""".stripMargin,

    // same LSH-pair + component walk; the keeper is the component argmax
    // by (n_chars DESC, doc_id ASC), survivors = corpus minus the drops
    "q_dedup_keep_best" ->
      s"""$minhashWalkCte,
         |comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id
         |  FROM walk GROUP BY id),
         |ranked AS (SELECT c.doc_id,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
         |  FROM comp c JOIN documents d USING (doc_id)),
         |drops AS (SELECT doc_id FROM ranked WHERE rn > 1)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |LEFT JOIN drops USING (doc_id) WHERE drops.doc_id IS NULL""".stripMargin,

    // same pair walk as q_dup_clusters; the gate replays fmix64 on the
    // COMPONENT key, so near-dup mirrors provably share a side
    "q_cluster_split" ->
      s"""$minhashWalkCte,
         |comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id
         |  FROM walk GROUP BY id),
         |key AS (SELECT d.doc_id,
         |    COALESCE(c.cluster_id, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |m AS (SELECT doc_id, split_key,
         |  ${fmixLateralSql("CAST(split_key AS UBIGINT)")}
         |  FROM key)
         |SELECT doc_id, split_key,
         |  CASE WHEN CAST((u >> 20) % 10000 AS BIGINT) < 2000
         |    THEN 'test' ELSE 'train' END AS split
         |FROM m""".stripMargin,

    // same components + keep-best ranking; losers joined to their
    // cluster's winner, aggregated into the source->source flow matrix
    "q_dedup_flow" ->
      s"""$minhashWalkCte,
         |comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id
         |  FROM walk GROUP BY id),
         |ranked AS (SELECT c.doc_id, c.cluster_id, d.source, d.n_chars,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
         |  FROM comp c JOIN documents d USING (doc_id)),
         |winners AS (SELECT cluster_id, source AS src_to FROM ranked WHERE rn = 1)
         |SELECT r.source AS src_from, w.src_to,
         |  CAST(count(*) AS BIGINT) AS n_dropped,
         |  CAST(sum(r.n_chars) AS BIGINT) AS cost_dropped
         |FROM ranked r JOIN winners w USING (cluster_id)
         |WHERE r.rn > 1 GROUP BY 1, 2""".stripMargin,

    // searchsorted CASE-sum buckets, within-bucket rank window, floor-div
    // batches, per-batch padding arithmetic
    "q_batch_pack" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    (CASE WHEN n_chars >= 64 THEN 1 ELSE 0 END
        |     + CASE WHEN n_chars >= 256 THEN 1 ELSE 0 END
        |     + CASE WHEN n_chars >= 1024 THEN 1 ELSE 0 END
        |     + CASE WHEN n_chars >= 4096 THEN 1 ELSE 0 END) AS len_bucket
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY len_bucket
        |    ORDER BY doc_id) - 1 AS rk FROM b)
        |SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
        |  CAST(rk // 32 AS BIGINT) AS batch_seq,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(n_chars) AS BIGINT) AS min_len,
        |  CAST(max(n_chars) AS BIGINT) AS max_len,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_len,
        |  CAST(count(*) * max(n_chars) - sum(n_chars) AS BIGINT) AS pad_waste
        |FROM r GROUP BY 1, 2""".stripMargin,

    // hourly counts per role, trailing frame over observed buckets only,
    // cross-multiplied spike predicate — division-free
    "q_ingest_anomaly" ->
      s"""$T,
         |v AS (SELECT role, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM turns WHERE ts IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT *,
         |    count(n) OVER w AS trail_n,
         |    COALESCE(sum(n) OVER w, 0) AS trail_sum
         |  FROM v WINDOW w AS (PARTITION BY role ORDER BY bucket
         |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         |SELECT role, bucket, n, CAST(trail_n AS BIGINT) AS trail_n,
         |  CAST(trail_sum AS BIGINT) AS trail_sum,
         |  (trail_n > 0 AND n * trail_n > 2 * trail_sum) AS is_spike
         |FROM t""".stripMargin,

    // the pack replay plus the within-(lang, shard) exclusive cumsum
    "q_pack_offsets" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |FROM documents),
        |p AS (SELECT doc_id, lang, n_tokens,
        |  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) / 2000.0) AS BIGINT) AS shard_seq
        |FROM t),
        |o AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
        |    PARTITION BY lang, shard_seq ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |  AS tok_start FROM p)
        |SELECT doc_id, lang, n_tokens, shard_seq, tok_start,
        |  tok_start + n_tokens AS tok_end FROM o""".stripMargin,

    // five thresholds as a VALUES relation, conditional-sum confusion
    // cells, exact integers
    "q_threshold_sweep" ->
      """WITH th(thr) AS (VALUES (100),(200),(400),(800),(1600)),
        |d AS (SELECT n_chars AS s, (lang = 'en') AS l FROM documents)
        |SELECT CAST(thr AS BIGINT) AS thr,
        |  CAST(sum(CASE WHEN s >= thr AND l THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN s >= thr AND NOT l THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN s < thr AND l THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(sum(CASE WHEN s < thr AND NOT l THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |FROM d CROSS JOIN th GROUP BY 1""".stripMargin,

    // single-window replay of the two-phase chunked prefix sum; HUGEINT
    // mirrors the engine's decimal(38,0) exact integers
    "q_auc" ->
      """WITH h AS (SELECT user_id % 8 AS seg, value AS s,
        |    CAST(sum(CASE WHEN event_type IN ('click','purchase') THEN 1 ELSE 0 END) AS HUGEINT) AS np,
        |    CAST(sum(CASE WHEN event_type IN ('click','purchase') THEN 0 ELSE 1 END) AS HUGEINT) AS nn
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |p AS (SELECT seg, np, nn,
        |    COALESCE(sum(nn) OVER (PARTITION BY seg ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
        |  FROM h)
        |SELECT seg, sum(np) AS n_pos, sum(nn) AS n_neg,
        |  sum(np * (2 * nb + nn)) AS auc_num,
        |  sum(np) * sum(nn) * 2 AS auc_den
        |FROM p GROUP BY 1""".stripMargin,

    "q_calibration" ->
      """SELECT LEAST(9, GREATEST(0, CAST(FLOOR(value / 10.0) AS BIGINT))) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_type IN ('click','purchase') THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS sum_score_bp
        |FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // the PAV fit via the minimax identity: per (i, j<=i) the exact-min
    // over k>=i interval average (NOT EXISTS any strictly smaller
    // fraction, cross-multiplied), then the exact-max over j; equal
    // values reduce (gcd) to one canonical fraction, so WHICH minimal/
    // maximal interval row_number picks is immaterial
    "q_iso_calibrate" ->
      """WITH b AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR(value / 10.0) AS BIGINT))) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value >= 30 AND NOT (value >= 60 AND value < 70)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1),
        |p AS (SELECT bin, n, n_pos,
        |    sum(n) OVER (ORDER BY bin) AS cw,
        |    sum(n_pos) OVER (ORDER BY bin) AS cp FROM b),
        |iv AS (SELECT j.bin AS jb, k.bin AS kb,
        |    k.cp - j.cp + j.n_pos AS pp, k.cw - j.cw + j.n AS ww
        |  FROM p j JOIN p k ON j.bin <= k.bin),
        |mn AS (SELECT i.bin AS ib, a.jb, a.pp, a.ww,
        |    row_number() OVER (PARTITION BY i.bin, a.jb ORDER BY a.kb) AS rn
        |  FROM p i JOIN iv a ON a.jb <= i.bin AND a.kb >= i.bin
        |  WHERE NOT EXISTS (SELECT 1 FROM iv x
        |    WHERE x.jb = a.jb AND x.kb >= i.bin
        |      AND x.pp * a.ww < a.pp * x.ww)),
        |m1 AS (SELECT ib, jb, pp, ww FROM mn WHERE rn = 1),
        |mx AS (SELECT a.ib, a.pp, a.ww,
        |    row_number() OVER (PARTITION BY a.ib ORDER BY a.jb) AS rn
        |  FROM m1 a
        |  WHERE NOT EXISTS (SELECT 1 FROM m1 x
        |    WHERE x.ib = a.ib AND x.pp * a.ww > a.pp * x.ww))
        |SELECT b.bin, b.n, b.n_pos,
        |  CAST(mx.pp // greatest(gcd(mx.pp, mx.ww), 1) AS BIGINT) AS iso_num,
        |  CAST(mx.ww // greatest(gcd(mx.pp, mx.ww), 1) AS BIGINT) AS iso_den
        |FROM b JOIN mx ON mx.ib = b.bin AND mx.rn = 1""".stripMargin,

    // window-rank replay of the struct-min/max pair pick: best = (score
    // DESC, turn_idx DESC), worst = (score ASC, turn_idx ASC)
    "q_pref_pairs" ->
      s"""$T,
         |a AS (SELECT conv_id, CAST(length(text) AS BIGINT) AS s, turn_idx, text
         |  FROM turns WHERE role = 'assistant' AND text IS NOT NULL),
         |r AS (SELECT conv_id, s, turn_idx, text,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY s DESC, turn_idx DESC) AS rb,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY s ASC, turn_idx ASC) AS rw
         |  FROM a),
         |b AS (SELECT conv_id,
         |    max(CASE WHEN rb = 1 THEN turn_idx END) AS chosen_idx,
         |    max(CASE WHEN rb = 1 THEN text END) AS chosen_text,
         |    max(CASE WHEN rb = 1 THEN s END) AS chosen_score,
         |    max(CASE WHEN rw = 1 THEN turn_idx END) AS rejected_idx,
         |    max(CASE WHEN rw = 1 THEN text END) AS rejected_text,
         |    max(CASE WHEN rw = 1 THEN s END) AS rejected_score
         |  FROM r GROUP BY 1)
         |SELECT conv_id, chosen_idx, chosen_text, chosen_score,
         |  rejected_idx, rejected_text, rejected_score
         |FROM b WHERE chosen_score > rejected_score""".stripMargin,

    // window-rank replay of the last-beats-first comparison stream,
    // then the pair tallies and both per-item margins over the
    // distinct-pair table (every comparison has exactly one winner)
    "q_bt_stats" ->
      s"""$T,
         |tt AS (SELECT conv_id, tool, ts, turn_idx FROM turns
         |  WHERE tool IS NOT NULL),
         |r AS (SELECT conv_id, tool,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY ts DESC, turn_idx DESC) AS rl,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY ts ASC, turn_idx ASC) AS rf
         |  FROM tt),
         |c AS (SELECT winner, loser FROM (SELECT conv_id,
         |    max(CASE WHEN rl = 1 THEN tool END) AS winner,
         |    max(CASE WHEN rf = 1 THEN tool END) AS loser
         |  FROM r GROUP BY 1) WHERE winner <> loser),
         |p AS (SELECT least(winner, loser) AS item_a,
         |    greatest(winner, loser) AS item_b,
         |    CAST(count(*) AS BIGINT) AS n_ab,
         |    CAST(sum(CASE WHEN winner < loser THEN 1 ELSE 0 END) AS BIGINT) AS wins_a
         |  FROM c GROUP BY 1, 2),
         |m AS (SELECT item, CAST(sum(w) AS BIGINT) AS w_tot,
         |    CAST(sum(n) AS BIGINT) AS n_tot FROM (
         |    SELECT item_a AS item, wins_a AS w, n_ab AS n FROM p
         |    UNION ALL SELECT item_b, n_ab - wins_a, n_ab FROM p)
         |  GROUP BY 1)
         |SELECT p.item_a, p.item_b, p.n_ab, p.wins_a,
         |  ma.w_tot AS w_a, ma.n_tot AS n_a, mb.w_tot AS w_b, mb.n_tot AS n_b
         |FROM p JOIN m ma ON ma.item = p.item_a
         |JOIN m mb ON mb.item = p.item_b""".stripMargin,

    // per-conversation assistant-sample tallies, then the k=2 falling
    // factorials; f < k clamps the numerator (no k-failure subset exists)
    "q_pass_at_k" ->
      s"""$T,
         |s AS (SELECT conv_id AS task, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM turns WHERE role = 'assistant' GROUP BY 1),
         |f AS (SELECT task, n, c, n - c AS f FROM s WHERE n >= 2)
         |SELECT task, n, c,
         |  CAST(CASE WHEN f >= 2 THEN f * (f - 1) ELSE 0 END AS HUGEINT) AS fail_num,
         |  CAST(n * (n - 1) AS HUGEINT) AS fail_den
         |FROM f""".stripMargin,

    "q_funnel" ->
      """WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s0 ON e.user_id = s0.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
        |  CAST((SELECT count(*) FROM s0) AS BIGINT) AS n_users
        |UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        |UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)""".stripMargin,

    "q_cohort" ->
      """WITH act AS (SELECT DISTINCT user_id AS u,
        |    CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS b
        |  FROM events WHERE ts IS NOT NULL),
        |f AS (SELECT u, min(b) AS cohort FROM act GROUP BY 1)
        |SELECT f.cohort AS cohort_bucket, act.b - f.cohort AS bucket_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM act JOIN f ON act.u = f.u GROUP BY 1, 2""".stripMargin,

    // the live path replays the batch gauge exactly: same hourly counts,
    // same trailing frame, same cross-multiplied spike predicate
    "q_stream_anomaly" ->
      s"""$T,
         |v AS (SELECT role, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM turns WHERE ts IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT *,
         |    count(n) OVER w AS trail_n,
         |    COALESCE(sum(n) OVER w, 0) AS trail_sum
         |  FROM v WINDOW w AS (PARTITION BY role ORDER BY bucket
         |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         |SELECT role, bucket, n, CAST(trail_n AS BIGINT) AS trail_n,
         |  CAST(trail_sum AS BIGINT) AS trail_sum,
         |  (trail_n > 0 AND n * trail_n > 2 * trail_sum) AS is_spike
         |FROM t""".stripMargin,

    // the two-phase global rank replayed as the single global window it
    // is byte-equal to; phase = floor(rank * nPhases / n) in integer math
    "q_curriculum" ->
      """SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS global_rank,
        |  CAST(((row_number() OVER (ORDER BY n_chars, doc_id) - 1) * 4)
        |    // (count(*) OVER ()) AS BIGINT) AS phase
        |FROM documents""".stripMargin,

    // manifest -> per-partition exclusive byte cumsum -> floor-div groups,
    // then the per-group rewrite summary
    "q_compact_plan" ->
      """WITH m AS (SELECT source, doc_id // 64 AS file_seq,
        |    sum(n_chars) AS bytes
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT source, file_seq, bytes,
        |    COALESCE(sum(bytes) OVER (PARTITION BY source ORDER BY file_seq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM m),
        |g AS (SELECT source, file_seq, bytes,
        |    cum // 2000 AS group_seq FROM c)
        |SELECT source, CAST(group_seq AS BIGINT) AS group_seq,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bytes_total,
        |  CAST(min(file_seq) AS BIGINT) AS file_lo,
        |  CAST(max(file_seq) AS BIGINT) AS file_hi,
        |  (count(*) > 1) AS is_rewrite
        |FROM g GROUP BY 1, 2""".stripMargin,

    // greedy longest-match walk over the vocab, one recursion step per
    // token; compared against the regex approximation side by side
    "q_token_bpe" ->
      s"""WITH RECURSIVE v(tok, l) AS (VALUES $bpeVocabValues),
         |d AS (SELECT doc_id, text, length(text) AS n,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS re_tokens
         |  FROM documents WHERE doc_id % 5 = 0),
         |$bpeStepCte
         |SELECT s.doc_id, CAST(s.cnt AS BIGINT) AS bpe_tokens, d.re_tokens
         |FROM step s JOIN d USING (doc_id)
         |WHERE s.pos = d.n + 1""".stripMargin,

    // the same recursive token counts feeding the packing window
    "q_pack_shards_bpe" ->
      s"""WITH RECURSIVE v(tok, l) AS (VALUES $bpeVocabValues),
         |d AS (SELECT doc_id, lang, text, length(text) AS n
         |  FROM documents WHERE doc_id % 5 = 0),
         |$bpeStepCte,
         |t AS (SELECT s.doc_id, d.lang, CAST(s.cnt AS BIGINT) AS n_tokens
         |  FROM step s JOIN d USING (doc_id)
         |  WHERE s.pos = d.n + 1)
         |SELECT doc_id, lang, n_tokens,
         |  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) / 2000.0) AS BIGINT) AS shard_seq
         |FROM t""".stripMargin,

    // kill -> restart must be invisible: the two-run union equals the
    // plain batch backfill SQL
    "q_stream_resume" ->
      s"""$T
         |SELECT conv_id, turn_idx,
         |  last_value(tool IGNORE NULLS) OVER (PARTITION BY conv_id
         |    ORDER BY ts, turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_locf
         |FROM turns""".stripMargin,

    // stateful kill -> restart must be invisible too: the two-run union
    // equals the plain batch sessionize SQL (open sessions straddle the
    // kill, so this pins the recovered state store, not just the sink)
    "q_stream_sess_resume" ->
      s"""$T,
         |s1 AS (SELECT conv_id, turn_idx, ts,
         |  lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |  FROM turns),
         |s2 AS (SELECT conv_id, ts,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL
         |      OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
         |  FROM s1)
         |SELECT conv_id, session_seq, CAST(count(*) AS BIGINT) AS n_turns,
         |  min(ts) AS session_start, max(ts) AS session_end
         |FROM s2 GROUP BY conv_id, session_seq""".stripMargin,

    // segment dedup replayed literally: 10-word blocks, md5-16 keys,
    // (doc_id, seg_idx)-first survivor, ordered reassembly
    "q_seg_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |segs AS (SELECT doc_id, gs.i AS seg_idx,
        |    array_to_string(ws[gs.i*10+1 : gs.i*10+10], ' ') AS seg
        |  FROM w, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ws)/10.0) AS BIGINT))) AS i) gs),
        |h AS (SELECT doc_id, seg_idx, seg, substr(md5(seg), 1, 16) AS hk FROM segs),
        |firsts AS (SELECT hk, doc_id, seg_idx FROM (
        |    SELECT hk, doc_id, seg_idx,
        |      row_number() OVER (PARTITION BY hk ORDER BY doc_id, seg_idx) AS rn FROM h)
        |  WHERE rn = 1),
        |keep AS (SELECT x.doc_id, x.seg_idx, x.seg FROM h x
        |  JOIN firsts f ON x.hk = f.hk AND x.doc_id = f.doc_id AND x.seg_idx = f.seg_idx),
        |nsegs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs FROM segs GROUP BY doc_id),
        |reb AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text,
        |    CAST(count(*) AS BIGINT) AS n_kept FROM keep GROUP BY doc_id)
        |SELECT n.doc_id, COALESCE(r.text, '') AS text, n.n_segs,
        |  n.n_segs - COALESCE(r.n_kept, 0) AS n_dropped
        |FROM nsegs n LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // q_seg_dedup's segmentation, with the keep rule flipped to
    // "hash present in >= 3 distinct docs -> drop every occurrence"
    "q_boilerplate" ->
      """WITH d0 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |         THEN 'terms of service apply all rights reserved please contact admin ' || text
        |         ELSE text END AS text
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d0),
        |segs AS (SELECT doc_id, gs.i AS seg_idx,
        |    array_to_string(ws[gs.i*10+1 : gs.i*10+10], ' ') AS seg
        |  FROM w, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ws)/10.0) AS BIGINT))) AS i) gs),
        |h AS (SELECT doc_id, seg_idx, seg, substr(md5(seg), 1, 16) AS hk FROM segs),
        |hot AS (SELECT hk FROM (
        |    SELECT hk, count(DISTINCT doc_id) AS df FROM h GROUP BY hk)
        |  WHERE df >= 3),
        |keep AS (SELECT x.doc_id, x.seg_idx, x.seg FROM h x
        |  LEFT JOIN hot ON x.hk = hot.hk WHERE hot.hk IS NULL),
        |nsegs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs FROM segs GROUP BY doc_id),
        |reb AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text,
        |    CAST(count(*) AS BIGINT) AS n_kept FROM keep GROUP BY doc_id)
        |SELECT n.doc_id, COALESCE(r.text, '') AS text, n.n_segs,
        |  n.n_segs - COALESCE(r.n_kept, 0) AS n_dropped
        |FROM nsegs n LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // q_seg_dedup's segmentation; duplicated (count > 1) block hashes,
    // adjacent flagged blocks merged per doc (gaps-and-islands)
    "q_dup_spans" ->
      """WITH d0 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |         THEN 'the quick brown fox jumps over the lazy dog again and the cat sat on the mat watching it run ' || text
        |         ELSE text END AS text
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d0),
        |segs AS (SELECT doc_id, gs.i AS seg_idx,
        |    array_to_string(ws[gs.i*10+1 : gs.i*10+10], ' ') AS seg
        |  FROM w, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ws)/10.0) AS BIGINT))) AS i) gs),
        |h AS (SELECT doc_id, seg_idx, substr(md5(seg), 1, 16) AS hk FROM segs),
        |hot AS (SELECT hk FROM (SELECT hk, count(*) AS c FROM h GROUP BY hk) WHERE c > 1),
        |f AS (SELECT doc_id, seg_idx,
        |    seg_idx - row_number() OVER (PARTITION BY doc_id ORDER BY seg_idx) AS grp
        |  FROM h JOIN hot USING (hk))
        |SELECT doc_id, CAST(min(seg_idx) AS BIGINT) AS span_start,
        |  CAST(count(*) AS BIGINT) AS span_blocks
        |FROM f GROUP BY doc_id, grp""".stripMargin,

    // both span sources replayed (pii prefix-sum bytes; duplicated
    // blocks -> bytes via the same prefix sums), then gaps-and-islands
    // merged: new island when start exceeds the running max of PRIOR
    // ends (equality abuts -> merges)
    "q_mask_spans" ->
      s"""WITH d0 AS (SELECT doc_id,
         |    (CASE WHEN doc_id % 5 = 0
         |      THEN 'header 10.0.0.1 flagged the quick brown fox jumps over the lazy dog while the cat sat on the mat today ' || text
         |      ELSE text END) || ' ' || $piiSaltSql AS t
         |  FROM documents),
         |tok AS (SELECT doc_id, string_split(t, ' ') AS ts FROM d0),
         |psp AS (SELECT doc_id, $piiSpanStructSql AS sp FROM tok),
        |pii AS (SELECT doc_id, CAST(sp.s AS BIGINT) AS s, CAST(sp.e AS BIGINT) AS e
        |  FROM psp WHERE sp.k IS NOT NULL),
        |segs AS (SELECT doc_id, gs.i AS seg_idx,
        |    array_to_string(ts[gs.i*10+1 : gs.i*10+10], ' ') AS seg
        |  FROM tok, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ts)/10.0) AS BIGINT))) AS i) gs),
        |h AS (SELECT doc_id, seg_idx, substr(md5(seg), 1, 16) AS hk FROM segs),
        |hot AS (SELECT hk FROM (SELECT hk, count(*) AS c FROM h GROUP BY hk) WHERE c > 1),
        |f AS (SELECT doc_id, seg_idx,
        |    seg_idx - row_number() OVER (PARTITION BY doc_id ORDER BY seg_idx) AS grp
        |  FROM h JOIN hot USING (hk)),
        |bsp AS (SELECT doc_id, min(seg_idx) AS b0, count(*) AS nb
        |  FROM f GROUP BY doc_id, grp),
        |dup AS (SELECT b.doc_id,
        |    CAST(CASE WHEN b.b0 = 0 THEN 0
        |      ELSE strlen(array_to_string(ts[1:CAST(b.b0*10 AS INT)], ' ')) + 1
        |      END AS BIGINT) AS s,
        |    CAST(strlen(array_to_string(
        |      ts[1:CAST(least((b.b0+b.nb)*10, len(ts)) AS INT)], ' '))
        |      AS BIGINT) AS e
        |  FROM bsp b JOIN tok USING (doc_id)),
        |allsp AS (SELECT * FROM pii UNION ALL SELECT * FROM dup),
        |m AS (SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM allsp),
        |m2 AS (SELECT doc_id, s, e,
        |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw FROM m),
        |g AS (SELECT doc_id, s, e,
        |    sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m2)
        |SELECT doc_id, CAST(min(s) AS BIGINT) AS start,
        |  CAST(max(e) AS BIGINT) AS "end",
        |  CAST(count(*) AS BIGINT) AS n_spans
        |FROM g GROUP BY doc_id, grp""".stripMargin,

    // the z key replayed bit-for-bit as shift/and/or terms
    "q_zorder" ->
      s"""WITH $zDimsCte
         |SELECT doc_id, len_b, src_b,
         |  CAST(${zorderOracleExpr(Seq("len_b", "src_b"), 10)} AS BIGINT) AS zval
         |FROM d""".stripMargin,

    // the skipping manifest: stats per z-bucket (zval >> 12)
    "q_zorder_stats" ->
      s"""WITH $zDimsCte,
         |z AS (SELECT doc_id, len_b, src_b,
         |    (${zorderOracleExpr(Seq("len_b", "src_b"), 10)}) AS zv FROM d)
         |SELECT CAST(zv >> 12 AS BIGINT) AS zbucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(min(len_b) AS BIGINT) AS min_len_b,
         |  CAST(max(len_b) AS BIGINT) AS max_len_b,
         |  CAST(min(src_b) AS BIGINT) AS min_src_b,
         |  CAST(max(src_b) AS BIGINT) AS max_src_b
         |FROM z GROUP BY 1""".stripMargin,

    // oracle = the PLAIN filter: equality proves the manifest pruning
    // (bucket boxes intersecting the predicate) is lossless
    "q_zorder_prune" ->
      s"""WITH $zDimsCte
         |SELECT doc_id, len_b, src_b FROM d
         |WHERE len_b BETWEEN 128 AND 255 AND src_b BETWEEN 2 AND 5""".stripMargin,

    // exact global heavy hitters; deterministic boundary (count desc,
    // ngram asc)
    "q_top_ngrams" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, greatest(len(ws)-2, 0)+1)] AS sh
        |  FROM w WHERE len(ws) >= 3),
        |g AS (SELECT unnest(sh) AS ngram FROM sh)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM g GROUP BY ngram
        |ORDER BY n_occurrences DESC, ngram ASC LIMIT 20""".stripMargin,

    // overlapping-exact substring counts replayed position-by-position:
    // every start offset where the term matches counts once — the same
    // contract as the automaton's end-position outputs
    "q_blocklist" ->
      s"""WITH $blocklistKwCte,
         |hits AS (SELECT d.doc_id, k.term,
         |  CAST(len(list_filter(range(1, len(d.text) - len(k.term) + 2),
         |    p -> substr(d.text, CAST(p AS INT), len(k.term)) = k.term))
         |    AS BIGINT) AS n
         |  FROM documents d, kw k)
         |SELECT doc_id, term, n FROM hits WHERE n > 0""".stripMargin,

    // match positions from the char walk, converted to BYTE offsets via
    // strlen of the char prefix (strlen counts bytes) — exact on any
    // input; the p = 1 guard avoids DuckDB's NULL zero-length slice
    "q_blocklist_spans" ->
      s"""WITH $blocklistKwCte,
         |pos AS (SELECT d.doc_id, d.text, k.term,
         |    unnest(list_filter(range(1, len(d.text) - len(k.term) + 2),
         |      p -> substr(d.text, CAST(p AS INT), len(k.term)) = k.term)) AS p
         |  FROM documents d, kw k)
         |SELECT doc_id,
         |  CAST(CASE WHEN p = 1 THEN 0
         |    ELSE strlen(text[1:CAST(p-1 AS INT)]) END AS BIGINT) AS start,
         |  CAST(strlen(text[1:CAST(p + len(term) - 1 AS INT)]) AS BIGINT)
         |    AS "end",
         |  term
         |FROM pos""".stripMargin,

    // the drop gate only needs existence, not counts
    "q_blocklist_gate" ->
      s"""WITH $blocklistKwCte
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM kw k
         |  WHERE contains(d.text, k.term))""".stripMargin,

    // pair lists per offset via the ngram-style list comprehension, pairs
    // re-split from the joined key, unigram counts joined on each side
    "q_cooccur" ->
      """WITH w AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
        |p1 AS (SELECT unnest([ws[i] || ' ' || ws[i+1]
        |         for i in range(1, greatest(len(ws)-1, 0)+1)]) AS pr FROM w),
        |p2 AS (SELECT unnest([ws[i] || ' ' || ws[i+2]
        |         for i in range(1, greatest(len(ws)-2, 0)+1)]) AS pr FROM w),
        |p AS (SELECT pr FROM p1 UNION ALL SELECT pr FROM p2),
        |pc AS (SELECT string_split(pr, ' ')[1] AS a, string_split(pr, ' ')[2] AS b,
        |         CAST(count(*) AS BIGINT) AS n_ab FROM p GROUP BY 1, 2),
        |u AS (SELECT unnest(ws) AS wd FROM w),
        |uc AS (SELECT wd, CAST(count(*) AS BIGINT) AS n_w FROM u GROUP BY wd),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM u)
        |SELECT pc.a, pc.b, pc.n_ab, ua.n_w AS n_a, ub.n_w AS n_b, tot.n_total
        |FROM pc JOIN uc ua ON pc.a = ua.wd JOIN uc ub ON pc.b = ub.wd, tot
        |WHERE pc.n_ab >= 5""".stripMargin,

    // Lloyd-step sufficient statistics: the q_ann_ivf assignment CTE
    // (max quantized dot, ties to smaller list id) + per (list, dim)
    // count and quantized-coordinate sums
    "q_kmeans_step" ->
      """WITH qv AS (SELECT vec_id,
        |  [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings),
        |cents AS (SELECT CAST(vec_id // 100 AS INT) AS list_id, qe AS ce
        |          FROM qv WHERE vec_id % 100 = 0),
        |dots AS (SELECT v.vec_id, c.list_id,
        |  CAST(list_sum([v.qe[i] * c.ce[i] for i in range(1, len(v.qe)+1)]) AS BIGINT) AS cdot
        |  FROM qv v, cents c),
        |ranked AS (SELECT vec_id, list_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, list_id ASC) AS rnk
        |  FROM dots),
        |assign AS (SELECT vec_id, list_id FROM ranked WHERE rnk = 1)
        |SELECT a.list_id, CAST(r.i - 1 AS INT) AS dim_idx,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(v.qe[r.i]) AS BIGINT) AS qsum
        |FROM assign a JOIN qv v USING (vec_id), range(1, 65) r(i)
        |GROUP BY a.list_id, r.i""".stripMargin,

    // cluster-dedup -> shuffle -> pack: minhash pairs (the q_minhash_pairs
    // recipe) -> recursive transitive closure -> keep component-min ids ->
    // fmix64 shuffle key (signed) -> per-lang pack window ordered by it
    "q_corpus_dedup_pack" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, greatest(len(ws)-2, 0)+1)] AS sh
        |  FROM w WHERE len(ws) >= 3),
        |sig AS (SELECT doc_id,
        |  list_min([substr(md5('0|' || s), 1, 8) for s in sh]) AS s0,
        |  list_min([substr(md5('0|' || s), 9, 8) for s in sh]) AS s1,
        |  list_min([substr(md5('0|' || s), 17, 8) for s in sh]) AS s2,
        |  list_min([substr(md5('0|' || s), 25, 8) for s in sh]) AS s3,
        |  list_min([substr(md5('1|' || s), 1, 8) for s in sh]) AS s4,
        |  list_min([substr(md5('1|' || s), 9, 8) for s in sh]) AS s5,
        |  list_min([substr(md5('1|' || s), 17, 8) for s in sh]) AS s6,
        |  list_min([substr(md5('1|' || s), 25, 8) for s in sh]) AS s7
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, 0 AS band_idx, md5(s0 || ',' || s1) AS band_key FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s2 || ',' || s3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(s4 || ',' || s5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(s6 || ',' || s7) FROM sig),
        |pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM bands l JOIN bands r
        |    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
        |    AND l.doc_id < r.doc_id),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |  UNION SELECT b, a FROM pairs),
        |walk(id, lbl) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, wk.lbl FROM walk wk JOIN edges e ON e.src = wk.id),
        |losers AS (SELECT id AS doc_id FROM walk GROUP BY id
        |  HAVING id <> min(lbl)),
        |kept AS (SELECT d.doc_id, d.lang, d.text FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)),
        |x0 AS (SELECT doc_id, lang, text,
        |    xor(CAST(doc_id AS UBIGINT), CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM kept),
        |x1 AS (SELECT doc_id, lang, text, xor(x, x >> 33) AS x FROM x0),
        |x2 AS (SELECT doc_id, lang, text, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x1),
        |x3 AS (SELECT doc_id, lang, text, xor(x, x >> 33) AS x FROM x2),
        |x4 AS (SELECT doc_id, lang, text, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x3),
        |sk AS (SELECT doc_id, lang, text,
        |  CAST(CAST(xor(x, x >> 33) AS HUGEINT)
        |    - CASE WHEN xor(x, x >> 33) >= CAST('9223372036854775808' AS UBIGINT)
        |           THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS BIGINT) AS shuffle_key
        |  FROM x4),
        |tt AS (SELECT doc_id, lang, shuffle_key,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |FROM sk)
        |SELECT doc_id, lang, shuffle_key, n_tokens,
        |  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY shuffle_key ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) / 2000.0) AS BIGINT) AS shard_seq
        |FROM tt""".stripMargin,

    "q_gate_normalize" ->
      s"""$T
         |SELECT conv_id, turn_idx,
         |  CASE WHEN text IS NULL THEN NULL
         |       WHEN strlen(text) >= 1 AND strlen(text) <= 4000
         |         THEN lower(regexp_replace(text, '(^[ \t\n]+)|([ \t\n]+$$)', '', 'g'))
         |       ELSE text END AS text_norm,
         |  CASE WHEN text IS NULL THEN 1 ELSE
         |    (CASE WHEN strlen(text) = 0 THEN 1 ELSE 0 END) +
         |    (CASE WHEN strlen(text) < 1 THEN 1 ELSE 0 END) +
         |    (CASE WHEN strlen(text) > 4000 THEN 1 ELSE 0 END) END AS n_errors,
         |  CASE WHEN text IS NULL THEN 'cannot_be_empty'
         |       WHEN strlen(text) = 0 THEN 'cannot_be_empty'
         |       WHEN strlen(text) < 1 THEN 'too_short'
         |       WHEN strlen(text) > 4000 THEN 'too_long'
         |       ELSE NULL END AS first_code
         |FROM turns""".stripMargin,

    "q_enum_gate" ->
      s"""$T
         |SELECT conv_id, turn_idx,
         |  CASE WHEN role IN ('user','assistant') THEN 'msg' ELSE 'sys' END AS tag,
         |  CASE WHEN role IN ('user','assistant') THEN
         |    (CASE WHEN text IS NULL THEN 1 ELSE
         |      (CASE WHEN strlen(text) = 0 THEN 1 ELSE 0 END) +
         |      (CASE WHEN strlen(text) < 1 THEN 1 ELSE 0 END) +
         |      (CASE WHEN strlen(text) > 4000 THEN 1 ELSE 0 END) END) +
         |    (CASE WHEN turn_idx < 0 THEN 1 ELSE 0 END)
         |  ELSE
         |    CASE WHEN tool IS NULL OR strlen(tool) = 0 THEN 1 ELSE 0 END
         |  END AS n_errors,
         |  CASE WHEN role IN ('user','assistant') THEN
         |    CASE WHEN text IS NULL THEN 'cannot_be_empty'
         |         WHEN strlen(text) = 0 THEN 'cannot_be_empty'
         |         WHEN strlen(text) > 4000 THEN 'too_long'
         |         WHEN turn_idx < 0 THEN 'too_small'
         |         ELSE NULL END
         |  ELSE
         |    CASE WHEN tool IS NULL OR strlen(tool) = 0 THEN 'cannot_be_empty'
         |         ELSE NULL END
         |  END AS first_code
         |FROM turns""".stripMargin,

    "q_pii_scrub" ->
      raw"""WITH p AS (
         |  SELECT doc_id, text || ' ' || $piiSaltSql AS t
         |  FROM documents)
        |SELECT doc_id,
        |  array_to_string([
        |    CASE WHEN len(string_split(x,'@')) = 2
        |           AND strlen(string_split(x,'@')[1]) >= 1
        |           AND strlen(string_split(x,'@')[2]) >= 3
        |           AND contains(string_split(x,'@')[2], '.') THEN '<EMAIL>'
        |         WHEN regexp_full_match(x, '[0-9]{1,3}(\.[0-9]{1,3}){3}') THEN '<IP>'
        |         WHEN regexp_full_match(x, '[0-9]{7,}') THEN '<NUM>'
        |         ELSE x END
        |    for x in string_split(t, ' ')], ' ') AS text_scrubbed,
        |  CAST(len([x for x in string_split(t, ' ') if
        |    (len(string_split(x,'@')) = 2
        |       AND strlen(string_split(x,'@')[1]) >= 1
        |       AND strlen(string_split(x,'@')[2]) >= 3
        |       AND contains(string_split(x,'@')[2], '.'))
        |    OR regexp_full_match(x, '[0-9]{1,3}(\.[0-9]{1,3}){3}')
        |    OR regexp_full_match(x, '[0-9]{7,}')]) AS BIGINT) AS n_pii
        |FROM p""".stripMargin,

    // byte-offset spans replayed via prefix joins: token i's start is
    // strlen(tokens 1..i-1 joined by ' ') + one separator byte (i > 1);
    // strlen counts BYTES in DuckDB, matching the operator's contract
    "q_pii_spans" ->
      s"""WITH p AS (
         |  SELECT doc_id, text || ' ' || $piiSaltSql AS t
         |  FROM documents),
         |tok AS (SELECT doc_id, string_split(t, ' ') AS ts FROM p),
         |sp AS (SELECT doc_id, $piiSpanStructSql AS sp FROM tok)
         |SELECT doc_id, CAST(sp.s AS BIGINT) AS start,
         |  CAST(sp.e AS BIGINT) AS "end", sp.k AS kind
         |FROM sp WHERE sp.k IS NOT NULL""".stripMargin,

    // salted md5 surrogate replayed literally
    "q_pseudonymize" ->
      s"""$T
         |SELECT 'u_' || substr(md5('rel-2026-08' || conv_id), 1, 16)
         |  AS conv_id, turn_idx, role
         |FROM turns""".stripMargin,

    // combo counts >= k joined back on the quasi key
    "q_kanon" ->
      """SELECT d.doc_id, d.lang, d.source, c.k_count
        |FROM documents d JOIN (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS k_count
        |  FROM documents GROUP BY 1, 2 HAVING count(*) >= 4) c
        |ON d.lang = c.lang AND d.source = c.source""".stripMargin,

    // v2 synthesized identically; FULL JOIN on id + digest compare
    "q_snapshot_diff" ->
      """WITH v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, 'new ' || text AS text
        |  FROM documents WHERE doc_id % 11 = 0),
        |o AS (SELECT doc_id, md5(text) AS old_digest FROM documents),
        |n AS (SELECT doc_id, md5(text) AS new_digest FROM v2)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, old_digest, new_digest,
        |  CASE WHEN old_digest IS NULL THEN 'added'
        |       WHEN new_digest IS NULL THEN 'removed'
        |       WHEN old_digest <> new_digest THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    // single-window lead replays the two-phase chunk-carry lead
    "q_scd2" ->
      s"""$T
         |SELECT conv_id, turn_idx, tool, ts AS valid_from,
         |  lead(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS valid_to,
         |  (lead(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) IS NULL)
         |    AS is_current
         |FROM turns WHERE tool IS NOT NULL""".stripMargin,

    // compaction must not change one row — the oracle is the original
    // table, whatever the (filesystem-dependent) grouping did
    "q_compact_exec" ->
      """SELECT doc_id, lang, n_chars, source FROM documents""".stripMargin,

    // Bloom skipping is correct iff it changes nothing — the oracle is
    // the plain equality filter
    "q_bloom_skip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars = 300""".stripMargin,

    // next assistant turn per tool event as a correlated min lookup,
    // then the same division-free rank selection per tool
    "q_tool_latency" ->
      s"""$T,
         |tools AS (SELECT conv_id, turn_idx, ts, tool FROM turns
         |  WHERE tool IS NOT NULL AND ts IS NOT NULL),
         |nxt AS (SELECT t.tool, t.conv_id, t.turn_idx, t.ts,
         |  (SELECT min(a.ts) FROM turns a
         |   WHERE a.role = 'assistant' AND a.ts IS NOT NULL
         |     AND a.conv_id = t.conv_id AND a.ts >= t.ts) AS nts
         |  FROM tools t),
         |lat AS (SELECT tool, conv_id, turn_idx,
         |    CAST(FLOOR(epoch(nts)) AS BIGINT)
         |      - CAST(FLOOR(epoch(ts)) AS BIGINT) AS v
         |  FROM nxt WHERE nts IS NOT NULL),
         |r AS (SELECT tool, v,
         |    row_number() OVER (PARTITION BY tool ORDER BY v, turn_idx) AS rn,
         |    count(*) OVER (PARTITION BY tool) AS n
         |  FROM lat)
         |SELECT tool, CAST(max(n) AS BIGINT) AS n,
         |  max(CASE WHEN rn*10000 >= 5000*n AND (rn-1)*10000 < 5000*n
         |    THEN v END) AS q5000,
         |  max(CASE WHEN rn*10000 >= 9000*n AND (rn-1)*10000 < 9000*n
         |    THEN v END) AS q9000
         |FROM r GROUP BY tool""".stripMargin,

    // reading the SCD-2 interval table point-in-time IS the backward
    // as-of on the change feed — the oracle is exactly that
    "q_scd2_read" ->
      s"""$T,
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS tool
         |        FROM turns WHERE tool IS NOT NULL AND ts IS NOT NULL
         |        GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT o.tool FROM obs o
         |   WHERE o.conv_id = a.conv_id AND o.ts <= a.ts
         |   ORDER BY o.ts DESC LIMIT 1) AS tool_pit,
         |  (SELECT o.ts FROM obs o
         |   WHERE o.conv_id = a.conv_id AND o.ts <= a.ts
         |   ORDER BY o.ts DESC LIMIT 1) AS since_ts
         |FROM turns a WHERE a.role = 'assistant' AND a.ts IS NOT NULL""".stripMargin,

    // latest row per key over the FULL feed in one pass — the two-step
    // standing+delta merge must land on exactly this (associativity)
    "q_cdc_merge" ->
      """WITH feed AS (SELECT user_id, ts, event_id, event_type, value,
        |    CASE WHEN event_type = 'error' AND ts >= TIMESTAMP '2024-01-16'
        |         THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM feed)
        |SELECT user_id, ts, event_id, event_type, value, op
        |FROM r WHERE rn = 1 AND op = 'u'""".stripMargin,

    // serving-path report bytes, replicated with SQL string construction
    // (exact serde shape: numeric-free key paths, detail objects/null)
    "q_report_json" ->
      s"""$T,
         |p AS (
         |  SELECT conv_id, turn_idx,
         |    CASE WHEN turn_idx % 7 = 0 THEN NULL
         |         WHEN turn_idx % 7 = 1 THEN ''
         |         WHEN turn_idx % 7 = 2 THEN 'x' || repeat('y', 4500)
         |         ELSE text END AS t
         |  FROM turns)
         |SELECT conv_id, turn_idx,
         |  CASE
         |    WHEN t IS NULL THEN
         |      '[{"path":["text"],"code":"cannot_be_empty","message":"value should not be empty","detail":null}]'
         |    WHEN strlen(t) = 0 THEN
         |      '[{"path":["text"],"code":"cannot_be_empty","message":"value should not be empty","detail":null},' ||
         |      '{"path":["text"],"code":"too_short","message":"expected length of at least 1, found 0","detail":{"min":1,"actual":0,"exclusive":false}}]'
         |    WHEN strlen(t) > 4000 THEN
         |      '[{"path":["text"],"code":"too_long","message":"expected length of at most 4000, found ' || strlen(t) ||
         |      '","detail":{"max":4000,"actual":' || strlen(t) || ',"exclusive":false}}]'
         |    ELSE '[]' END AS report
         |FROM p""".stripMargin,

    // one-pass ingest split: the oracle predicts the transformed text on
    // the valid side, the untouched text on the quarantine side, the
    // exact report bytes, and the split routing flag
    "q_ingest_split" ->
      s"""$T,
         |p AS (
         |  SELECT conv_id, turn_idx,
         |    CASE WHEN turn_idx % 7 = 0 THEN NULL
         |         WHEN turn_idx % 7 = 1 THEN ''
         |         WHEN turn_idx % 7 = 2 THEN 'x' || repeat('y', 4500)
         |         ELSE text END AS t
         |  FROM turns)
         |SELECT conv_id, turn_idx,
         |  CASE WHEN t IS NULL THEN NULL
         |       WHEN strlen(t) >= 1 AND strlen(t) <= 4000
         |         THEN lower(regexp_replace(t, '(^[ \t\n]+)|([ \t\n]+$$)', '', 'g'))
         |       ELSE t END AS text,
         |  CASE
         |    WHEN t IS NULL THEN
         |      '[{"path":["text"],"code":"cannot_be_empty","message":"value should not be empty","detail":null}]'
         |    WHEN strlen(t) = 0 THEN
         |      '[{"path":["text"],"code":"cannot_be_empty","message":"value should not be empty","detail":null},' ||
         |      '{"path":["text"],"code":"too_short","message":"expected length of at least 1, found 0","detail":{"min":1,"actual":0,"exclusive":false}}]'
         |    WHEN strlen(t) > 4000 THEN
         |      '[{"path":["text"],"code":"too_long","message":"expected length of at most 4000, found ' || strlen(t) ||
         |      '","detail":{"max":4000,"actual":' || strlen(t) || ',"exclusive":false}}]'
         |    ELSE '[]' END AS report,
         |  CASE WHEN t IS NOT NULL AND strlen(t) >= 1 AND strlen(t) <= 4000
         |       THEN 'true' ELSE 'false' END AS valid
         |FROM p""".stripMargin,

    "q_salted_agg" ->
      s"""$T
         |SELECT conv_id, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(coalesce(strlen(text), 0)) AS BIGINT) AS s
         |FROM turns GROUP BY conv_id""".stripMargin,

    "q_bucketed_pipeline" ->
      s"""$T,
         |g AS (
         |  SELECT conv_id, turn_idx, tool, ts,
         |    CASE WHEN text IS NULL THEN NULL
         |         WHEN strlen(text) >= 1 AND strlen(text) <= 4000
         |           THEN lower(regexp_replace(text, '(^[ \t\n]+)|([ \t\n]+$$)', '', 'g'))
         |         ELSE text END AS text_norm,
         |    CASE WHEN text IS NULL THEN 1 ELSE
         |      (CASE WHEN strlen(text) = 0 THEN 1 ELSE 0 END) +
         |      (CASE WHEN strlen(text) < 1 THEN 1 ELSE 0 END) +
         |      (CASE WHEN strlen(text) > 4000 THEN 1 ELSE 0 END) END AS n_errors
         |  FROM turns),
         |w AS (
         |  SELECT *,
         |    lag(text_norm) OVER win AS prev_text,
         |    last_value(tool IGNORE NULLS) OVER (PARTITION BY conv_id
         |      ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_state,
         |    CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_tool_calls,
         |    lag(ts) OVER win AS prev_ts
         |  FROM g
         |  WINDOW win AS (PARTITION BY conv_id ORDER BY ts, turn_idx)),
         |s AS (
         |  SELECT *,
         |    CAST(SUM(CASE WHEN prev_ts IS NULL
         |        OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
         |      THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
         |  FROM w),
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS last_tool
         |        FROM turns WHERE tool IS NOT NULL GROUP BY conv_id, ts)
         |SELECT s.conv_id, s.turn_idx, s.text_norm, s.n_errors, s.prev_text,
         |  s.tool_state, s.n_tool_calls, s.session_seq,
         |  (SELECT o.last_tool FROM obs o
         |   WHERE o.conv_id = s.conv_id AND o.ts <= s.ts
         |   ORDER BY o.ts DESC LIMIT 1) AS last_tool
         |FROM s""".stripMargin,

    "q_lag_lead" ->
      s"""$T
         |SELECT conv_id, turn_idx,
         |  lag(text) OVER w AS prev_text,
         |  lead(role) OVER w AS next_role
         |FROM turns
         |WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)""".stripMargin,

    "q_locf_backfill" ->
      s"""$T
         |SELECT conv_id, turn_idx,
         |  last_value(tool IGNORE NULLS) OVER (PARTITION BY conv_id
         |    ORDER BY ts, turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_locf
         |FROM turns""".stripMargin,

    "q_locf_scalable" ->
      s"""$T
         |SELECT conv_id, turn_idx,
         |  last_value(tool IGNORE NULLS) OVER (PARTITION BY conv_id
         |    ORDER BY ts, turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_locf
         |FROM turns""".stripMargin,

    // the streaming LOCF must agree with the BATCH backfill SQL
    "q_stream_locf" ->
      s"""$T
         |SELECT conv_id, turn_idx,
         |  last_value(tool IGNORE NULLS) OVER (PARTITION BY conv_id
         |    ORDER BY ts, turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_locf
         |FROM turns""".stripMargin,

    // windowed counts: plain batch GROUP BY 5-minute epoch bucket
    "q_stream_window" ->
      s"""$T
         |SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS w_start_sec,
         |  role, CAST(count(*) AS BIGINT) AS n
         |FROM turns GROUP BY 1, 2""".stripMargin,

    // the streaming dedup audit must agree with batch first-wins dedup:
    // same synthesized duplicates, kept = first occurrence per md5 hash
    "q_stream_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 3 = 0),
        |h AS (SELECT doc_id, md5(text) AS hash FROM u)
        |SELECT doc_id, hash,
        |  CAST(CASE WHEN row_number() OVER (
        |      PARTITION BY hash ORDER BY doc_id) = 1
        |    THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM h""".stripMargin,

    // the live HLL gauge must land register-for-register on the batch
    // sketch — LITERALLY the q_hll oracle
    "q_stream_hll" ->
      s"""WITH v AS (SELECT md5(text) AS hx
         |    FROM documents WHERE text IS NOT NULL),
         |k AS (SELECT ${hexToLongSql("hx", 15)} AS k FROM v),
         |b AS (SELECT k % 256 AS bucket, k // 256 AS r FROM k)
         |SELECT bucket,
         |  CAST(max(CASE WHEN r = 0 THEN 53 ELSE 53 - length(bin(r)) END)
         |    AS INTEGER) AS max_rho
         |FROM b GROUP BY 1""".stripMargin,

    "q_sessionize" ->
      s"""$T,
         |s1 AS (SELECT conv_id, turn_idx, ts,
         |  lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |  FROM turns),
         |s2 AS (SELECT conv_id, turn_idx,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL
         |      OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
         |  FROM s1)
         |SELECT conv_id, turn_idx, session_seq,
         |  conv_id || '#' || CAST(session_seq AS VARCHAR) AS session_id
         |FROM s2""".stripMargin,

    // q_sessionize's boundaries + session-start min + fixed-width slice
    "q_sessionize_capped" ->
      s"""$T,
         |s1 AS (SELECT conv_id, turn_idx, ts,
         |  lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |  FROM turns),
         |s2 AS (SELECT conv_id, turn_idx, ts,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL
         |      OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
         |  FROM s1),
         |s3 AS (SELECT conv_id, turn_idx, session_seq,
         |  CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT)
         |      - min(CAST(FLOOR(epoch(ts)) AS BIGINT))
         |          OVER (PARTITION BY conv_id, session_seq)) / 1200.0)
         |    AS BIGINT) AS slice_seq
         |  FROM s2)
         |SELECT conv_id, turn_idx, session_seq, slice_seq,
         |  conv_id || '#' || CAST(session_seq AS VARCHAR)
         |    || '#' || CAST(slice_seq AS VARCHAR) AS capped_session_id
         |FROM s3""".stripMargin,

    // the live per-turn assignment must agree with the batch capped SQL
    "q_stream_sess_capped" ->
      s"""$T,
         |s1 AS (SELECT conv_id, turn_idx, ts,
         |  lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |  FROM turns),
         |s2 AS (SELECT conv_id, turn_idx, ts,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL
         |      OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
         |  FROM s1),
         |s3 AS (SELECT conv_id, turn_idx, session_seq,
         |  CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT)
         |      - min(CAST(FLOOR(epoch(ts)) AS BIGINT))
         |          OVER (PARTITION BY conv_id, session_seq)) / 1200.0)
         |    AS BIGINT) AS slice_seq
         |  FROM s2)
         |SELECT conv_id, turn_idx, session_seq, slice_seq,
         |  conv_id || '#' || CAST(session_seq AS VARCHAR)
         |    || '#' || CAST(slice_seq AS VARCHAR) AS capped_session_id
         |FROM s3""".stripMargin,

    // the carried observation's OWN ts rides the window; expiry is a
    // per-anchor age check against it
    "q_locf_ttl" ->
      s"""$T
         |SELECT conv_id, turn_idx,
         |  CASE WHEN obs_ts IS NOT NULL
         |      AND CAST(FLOOR(epoch(ts)) AS BIGINT)
         |        - CAST(FLOOR(epoch(obs_ts)) AS BIGINT) <= 900
         |    THEN v END AS tool_ttl
         |FROM (SELECT conv_id, turn_idx, ts,
         |  last_value(CASE WHEN tool IS NOT NULL AND ts IS NOT NULL
         |      THEN ts END IGNORE NULLS)
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS obs_ts,
         |  last_value(CASE WHEN tool IS NOT NULL AND ts IS NOT NULL
         |      THEN tool END IGNORE NULLS)
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
         |  FROM turns)""".stripMargin,

    // the live TTL'd carry must agree with the BATCH TTL'd backfill SQL
    "q_stream_locf_ttl" ->
      s"""$T
         |SELECT conv_id, turn_idx,
         |  CASE WHEN obs_ts IS NOT NULL
         |      AND CAST(FLOOR(epoch(ts)) AS BIGINT)
         |        - CAST(FLOOR(epoch(obs_ts)) AS BIGINT) <= 900
         |    THEN v END AS tool_ttl
         |FROM (SELECT conv_id, turn_idx, ts,
         |  last_value(CASE WHEN tool IS NOT NULL AND ts IS NOT NULL
         |      THEN ts END IGNORE NULLS)
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS obs_ts,
         |  last_value(CASE WHEN tool IS NOT NULL AND ts IS NOT NULL
         |      THEN tool END IGNORE NULLS)
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
         |  FROM turns)""".stripMargin,

    "q_checkpoint_resume" ->
      s"""$T,
         |s1 AS (SELECT conv_id, turn_idx, ts,
         |  lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |  FROM turns),
         |s2 AS (SELECT conv_id, turn_idx,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL
         |      OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
         |  FROM s1)
         |SELECT conv_id, turn_idx, session_seq,
         |  conv_id || '#' || CAST(session_seq AS VARCHAR) AS session_id
         |FROM s2""".stripMargin,

    // md5-hex bucket replayed digit-by-digit (strpos arithmetic), then
    // plain grouped lineage aggregates
    "q_lineage" ->
      s"""$T,
         |h AS (SELECT conv_id, ts, substr(md5(conv_id), 1, 8) AS hx FROM turns)
         |SELECT CAST((${hexToLongSql("hx", 8)}) % 16 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_ts,
         |  min(ts) AS min_ts, max(ts) AS max_ts,
         |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_keys
         |FROM h GROUP BY 1""".stripMargin,

    "q_session_summary" ->
      s"""$T,
         |s1 AS (SELECT conv_id, turn_idx, ts,
         |  lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |  FROM turns),
         |s2 AS (SELECT conv_id, ts,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL
         |      OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
         |  FROM s1)
         |SELECT conv_id, conv_id || '#' || CAST(session_seq AS VARCHAR) AS session_id,
         |  CAST(count(*) AS BIGINT) AS n_turns,
         |  min(ts) AS session_start, max(ts) AS session_end,
         |  CAST(FLOOR(epoch(max(ts))) AS BIGINT) - CAST(FLOOR(epoch(min(ts))) AS BIGINT) AS duration_sec
         |FROM s2 GROUP BY conv_id, session_seq""".stripMargin,

    "q_asof_tool" ->
      s"""$T,
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS last_tool
         |        FROM turns WHERE tool IS NOT NULL GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT o.last_tool FROM obs o
         |   WHERE o.conv_id = a.conv_id AND o.ts <= a.ts
         |   ORDER BY o.ts DESC LIMIT 1) AS last_tool
         |FROM turns a WHERE a.role = 'assistant'""".stripMargin,

    // the live as-of must equal the batch as-of restricted to non-null-ts
    // anchors (a live feed has no null event times)
    "q_stream_asof" ->
      s"""$T,
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS last_tool
         |        FROM turns WHERE tool IS NOT NULL AND ts IS NOT NULL
         |        GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT o.last_tool FROM obs o
         |   WHERE o.conv_id = a.conv_id AND o.ts <= a.ts
         |   ORDER BY o.ts DESC LIMIT 1) AS tool_asof
         |FROM turns a WHERE a.role = 'assistant' AND a.ts IS NOT NULL""".stripMargin,

    // the live forward as-of must equal the batch forward as-of
    // restricted to non-null-ts anchors
    "q_stream_asof_fwd" ->
      s"""$T,
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS next_tool
         |        FROM turns WHERE tool IS NOT NULL AND ts IS NOT NULL
         |        GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT o.next_tool FROM obs o
         |   WHERE o.conv_id = a.conv_id AND o.ts >= a.ts
         |   ORDER BY o.ts ASC LIMIT 1) AS next_tool
         |FROM turns a WHERE a.role = 'assistant' AND a.ts IS NOT NULL""".stripMargin,

    // trailing frame array, list_sort, discrete rank ceil(q*n/1e4) —
    // 1-based indexing on both engines
    "q_rolling_median" ->
      s"""$T,
         |o AS (SELECT conv_id, turn_idx,
         |  list_sort(array_agg(CAST(COALESCE(strlen(text), 0) AS BIGINT))
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)) AS l
         |  FROM turns)
         |SELECT conv_id, turn_idx,
         |  CASE WHEN len(l) > 0
         |    THEN l[CAST((5000 * len(l) + 9999) // 10000 AS BIGINT)] END
         |    AS med_len
         |FROM o""".stripMargin,

    // LOCF of the observation timestamp, then exact epoch-second delta
    "q_staleness" ->
      s"""$T,
         |o AS (SELECT conv_id, turn_idx, ts,
         |  last_value(CASE WHEN tool IS NOT NULL THEN ts END IGNORE NULLS)
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_obs
         |  FROM turns)
         |SELECT conv_id, turn_idx,
         |  CAST(FLOOR(epoch(ts)) AS BIGINT)
         |    - CAST(FLOOR(epoch(last_obs)) AS BIGINT) AS staleness_sec
         |FROM o""".stripMargin,

    // each feed replayed as its own correlated backward lookup — the
    // Spark side fuses them into one union-merge pass
    "q_asof_multi" ->
      s"""$T,
         |tf AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS name
         |       FROM turns WHERE tool IS NOT NULL GROUP BY conv_id, ts),
         |uf AS (SELECT conv_id, ts, CAST(max(strlen(text)) AS BIGINT) AS len
         |       FROM turns WHERE role = 'user' GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT f.name FROM tf f
         |   WHERE f.conv_id = a.conv_id AND f.ts <= a.ts
         |   ORDER BY f.ts DESC LIMIT 1) AS tool_name,
         |  (SELECT f.len FROM uf f
         |   WHERE f.conv_id = a.conv_id AND f.ts <= a.ts
         |   ORDER BY f.ts DESC LIMIT 1) AS user_len
         |FROM turns a WHERE a.role = 'assistant'""".stripMargin,

    "q_asof_forward" ->
      s"""$T,
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS next_tool
         |        FROM turns WHERE tool IS NOT NULL GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT o.next_tool FROM obs o
         |   WHERE o.conv_id = a.conv_id AND o.ts >= a.ts
         |   ORDER BY o.ts ASC LIMIT 1) AS next_tool
         |FROM turns a WHERE a.role = 'assistant'""".stripMargin,

    "q_asof_fwd_union" ->
      s"""$T,
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS next_tool
         |        FROM turns WHERE tool IS NOT NULL GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT o.next_tool FROM obs o
         |   WHERE o.conv_id = a.conv_id AND o.ts >= a.ts
         |   ORDER BY o.ts ASC LIMIT 1) AS next_tool
         |FROM turns a WHERE a.role = 'assistant'""".stripMargin,

    // forward + tolerance: the match must start no later than 24 h after
    // the anchor, at exact microsecond duration (epoch_us difference)
    "q_asof_fwd_native" ->
      s"""$T,
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS next_tool
         |        FROM turns WHERE tool IS NOT NULL GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT o.next_tool FROM obs o
         |   WHERE o.conv_id = a.conv_id AND o.ts >= a.ts
         |     AND epoch_us(o.ts) - epoch_us(a.ts) <= 86400000000
         |   ORDER BY o.ts ASC LIMIT 1) AS next_tool
         |FROM turns a WHERE a.role = 'assistant'""".stripMargin,

    "q_asof_native" ->
      s"""$T,
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS last_tool
         |        FROM turns WHERE tool IS NOT NULL GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT o.last_tool FROM obs o
         |   WHERE o.conv_id = a.conv_id AND o.ts <= a.ts
         |   ORDER BY o.ts DESC LIMIT 1) AS last_tool
         |FROM turns a WHERE a.role = 'assistant'""".stripMargin,

    // ordered string_agg replays the render byte-for-byte
    "q_render_sft" ->
      s"""$T,
         |lines AS (SELECT conv_id, ts, turn_idx,
         |  role || CASE WHEN tool IS NOT NULL THEN '[' || tool || ']' ELSE '' END
         |       || ': ' || COALESCE(text, '') AS line
         |  FROM turns),
         |r AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         |  string_agg(line, chr(10) ORDER BY ts, turn_idx) AS sft_text
         |  FROM lines GROUP BY conv_id)
         |SELECT conv_id, n_turns, sft_text,
         |  CAST(length(sft_text) AS BIGINT) AS n_chars FROM r""".stripMargin,

    // offsets replayed as the same running sum over rendered line lengths
    "q_sft_spans" ->
      s"""$T,
         |lines AS (SELECT conv_id, ts, turn_idx, role,
         |  role || CASE WHEN tool IS NOT NULL THEN '[' || tool || ']' ELSE '' END
         |       || ': ' || COALESCE(text, '') AS line
         |  FROM turns)
         |SELECT conv_id, turn_idx, role,
         |  CAST(COALESCE(sum(length(line) + 1) OVER w, 0) AS BIGINT) AS start_off,
         |  CAST(COALESCE(sum(length(line) + 1) OVER w, 0) + length(line) AS BIGINT)
         |    AS end_off,
         |  role = 'assistant' AS loss_mask
         |FROM lines
         |WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin,

    // nearest pick replayed as a correlated ORDER BY (abs distance,
    // forward-flag) LIMIT 1 — deterministic because obs is unique per
    // (conv_id, ts), so a within-direction distance tie is the same row
    "q_asof_nearest" ->
      s"""$T,
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS near_tool
         |        FROM turns WHERE tool IS NOT NULL GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT o.near_tool FROM obs o WHERE o.conv_id = a.conv_id
         |   ORDER BY abs(CAST(FLOOR(epoch(o.ts)) AS BIGINT)
         |              - CAST(FLOOR(epoch(a.ts)) AS BIGINT)),
         |            CASE WHEN o.ts > a.ts THEN 1 ELSE 0 END
         |   LIMIT 1) AS near_tool,
         |  (SELECT CASE WHEN o.ts > a.ts THEN 'f' ELSE 'b' END
         |   FROM obs o WHERE o.conv_id = a.conv_id
         |   ORDER BY abs(CAST(FLOOR(epoch(o.ts)) AS BIGINT)
         |              - CAST(FLOOR(epoch(a.ts)) AS BIGINT)),
         |            CASE WHEN o.ts > a.ts THEN 1 ELSE 0 END
         |   LIMIT 1) AS asof_side
         |FROM turns a WHERE a.role = 'assistant'""".stripMargin,

    // the live path must reproduce the BATCH range-frame semantics
    // byte-for-byte — same oracle as q_target_encode
    "q_stream_encode" ->
      s"""$T
         |SELECT conv_id, turn_idx, role,
         |  CAST(count(strlen(text)) OVER w AS BIGINT) AS enc_cnt,
         |  CAST(sum(strlen(text)) OVER w AS BIGINT) AS enc_sum
         |FROM turns
         |WINDOW w AS (PARTITION BY role
         |  ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
         |  RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin,

    // strictly-past range frame: RANGE ... AND 1 PRECEDING excludes the
    // current row AND its same-epoch ties — the no-leakage contract
    "q_target_encode" ->
      s"""$T
         |SELECT conv_id, turn_idx, role,
         |  CAST(count(strlen(text)) OVER w AS BIGINT) AS enc_cnt,
         |  CAST(sum(strlen(text)) OVER w AS BIGINT) AS enc_sum
         |FROM turns
         |WINDOW w AS (PARTITION BY role
         |  ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
         |  RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin,

    // the fmix64 gate replayed bit-exactly, reduced mod 5 folds
    "q_fold_assign" ->
      s"""$T,
         |ids AS (SELECT conv_id, turn_idx,
         |  CAST(substr(conv_id, 2) AS UBIGINT) AS cid FROM turns),
         |m AS (SELECT conv_id, turn_idx, ${fmixLateralSql("cid")} FROM ids)
         |SELECT conv_id, turn_idx,
         |  CAST(((u >> 20) % 10000) % 5 AS BIGINT) AS fold FROM m""".stripMargin,

    // trailing-hour distinct tools, replayed as the quadratic self-join the
    // engine-side interval sweep avoids
    "q_rolling_distinct" ->
      s"""$T
         |SELECT a.conv_id, a.turn_idx,
         |  CAST(count(DISTINCT r.tool) AS BIGINT) AS n_tools_1h
         |FROM turns a LEFT JOIN turns r
         |  ON r.conv_id = a.conv_id AND r.tool IS NOT NULL
         |  AND CAST(FLOOR(epoch(r.ts)) AS BIGINT)
         |      > CAST(FLOOR(epoch(a.ts)) AS BIGINT) - 3600
         |  AND CAST(FLOOR(epoch(r.ts)) AS BIGINT)
         |      <= CAST(FLOOR(epoch(a.ts)) AS BIGINT)
         |GROUP BY a.conv_id, a.turn_idx""".stripMargin,

    // min-rank == 1 + count of strictly smaller; integer floor-div bucket
    "q_quantile_bucket" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_group,
        |  CAST((4 * (rank() OVER w - 1))
        |    // (count(*) OVER (PARTITION BY lang)) AS BIGINT) AS bucket
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars)""".stripMargin,

    "q_rolling_1h" ->
      """SELECT user_id, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(CAST(ROUND(value*100) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_rules_profile" ->
      """SELECT doc_id,
        |  ((CASE WHEN length(text) < 50 OR length(text) > 500 THEN 1 ELSE 0 END)
        |  +(CASE WHEN strpos(text, 'data') = 0 THEN 1 ELSE 0 END)
        |  +(CASE WHEN NOT starts_with(text, 'the') THEN 1 ELSE 0 END)
        |  +(CASE WHEN strlen(text) <> length(text) THEN 1 ELSE 0 END)) AS n_errors,
        |  concat_ws(',',
        |    CASE WHEN length(text) < 50 THEN 'too_short'
        |         WHEN length(text) > 500 THEN 'too_long' END,
        |    CASE WHEN strpos(text, 'data') = 0 THEN 'should_contain' END,
        |    CASE WHEN NOT starts_with(text, 'the') THEN 'should_start_with' END,
        |    CASE WHEN strlen(text) <> length(text) THEN 'ascii' END) AS codes
        |FROM documents""".stripMargin,

    "q_validators" ->
      """SELECT doc_id,
        |  doc_id % 300 <= 255 AS ip_ok,
        |  doc_id % 3 <> 0 AS uuid_ok,
        |  doc_id % 4 <> 0 AS email_ok,
        |  doc_id % 5 <> 0 AS url_ok,
        |  doc_id % 7 <> 0 AS semver_ok
        |FROM documents""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS hash, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_q,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS n_upper,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct
        |FROM documents""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS re_tokens
        |FROM documents""".stripMargin,

    // repetition signals: same shingle recipe at k=2 and k=3, counts
    // aggregated per (doc, gram), fractions floored in basis points
    "q_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |g2 AS (SELECT doc_id,
        |  unnest([ws[i] || ' ' || ws[i+1]
        |          for i in range(1, greatest(len(ws)-1, 0)+1)]) AS g
        |  FROM w WHERE len(ws) >= 2),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
        |t2 AS (SELECT doc_id, sum(c) AS tot, max(c) AS mx FROM c2 GROUP BY doc_id),
        |g3 AS (SELECT doc_id,
        |  unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |          for i in range(1, greatest(len(ws)-2, 0)+1)]) AS g
        |  FROM w WHERE len(ws) >= 3),
        |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
        |t3 AS (SELECT doc_id, sum(c) AS tot,
        |  sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup FROM c3 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(t2.tot, 0) AS BIGINT) AS top2_total,
        |  CAST(COALESCE(t2.mx, 0) AS BIGINT) AS top2_max,
        |  CAST(CASE WHEN COALESCE(t2.tot, 0) > 0
        |    THEN FLOOR(t2.mx * 10000.0 / t2.tot) ELSE 0 END AS BIGINT) AS top2_frac_bp,
        |  CAST(COALESCE(t3.tot, 0) AS BIGINT) AS dup3_total,
        |  CAST(COALESCE(t3.dup, 0) AS BIGINT) AS dup3_dup,
        |  CAST(CASE WHEN COALESCE(t3.tot, 0) > 0
        |    THEN FLOOR(t3.dup * 10000.0 / t3.tot) ELSE 0 END AS BIGINT) AS dup3_frac_bp
        |FROM documents d
        |LEFT JOIN t2 ON t2.doc_id = d.doc_id
        |LEFT JOIN t3 ON t3.doc_id = d.doc_id""".stripMargin,

    // the sink roundtrip must reproduce the packing assignment exactly
    "q_write_shards" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) / 2000.0) AS BIGINT) AS shard_seq
        |FROM t""".stripMargin,

    // the pack replay + the JSONL line rebuilt with to_json (DuckDB's
    // escape set is exactly serde_json's: \" \\ \b \t \n \f \r + \uXXXX
    // below 0x20)
    "q_write_jsonl" ->
      """WITH t AS (SELECT doc_id, lang, text,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |FROM documents),
        |p AS (SELECT doc_id, lang, text,
        |  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) / 2000.0) AS BIGINT) AS shard_seq
        |FROM t)
        |SELECT lang, shard_seq,
        |  '{"id":' || CAST(doc_id AS VARCHAR) || ',"text":' ||
        |    CAST(to_json(text) AS VARCHAR) || '}' AS line
        |FROM p""".stripMargin,

    // the pack replay collapsed to the shard manifest, then the stride
    // key (j+1)*10^8 // w and its global ascending rank
    "q_interleave" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |FROM documents),
        |p AS (SELECT lang,
        |  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) / 2000.0) AS BIGINT) AS shard_seq
        |FROM t),
        |m AS (SELECT DISTINCT lang, shard_seq FROM p),
        |k AS (SELECT lang, shard_seq,
        |    (shard_seq + 1) * 100000000 // CAST(
        |      CASE lang WHEN 'en' THEN 4000 WHEN 'de' THEN 2000 ELSE 500 END
        |      AS BIGINT) AS sched_key
        |  FROM m)
        |SELECT lang, shard_seq, CAST(sched_key AS BIGINT) AS sched_key,
        |  CAST(row_number() OVER (ORDER BY sched_key, lang, shard_seq)
        |    AS BIGINT) AS global_pos
        |FROM k""".stripMargin,

    // exact discrete quantiles: identical row_number + integer-ceil rank
    // selection (rn·10⁴ ≥ q·n ∧ (rn−1)·10⁴ < q·n)
    "q_corpus_stats" ->
      """WITH r AS (SELECT lang, n_chars AS v,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n
        |FROM documents)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rn*10000 >= 5000*n AND (rn-1)*10000 < 5000*n THEN v END) AS q5000,
        |  max(CASE WHEN rn*10000 >= 9000*n AND (rn-1)*10000 < 9000*n THEN v END) AS q9000,
        |  max(CASE WHEN rn*10000 >= 9900*n AND (rn-1)*10000 < 9900*n THEN v END) AS q9900
        |FROM r GROUP BY lang""".stripMargin,

    // weighted rank selection replayed with a single cumulative-weight
    // window; HUGEINT mirrors the engine's decimal(38,0) cums
    "q_wquantile" ->
      """WITH d AS (SELECT lang, n_chars AS v, CAST(length(text) AS HUGEINT) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT lang, v, sum(w) AS wv FROM d GROUP BY 1, 2),
        |c AS (SELECT lang, v, wv,
        |    sum(wv) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(wv) OVER (PARTITION BY lang) AS tot
        |  FROM h)
        |SELECT lang, max(tot) AS w_total,
        |  max(CASE WHEN cum*10000 >= 5000*tot AND (cum-wv)*10000 < 5000*tot THEN v END) AS q5000,
        |  max(CASE WHEN cum*10000 >= 9000*tot AND (cum-wv)*10000 < 9000*tot THEN v END) AS q9000,
        |  max(CASE WHEN cum*10000 >= 9900*tot AND (cum-wv)*10000 < 9900*tot THEN v END) AS q9900
        |FROM c GROUP BY 1""".stripMargin,

    // fmix64 sampling gate replayed bit-exactly, then the per-stratum
    // rate CASE — same mod-2^64 multiply recipe as the LSH oracles
    "q_sample_mix" ->
      """WITH x0 AS (SELECT doc_id, lang,
        |    xor(CAST(doc_id AS UBIGINT), CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM documents),
        |x1 AS (SELECT doc_id, lang, xor(x, x >> 33) AS x FROM x0),
        |x2 AS (SELECT doc_id, lang, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x1),
        |x3 AS (SELECT doc_id, lang, xor(x, x >> 33) AS x FROM x2),
        |x4 AS (SELECT doc_id, lang, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x3),
        |g AS (SELECT doc_id, lang,
        |    CAST((xor(x, x >> 33) >> 20) % 10000 AS BIGINT) AS gate_bp
        |  FROM x4)
        |SELECT doc_id, lang, gate_bp FROM g
        |WHERE gate_bp < CASE lang
        |  WHEN 'en' THEN 8000 WHEN 'zh' THEN 5000
        |  WHEN 'es' THEN 2500 WHEN 'de' THEN 1000 ELSE 500 END""".stripMargin,

    // packing is a pure window replay: exclusive running token sum per
    // lang in doc_id order, divided by the shard budget
    "q_pack_shards" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) / 2000.0) AS BIGINT) AS shard_seq
        |FROM t""".stripMargin,

    // concat-and-chop replay: the same running sum, each document's
    // shard range expanded inclusively, piece spans by clamp
    "q_pack_split" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) AS g
        |  FROM t),
        |p AS (SELECT doc_id, lang, n_tokens, g,
        |  unnest(generate_series(g // 2000,
        |    CASE WHEN n_tokens = 0 THEN g // 2000
        |         ELSE (g + n_tokens - 1) // 2000 END)) AS shard_seq
        |  FROM c)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(shard_seq AS BIGINT) AS shard_seq,
        |  CAST(shard_seq - g // 2000 AS BIGINT) AS piece_seq,
        |  CAST(GREATEST(g, shard_seq * 2000) - shard_seq * 2000 AS BIGINT)
        |    AS tok_start,
        |  CAST(LEAST(g + n_tokens, (shard_seq + 1) * 2000) - shard_seq * 2000
        |    AS BIGINT) AS tok_end,
        |  CAST(GREATEST(g, shard_seq * 2000) - g AS BIGINT) AS doc_tok_start,
        |  CAST(LEAST(g + n_tokens, (shard_seq + 1) * 2000) - g AS BIGINT)
        |    AS doc_tok_end
        |FROM p""".stripMargin,

    // full train->predict replay: decorated lowercased text -> char
    // trigrams ("c c c" space-joined, spaces are chars too) -> rolling
    // hash mod 256 -> dense smoothed (label x bucket) bitlen weights ->
    // per-(doc, label) exact score -> argmax with lexicographic ties
    "q_nb_classify" ->
      """WITH d AS (SELECT doc_id, lang, lower(text || repeat(CASE
        |    WHEN lang = 'de' THEN ' zwischen durch nicht schon'
        |    WHEN lang = 'es' THEN ' corazon manana senor nino'
        |    WHEN lang = 'fr' THEN ' toujours beaucoup chateau'
        |    WHEN lang = 'zh' THEN ' zhongwen pinyin hanzi shu'
        |    ELSE ' the quick brown fox jumps' END, 6)) AS t
        |  FROM documents),
        |g AS (SELECT doc_id, lang, unnest(
        |    [cs[i] || ' ' || cs[i+1] || ' ' || cs[i+2]
        |     for i in range(1, len(cs) - 1)]) AS tri
        |  FROM (SELECT doc_id, lang, string_split(t, '') AS cs FROM d)),
        |h AS (SELECT doc_id, lang, list_reduce(
        |    list_prepend(0::BIGINT,
        |      [unicode(c)::BIGINT for c in string_split(tri, '')]),
        |    (h, c) -> (h * 31 + c) % 1000000007) % 256 AS bucket
        |  FROM g),
        |cnt AS (SELECT lang AS label, bucket, count(*) AS n
        |  FROM h GROUP BY 1, 2),
        |grid AS (SELECT l.label, r.range AS bucket
        |  FROM (SELECT DISTINCT label FROM cnt) l CROSS JOIN range(0, 256) r),
        |dense AS (SELECT grid.label, grid.bucket,
        |    COALESCE(cnt.n, 0) + 1 AS cnt
        |  FROM grid LEFT JOIN cnt
        |    ON cnt.label = grid.label AND cnt.bucket = grid.bucket),
        |model AS (SELECT dense.label, dense.bucket,
        |    CAST(length(bin(dense.cnt)) AS BIGINT) AS w,
        |    CAST(length(bin(t.tot)) AS BIGINT) AS base
        |  FROM dense JOIN (SELECT label, sum(cnt) AS tot FROM dense
        |                   GROUP BY 1) t ON t.label = dense.label),
        |scored AS (SELECT h.doc_id, m.label,
        |    sum(m.w) - count(*) * max(m.base) AS score
        |  FROM h JOIN model m ON m.bucket = h.bucket
        |  GROUP BY 1, 2),
        |best AS (SELECT doc_id, label AS predicted,
        |    CAST(score AS BIGINT) AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, label) AS rn
        |  FROM scored)
        |SELECT d.doc_id, d.lang, b.predicted, b.score,
        |  b.predicted = d.lang AS ok
        |FROM d JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1""".stripMargin,

    // the q_nb_classify replay with folds: fmix64 gate mod 4, cells per
    // (label, fold, bucket), leave-fold-out counts = all − fold in one
    // dense grid, each doc scored against its OWN fold's model
    "q_nb_crossval" ->
      """WITH x0 AS (SELECT doc_id,
        |    xor(CAST(doc_id AS UBIGINT), CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM documents),
        |x1 AS (SELECT doc_id, xor(x, x >> 33) AS x FROM x0),
        |x2 AS (SELECT doc_id, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x1),
        |x3 AS (SELECT doc_id, xor(x, x >> 33) AS x FROM x2),
        |x4 AS (SELECT doc_id, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x3),
        |fl AS (SELECT doc_id,
        |    CAST(((xor(x, x >> 33) >> 20) % 10000) % 4 AS BIGINT) AS fold
        |  FROM x4),
        |d AS (SELECT doc_id, lang, lower(text || repeat(CASE
        |    WHEN lang = 'de' THEN ' zwischen durch nicht schon'
        |    WHEN lang = 'es' THEN ' corazon manana senor nino'
        |    WHEN lang = 'fr' THEN ' toujours beaucoup chateau'
        |    WHEN lang = 'zh' THEN ' zhongwen pinyin hanzi shu'
        |    ELSE ' the quick brown fox jumps' END, 6)) AS t
        |  FROM documents),
        |g AS (SELECT doc_id, lang, unnest(
        |    [cs[i] || ' ' || cs[i+1] || ' ' || cs[i+2]
        |     for i in range(1, len(cs) - 1)]) AS tri
        |  FROM (SELECT doc_id, lang, string_split(t, '') AS cs FROM d)),
        |h AS (SELECT g.doc_id, g.lang, fl.fold, list_reduce(
        |    list_prepend(0::BIGINT,
        |      [unicode(c)::BIGINT for c in string_split(tri, '')]),
        |    (h, c) -> (h * 31 + c) % 1000000007) % 256 AS bucket
        |  FROM g JOIN fl ON fl.doc_id = g.doc_id),
        |cells AS (SELECT lang AS label, fold, bucket, count(*) AS n
        |  FROM h GROUP BY 1, 2, 3),
        |tot AS (SELECT label, bucket, sum(n) AS alln
        |  FROM cells GROUP BY 1, 2),
        |grid AS (SELECT l.label, f.range AS fold, b.range AS bucket
        |  FROM (SELECT DISTINCT label FROM cells) l
        |  CROSS JOIN range(0, 4) f CROSS JOIN range(0, 256) b),
        |dense AS (SELECT grid.label, grid.fold, grid.bucket,
        |    COALESCE(tot.alln, 0) - COALESCE(cells.n, 0) + 1 AS cnt
        |  FROM grid
        |  LEFT JOIN tot ON tot.label = grid.label AND tot.bucket = grid.bucket
        |  LEFT JOIN cells ON cells.label = grid.label
        |    AND cells.fold = grid.fold AND cells.bucket = grid.bucket),
        |model AS (SELECT dense.label, dense.fold, dense.bucket,
        |    CAST(length(bin(dense.cnt)) AS BIGINT) AS w,
        |    CAST(length(bin(t.tot)) AS BIGINT) AS base
        |  FROM dense JOIN (SELECT label, fold, sum(cnt) AS tot FROM dense
        |                   GROUP BY 1, 2) t
        |    ON t.label = dense.label AND t.fold = dense.fold),
        |scored AS (SELECT h.doc_id, m.label,
        |    sum(m.w) - count(*) * max(m.base) AS score
        |  FROM h JOIN model m ON m.bucket = h.bucket AND m.fold = h.fold
        |  GROUP BY 1, 2),
        |best AS (SELECT doc_id, label AS predicted,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, label) AS rn
        |  FROM scored)
        |SELECT d.doc_id, fl.fold, d.lang AS label, b.predicted,
        |  b.predicted = d.lang AS ok
        |FROM d JOIN fl ON fl.doc_id = d.doc_id
        |JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1""".stripMargin,

    "q_lang_id" ->
      """WITH sc AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\bthe\b')) + len(regexp_extract_all(text, '\ba\b')) AS BIGINT) AS s_en,
        |  CAST(len(regexp_extract_all(text, '\bdata\b')) + len(regexp_extract_all(text, '\btable\b')) + len(regexp_extract_all(text, '\brow\b')) AS BIGINT) AS s_db,
        |  CAST(len(regexp_extract_all(text, '\bquery\b')) + len(regexp_extract_all(text, '\bjoin\b')) + len(regexp_extract_all(text, '\bscan\b')) AS BIGINT) AS s_qy
        |FROM documents)
        |SELECT doc_id, s_en, s_db, s_qy,
        |  CASE WHEN s_en = greatest(s_en, s_db, s_qy) AND s_en > 0 THEN 'en'
        |       WHEN s_db = greatest(s_en, s_db, s_qy) AND s_db > 0 THEN 'db'
        |       WHEN s_qy = greatest(s_en, s_db, s_qy) AND s_qy > 0 THEN 'qy'
        |       ELSE 'und' END AS lang_pred
        |FROM sc""".stripMargin,

    // per-script char counts: length minus length-after-removal over the
    // identical \x{...} range classes (Java regex and RE2 read them the
    // same; 'g' = replace-all, Spark's regexp_replace default)
    "q_script_mix" ->
      """WITH d AS (SELECT doc_id, text ||
        |    CASE WHEN lang = 'zh' THEN ' 中文测试样本'
        |         WHEN doc_id % 9 = 0 THEN ' русский об'
        |         ELSE ' plain 42' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_total,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS n_latin,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS n_han,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
        |FROM d""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[ \t\n]+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "q_rolling_fp" ->
      """SELECT doc_id, CASE
        |  WHEN text IS NULL THEN NULL
        |  WHEN text = '' THEN 0
        |  ELSE list_reduce(
        |    list_prepend(0::BIGINT, [unicode(c)::BIGINT for c in string_split(text, '')]),
        |    (h, c) -> (h * 31 + c) % 1000000007)
        |END AS rfp
        |FROM documents""".stripMargin,

    // positional 3-shingle hashes (the q_rolling_fp recurrence per
    // shingle), frame-min per full width-4 window, rightmost minimal
    // occurrence via the range join-back, consecutive picks collapsed
    "q_winnow_fp" ->
      """WITH cw AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |  FROM documents),
        |hs AS (SELECT doc_id, i - 1 AS pos,
        |    list_reduce(list_prepend(0::BIGINT,
        |      [unicode(c)::BIGINT for c in string_split(
        |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2], '')]),
        |      (h, c) -> (h * 31 + c) % 1000000007) AS h
        |  FROM cw, LATERAL (SELECT unnest(range(1, greatest(len(ws)-2, 0)+1)) AS i) g
        |  WHERE len(ws) >= 3),
        |m AS (SELECT doc_id, pos AS p,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mh
        |  FROM hs QUALIFY pos >= 3),
        |sel AS (SELECT m.doc_id, m.mh AS fp_hash,
        |    CAST(max(h2.pos) AS BIGINT) AS fp_pos
        |  FROM m JOIN hs h2 ON h2.doc_id = m.doc_id
        |    AND h2.pos BETWEEN m.p - 3 AND m.p AND h2.h = m.mh
        |  GROUP BY m.doc_id, m.p, m.mh)
        |SELECT DISTINCT doc_id, fp_hash, fp_pos FROM sel""".stripMargin,

    "q_corpus_clean" ->
      """WITH sc AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars_q,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '\bthe\b')) + len(regexp_extract_all(text, '\ba\b')) AS BIGINT) AS s_en,
        |  CAST(len(regexp_extract_all(text, '\bdata\b')) + len(regexp_extract_all(text, '\btable\b')) + len(regexp_extract_all(text, '\brow\b')) AS BIGINT) AS s_db,
        |  CAST(len(regexp_extract_all(text, '\bquery\b')) + len(regexp_extract_all(text, '\bjoin\b')) + len(regexp_extract_all(text, '\bscan\b')) AS BIGINT) AS s_qy,
        |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rnk
        |FROM documents),
        |lp AS (SELECT *,
        |  CASE WHEN s_en = greatest(s_en, s_db, s_qy) AND s_en > 0 THEN 'en'
        |       WHEN s_db = greatest(s_en, s_db, s_qy) AND s_db > 0 THEN 'db'
        |       WHEN s_qy = greatest(s_en, s_db, s_qy) AND s_qy > 0 THEN 'qy'
        |       ELSE 'und' END AS lang_pred
        |FROM sc)
        |SELECT doc_id, n_chars_q, n_words, lang_pred FROM lp
        |WHERE rnk = 1 AND n_chars_q BETWEEN 50 AND 10000 AND n_words >= 8
        |  AND lang_pred IN ('en','db','qy')""".stripMargin,

    "q_minhash_pairs" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, greatest(len(ws)-2, 0)+1)] AS sh
        |  FROM w WHERE len(ws) >= 3),
        |sig AS (SELECT doc_id,
        |  list_min([substr(md5('0|' || s), 1, 8) for s in sh]) AS s0,
        |  list_min([substr(md5('0|' || s), 9, 8) for s in sh]) AS s1,
        |  list_min([substr(md5('0|' || s), 17, 8) for s in sh]) AS s2,
        |  list_min([substr(md5('0|' || s), 25, 8) for s in sh]) AS s3,
        |  list_min([substr(md5('1|' || s), 1, 8) for s in sh]) AS s4,
        |  list_min([substr(md5('1|' || s), 9, 8) for s in sh]) AS s5,
        |  list_min([substr(md5('1|' || s), 17, 8) for s in sh]) AS s6,
        |  list_min([substr(md5('1|' || s), 25, 8) for s in sh]) AS s7
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, 0 AS band_idx, md5(s0 || ',' || s1) AS band_key FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s2 || ',' || s3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(s4 || ',' || s5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(s6 || ',' || s7) FROM sig)
        |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |FROM bands l JOIN bands r
        |  ON l.band_idx = r.band_idx AND l.band_key = r.band_key
        |  AND l.doc_id < r.doc_id""".stripMargin,

    // end-to-end pipeline: the four stage oracles stitched in sequence
    // (clean gates → decontam anti-join → fmix64 sample → pack window)
    "q_corpus_pipeline" ->
      """WITH sc AS (SELECT doc_id, lang, text,
        |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rnk,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        |  CAST(len(regexp_extract_all(text, '\bthe\b')) + len(regexp_extract_all(text, '\ba\b')) AS BIGINT) AS s_en,
        |  CAST(len(regexp_extract_all(text, '\bdata\b')) + len(regexp_extract_all(text, '\btable\b')) + len(regexp_extract_all(text, '\brow\b')) AS BIGINT) AS s_db,
        |  CAST(len(regexp_extract_all(text, '\bquery\b')) + len(regexp_extract_all(text, '\bjoin\b')) + len(regexp_extract_all(text, '\bscan\b')) AS BIGINT) AS s_qy
        |FROM documents),
        |lp AS (SELECT *,
        |  CASE WHEN s_en = greatest(s_en, s_db, s_qy) AND s_en > 0 THEN 'en'
        |       WHEN s_db = greatest(s_en, s_db, s_qy) AND s_db > 0 THEN 'db'
        |       WHEN s_qy = greatest(s_en, s_db, s_qy) AND s_qy > 0 THEN 'qy'
        |       ELSE 'und' END AS lang_pred
        |FROM sc),
        |clean AS (SELECT doc_id, lang, text FROM lp
        |  WHERE rnk = 1 AND nc BETWEEN 50 AND 10000 AND nw >= 8
        |    AND lang_pred IN ('en','db','qy')),
        |probes AS (SELECT doc_id AS probe_id, substr(text, 1, 150) AS text
        |  FROM documents WHERE doc_id % 97 = 0),
        |cw AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |csh AS (SELECT DISTINCT doc_id, s AS shingle FROM (
        |  SELECT doc_id,
        |    unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |            for i in range(1, greatest(len(ws)-2, 0)+1)]) AS s
        |  FROM cw WHERE len(ws) >= 3)),
        |okk AS (SELECT shingle FROM (
        |  SELECT shingle, count(*) AS df FROM csh GROUP BY shingle)
        |  WHERE df <= 100),
        |pw AS (SELECT probe_id, string_split(lower(text), ' ') AS ws FROM probes),
        |psh AS (SELECT DISTINCT probe_id, s AS shingle FROM (
        |  SELECT probe_id,
        |    unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |            for i in range(1, greatest(len(ws)-2, 0)+1)]) AS s
        |  FROM pw WHERE len(ws) >= 3)),
        |pn AS (SELECT probe_id, count(*) AS n_probe FROM psh GROUP BY probe_id),
        |jj AS (SELECT c.doc_id, p.probe_id, count(*) AS n_shared
        |  FROM csh c JOIN okk USING (shingle) JOIN psh p USING (shingle)
        |  GROUP BY c.doc_id, p.probe_id),
        |flagged AS (SELECT DISTINCT jj.doc_id
        |  FROM jj JOIN pn USING (probe_id)
        |  WHERE FLOOR(jj.n_shared * 10000.0 / pn.n_probe) >= 5000),
        |decon AS (SELECT * FROM clean
        |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
        |x0 AS (SELECT doc_id, lang, text,
        |    xor(CAST(doc_id AS UBIGINT), CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM decon),
        |x1 AS (SELECT doc_id, lang, text, xor(x, x >> 33) AS x FROM x0),
        |x2 AS (SELECT doc_id, lang, text, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x1),
        |x3 AS (SELECT doc_id, lang, text, xor(x, x >> 33) AS x FROM x2),
        |x4 AS (SELECT doc_id, lang, text, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x3),
        |samp AS (SELECT doc_id, lang, text FROM (
        |  SELECT doc_id, lang, text,
        |    CAST((xor(x, x >> 33) >> 20) % 10000 AS BIGINT) AS gate_bp FROM x4)
        |  WHERE gate_bp < CASE lang
        |    WHEN 'en' THEN 8000 WHEN 'zh' THEN 5000
        |    WHEN 'es' THEN 2500 WHEN 'de' THEN 1000 ELSE 500 END),
        |tt AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |FROM samp)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) / 2000.0) AS BIGINT) AS shard_seq
        |FROM tt""".stripMargin,

    // decontamination: same shingle recipe as q_minhash_pairs, distinct
    // per side, df-capped shingles, overlap counted against the probe
    "q_decontam" ->
      """WITH probes AS (SELECT doc_id AS probe_id, substr(text, 1, 150) AS text
        |  FROM documents WHERE doc_id % 97 = 0),
        |cw AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |csh AS (SELECT DISTINCT doc_id, s AS shingle FROM (
        |  SELECT doc_id,
        |    unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |            for i in range(1, greatest(len(ws)-2, 0)+1)]) AS s
        |  FROM cw WHERE len(ws) >= 3)),
        |ok AS (SELECT shingle FROM (
        |  SELECT shingle, count(*) AS df FROM csh GROUP BY shingle)
        |  WHERE df <= 100),
        |pw AS (SELECT probe_id, string_split(lower(text), ' ') AS ws FROM probes),
        |psh AS (SELECT DISTINCT probe_id, s AS shingle FROM (
        |  SELECT probe_id,
        |    unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |            for i in range(1, greatest(len(ws)-2, 0)+1)]) AS s
        |  FROM pw WHERE len(ws) >= 3)),
        |pn AS (SELECT probe_id, count(*) AS n_probe FROM psh GROUP BY probe_id),
        |j AS (SELECT c.doc_id, p.probe_id, count(*) AS n_shared
        |  FROM csh c JOIN ok USING (shingle) JOIN psh p USING (shingle)
        |  GROUP BY c.doc_id, p.probe_id)
        |SELECT j.doc_id, j.probe_id,
        |  CAST(j.n_shared AS BIGINT) AS n_shared,
        |  CAST(pn.n_probe AS BIGINT) AS n_probe,
        |  CAST(FLOOR(j.n_shared * 10000.0 / pn.n_probe) AS BIGINT) AS contam_bp
        |FROM j JOIN pn USING (probe_id)
        |WHERE FLOOR(j.n_shared * 10000.0 / pn.n_probe) >= 5000""".stripMargin,

    // distinct probe shingles vs the distinct corpus shingle set; novel
    // probes survive the left join with 0
    "q_memorization" ->
      """WITH partial AS (SELECT doc_id AS probe_id,
        |    substr(text, 1, 100) || ' zq1 zq2 zq3 zq4 zq5' AS text
        |  FROM documents WHERE doc_id % 89 = 0),
        |novel AS (SELECT -doc_id - 1 AS probe_id,
        |    'zzqa' || doc_id || ' zzqb' || doc_id ||
        |    ' zzqc' || doc_id || ' zzqd' || doc_id AS text
        |  FROM documents WHERE doc_id % 178 = 0),
        |probes AS (SELECT * FROM partial UNION ALL SELECT * FROM novel),
        |pw AS (SELECT probe_id, string_split(lower(text), ' ') AS ws
        |  FROM probes),
        |psh AS (SELECT DISTINCT probe_id,
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        |  FROM pw, LATERAL (SELECT unnest(range(1, greatest(len(ws)-2, 0)+1)) AS i) g
        |  WHERE len(ws) >= 3),
        |cw AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
        |csh AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        |  FROM cw, LATERAL (SELECT unnest(range(1, greatest(len(ws)-2, 0)+1)) AS i) g
        |  WHERE len(ws) >= 3),
        |fnd AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_found
        |  FROM psh JOIN csh USING (shingle) GROUP BY 1),
        |tot AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_probe
        |  FROM psh GROUP BY 1)
        |SELECT t.probe_id, t.n_probe,
        |  COALESCE(f.n_found, 0) AS n_found,
        |  CAST(FLOOR(COALESCE(f.n_found, 0) * 10000.0 / t.n_probe) AS BIGINT)
        |    AS memorized_bp
        |FROM tot t LEFT JOIN fnd f USING (probe_id)""".stripMargin,

    // positional twin of q_decontam: positional corpus shingles joined
    // to the DISTINCT union of probe shingles, hot shingles (df > 100 on
    // the pruned stream) excluded, runs merged per doc by the islands
    // trick (pos - row_number), single-shingle runs screened
    "q_decontam_spans" ->
      """WITH probes AS (SELECT doc_id AS probe_id, substr(text, 1, 150) AS text
        |  FROM documents WHERE doc_id % 97 = 0),
        |cw AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |cpos AS (SELECT doc_id, i - 1 AS pos,
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        |  FROM cw, LATERAL (SELECT unnest(range(1, greatest(len(ws)-2, 0)+1)) AS i) g
        |  WHERE len(ws) >= 3),
        |pw AS (SELECT probe_id, string_split(lower(text), ' ') AS ws FROM probes),
        |psh AS (SELECT DISTINCT s AS shingle FROM (
        |  SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |          for i in range(1, greatest(len(ws)-2, 0)+1)]) AS s
        |  FROM pw WHERE len(ws) >= 3)),
        |m0 AS (SELECT doc_id, pos, shingle FROM cpos JOIN psh USING (shingle)),
        |hot AS (SELECT shingle FROM (
        |  SELECT shingle, count(DISTINCT doc_id) AS df FROM m0 GROUP BY shingle)
        |  WHERE df > 100),
        |m AS (SELECT doc_id, pos FROM m0 ANTI JOIN hot USING (shingle)),
        |f AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM m)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS run_start,
        |  CAST(count(*) AS BIGINT) AS run_shingles,
        |  CAST(count(*) + 2 AS BIGINT) AS run_words
        |FROM f GROUP BY doc_id, grp HAVING count(*) >= 2""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws
        |           FROM documents)
        |SELECT l.doc_id AS a, r.doc_id AS b,
        |  CAST(len(list_intersect(l.ws, r.ws)) AS BIGINT) AS inter,
        |  CAST(len(l.ws) + len(r.ws) - len(list_intersect(l.ws, r.ws)) AS BIGINT) AS uni
        |FROM w l JOIN w r ON r.doc_id = l.doc_id + 1
        |WHERE l.doc_id % 10 = 0""".stripMargin,

    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, e.vec_id,
        |  CAST(list_sum([CAST(ROUND(CAST(e.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(q.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(e.embedding)+1)]) AS BIGINT) AS dot
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, vec_id, dot, rank FROM (
        |  SELECT query_id, vec_id, dot,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS INT) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin,

    // the q_ann_topk scoring plus both quantized norms; near-positive
    // exclusion replays the q_cosine_dup HUGEINT predicate at bp=9500
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, e.vec_id,
        |  CAST(list_sum([CAST(ROUND(CAST(e.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(q.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(e.embedding)+1)]) AS BIGINT) AS dot,
        |  CAST(list_sum([CAST(ROUND(CAST(q.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(q.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(q.qe)+1)]) AS BIGINT) AS sq_a,
        |  CAST(list_sum([CAST(ROUND(CAST(e.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(e.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(e.embedding)+1)]) AS BIGINT) AS sq_b
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |kept AS (SELECT * FROM scored WHERE NOT (dot > 0 AND sq_a > 0 AND sq_b > 0
        |  AND dot::HUGEINT * dot::HUGEINT * CAST(100000000 AS HUGEINT)
        |      >= CAST(90250000 AS HUGEINT) * sq_a::HUGEINT * sq_b::HUGEINT)),
        |ranked AS (SELECT query_id, vec_id, dot,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS INT) AS rnk
        |  FROM kept)
        |SELECT query_id, vec_id, dot, rnk - 2 AS neg_rank
        |FROM ranked WHERE rnk > 2 AND rnk <= 12""".stripMargin,

    // same scored CTE as q_hard_negatives; one band predicate
    // (3500 bp → 12250000 = bp²) splits positives from negatives,
    // rank 1 of each band joins into the triplet
    "q_triplets" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, e.vec_id,
        |  CAST(list_sum([CAST(ROUND(CAST(e.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(q.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(e.embedding)+1)]) AS BIGINT) AS dot,
        |  CAST(list_sum([CAST(ROUND(CAST(q.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(q.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(q.qe)+1)]) AS BIGINT) AS sq_a,
        |  CAST(list_sum([CAST(ROUND(CAST(e.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(e.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(e.embedding)+1)]) AS BIGINT) AS sq_b
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |banded AS (SELECT *, (dot > 0 AND sq_a > 0 AND sq_b > 0
        |  AND dot::HUGEINT * dot::HUGEINT * CAST(100000000 AS HUGEINT)
        |      >= CAST(12250000 AS HUGEINT) * sq_a::HUGEINT * sq_b::HUGEINT)
        |  AS is_pos FROM scored),
        |ranked AS (SELECT query_id, vec_id, dot, is_pos,
        |    row_number() OVER (PARTITION BY query_id, is_pos
        |      ORDER BY dot DESC, vec_id) AS rnk
        |  FROM banded),
        |pos AS (SELECT query_id, vec_id AS pos_id, dot AS pos_dot
        |  FROM ranked WHERE is_pos AND rnk = 1),
        |neg AS (SELECT query_id, vec_id AS neg_id, dot AS neg_dot
        |  FROM ranked WHERE NOT is_pos AND rnk = 3)
        |SELECT query_id, pos_id, pos_dot, neg_id, neg_dot
        |FROM pos JOIN neg USING (query_id)""".stripMargin,

    "q_ann_ivf" ->
      """WITH qv AS (SELECT vec_id,
        |  [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings),
        |cents AS (SELECT CAST(vec_id // 100 AS INT) AS list_id, qe AS ce
        |          FROM qv WHERE vec_id % 100 = 0),
        |dots AS (SELECT v.vec_id, c.list_id,
        |  CAST(list_sum([v.qe[i] * c.ce[i] for i in range(1, len(v.qe)+1)]) AS BIGINT) AS cdot
        |  FROM qv v, cents c),
        |ranked AS (SELECT vec_id, list_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, list_id ASC) AS rnk
        |  FROM dots),
        |assign AS (SELECT vec_id, list_id FROM ranked WHERE rnk = 1),
        |probes AS (SELECT vec_id AS query_id, list_id FROM ranked
        |           WHERE rnk <= 2 AND vec_id < 5)
        |SELECT p.query_id, a.vec_id,
        |  CAST(list_sum([cv.qe[i] * qq.qe[i] for i in range(1, len(cv.qe)+1)]) AS BIGINT) AS dot
        |FROM probes p
        |JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
        |JOIN qv cv ON cv.vec_id = a.vec_id
        |JOIN qv qq ON qq.vec_id = p.query_id""".stripMargin,

    "q_embed_dup" ->
      """WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
        |d AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |  CAST(list_sum([CAST(ROUND(CAST(a.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(b.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(a.embedding)+1)]) AS BIGINT) AS dot
        |  FROM s a, s b WHERE a.vec_id < b.vec_id)
        |SELECT a, b, dot FROM d WHERE dot >= 30000000""".stripMargin,

    "q_stream_sessionize" ->
      s"""$T,
         |s1 AS (SELECT conv_id, turn_idx, ts,
         |  lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |  FROM turns),
         |s2 AS (SELECT conv_id, ts,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL
         |      OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
         |  FROM s1)
         |SELECT conv_id, session_seq, CAST(count(*) AS BIGINT) AS n_turns,
         |  min(ts) AS session_start, max(ts) AS session_end
         |FROM s2 GROUP BY conv_id, session_seq""".stripMargin,

    // file-source replay must agree with the same batch SQL as the
    // MemoryStream replay — stream/batch parity is transport-independent
    "q_stream_sessionize_files" ->
      s"""$T,
         |s1 AS (SELECT conv_id, turn_idx, ts,
         |  lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |  FROM turns),
         |s2 AS (SELECT conv_id, ts,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL
         |      OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
         |  FROM s1)
         |SELECT conv_id, session_seq, CAST(count(*) AS BIGINT) AS n_turns,
         |  min(ts) AS session_start, max(ts) AS session_end
         |FROM s2 GROUP BY conv_id, session_seq""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'unknown'
        |       WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
        |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 0
        |       THEN CAST(16 + doc_id % 64 AS INT) END AS width,
        |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 0
        |       THEN CAST(8 + doc_id % 32 AS INT) END AS height,
        |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 1
        |       THEN CAST(1 + (doc_id // 2) % 2 AS INT) END AS channels,
        |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 1
        |       THEN CAST(8000 + (doc_id % 5) * 4000 AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 7 = 0 THEN CAST(NULL AS INT)
        |       WHEN doc_id % 2 = 0 THEN CAST(8 AS INT)
        |       ELSE CAST(16 AS INT) END AS bit_depth
        |FROM documents""".stripMargin,

    // SignLsh bucket math identical to q_ann_lsh but with 6 bits; the cap
    // (n <= 10000) and singleton filter mirror nearDupPairsLsh exactly.
    "q_embed_dup_lsh" ->
      """WITH w0 AS (
        |  SELECT tb.b AS b, td.d AS d,
        |    xor(xor(CAST(tb.b AS UBIGINT) << 32, CAST(td.d AS UBIGINT)),
        |        CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM range(6) tb(b), range(64) td(d)),
        |w1 AS (SELECT b, d, xor(x, x >> 33) AS x FROM w0),
        |w2 AS (SELECT b, d, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM w1),
        |w3 AS (SELECT b, d, xor(x, x >> 33) AS x FROM w2),
        |w4 AS (SELECT b, d, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM w3),
        |w AS (SELECT b, d, CAST(xor(x, x >> 33) >> 43 AS BIGINT) - 1048576 AS wt FROM w4),
        |qv AS (
        |  SELECT vec_id,
        |    [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings),
        |dots AS (
        |  SELECT vec_id, w.b AS b, SUM(qe[w.d + 1] * w.wt) AS s
        |  FROM qv, w GROUP BY vec_id, w.b),
        |bkt AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS bucket
        |  FROM dots GROUP BY vec_id),
        |ok AS (SELECT bucket FROM (
        |  SELECT bucket, count(*) AS n FROM bkt GROUP BY bucket)
        |  WHERE n > 1 AND n <= 10000),
        |cand AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b
        |  FROM bkt l JOIN bkt r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        |  JOIN ok ON ok.bucket = l.bucket),
        |scored AS (
        |  SELECT c.a, c.b,
        |    CAST(list_sum([ea.qe[i] * eb.qe[i]
        |         for i in range(1, len(ea.qe)+1)]) AS BIGINT) AS dot
        |  FROM cand c
        |  JOIN qv ea ON ea.vec_id = c.a
        |  JOIN qv eb ON eb.vec_id = c.b)
        |SELECT a, b, dot FROM scored WHERE dot >= 0""".stripMargin,

    // cosine near-dup: same LSH bucket replay over the scaled-copy union,
    // then the exact integer cosine predicate in HUGEINT
    "q_cosine_dup" ->
      """WITH w0 AS (
        |  SELECT tb.b AS b, td.d AS d,
        |    xor(xor(CAST(tb.b AS UBIGINT) << 32, CAST(td.d AS UBIGINT)),
        |        CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM range(6) tb(b), range(64) td(d)),
        |w1 AS (SELECT b, d, xor(x, x >> 33) AS x FROM w0),
        |w2 AS (SELECT b, d, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM w1),
        |w3 AS (SELECT b, d, xor(x, x >> 33) AS x FROM w2),
        |w4 AS (SELECT b, d, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM w3),
        |w AS (SELECT b, d, CAST(xor(x, x >> 33) >> 43 AS BIGINT) - 1048576 AS wt FROM w4),
        |qv AS (
        |  SELECT vec_id,
        |    [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id,
        |    [CAST(ROUND(CAST(x AS DOUBLE)*0.5*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings WHERE vec_id % 7 = 0),
        |dots AS (
        |  SELECT vec_id, w.b AS b, SUM(qe[w.d + 1] * w.wt) AS s
        |  FROM qv, w GROUP BY vec_id, w.b),
        |bkt AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS bucket
        |  FROM dots GROUP BY vec_id),
        |ok AS (SELECT bucket FROM (
        |  SELECT bucket, count(*) AS n FROM bkt GROUP BY bucket)
        |  WHERE n > 1 AND n <= 10000),
        |cand AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b
        |  FROM bkt l JOIN bkt r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        |  JOIN ok ON ok.bucket = l.bucket),
        |scored AS (
        |  SELECT c.a, c.b,
        |    CAST(list_sum([ea.qe[i] * eb.qe[i]
        |         for i in range(1, len(ea.qe)+1)]) AS BIGINT) AS dot,
        |    CAST(list_sum([ea.qe[i] * ea.qe[i]
        |         for i in range(1, len(ea.qe)+1)]) AS BIGINT) AS sq_a,
        |    CAST(list_sum([eb.qe[i] * eb.qe[i]
        |         for i in range(1, len(eb.qe)+1)]) AS BIGINT) AS sq_b
        |  FROM cand c
        |  JOIN qv ea ON ea.vec_id = c.a
        |  JOIN qv eb ON eb.vec_id = c.b)
        |SELECT a, b, dot, sq_a, sq_b FROM scored
        |WHERE dot > 0 AND sq_a > 0 AND sq_b > 0
        |  AND dot::HUGEINT * dot::HUGEINT * 100000000 >=
        |      CAST(99800100 AS HUGEINT) * sq_a::HUGEINT * sq_b::HUGEINT""".stripMargin,

    "q_embed_norm" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |  CAST(list_sum([CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding]) AS BIGINT) AS sq_sum
        |FROM embeddings""".stripMargin,

    // SimHash64 is pure integer math (FNV-1a 64 over codepoints, bit votes)
    // — replayed in SQL with UBIGINT xor/shift and a HUGEINT mod-2^64
    // multiply (the FNV prime is 2^40, so x*prime < 2^104 fits INT128).
    "q_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok <> ''
        |),
        |th AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |        [CAST(unicode(c) AS UBIGINT) for c in string_split(tok, '')]),
        |      (h, c) -> CAST((xor(h, c)::HUGEINT * 1099511628211::HUGEINT)
        |                     % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT)
        |    ) AS h
        |  FROM toks
        |),
        |votes AS (
        |  SELECT doc_id, t.b AS b,
        |    SUM(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS tally
        |  FROM th, range(64) t(b)
        |  GROUP BY doc_id, t.b
        |),
        |fp AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN tally > 0 THEN (CAST(1 AS UBIGINT) << b)::HUGEINT
        |             ELSE CAST(0 AS HUGEINT) END) AS ufp
        |  FROM votes GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN coalesce(f.ufp, 0) >= CAST('9223372036854775808' AS HUGEINT)
        |       THEN coalesce(f.ufp, 0) - CAST('18446744073709551616' AS HUGEINT)
        |       ELSE coalesce(f.ufp, 0) END AS BIGINT) AS sh
        |FROM documents d LEFT JOIN fp f USING (doc_id)""".stripMargin,

    // SignLsh buckets are integer splitmix weights (in [-2^20, 2^20)) dotted
    // with the quantized embedding; the two 64-bit multiplies are done as
    // (hi*C % 2^32)*2^32 + lo*C mod 2^64 to stay within INT128.
    "q_ann_lsh" ->
      """WITH w0 AS (
        |  SELECT tb.b AS b, td.d AS d,
        |    xor(xor(CAST(tb.b AS UBIGINT) << 32, CAST(td.d AS UBIGINT)),
        |        CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM range(8) tb(b), range(64) td(d)),
        |w1 AS (SELECT b, d, xor(x, x >> 33) AS x FROM w0),
        |w2 AS (SELECT b, d, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM w1),
        |w3 AS (SELECT b, d, xor(x, x >> 33) AS x FROM w2),
        |w4 AS (SELECT b, d, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM w3),
        |w AS (SELECT b, d, CAST(xor(x, x >> 33) >> 43 AS BIGINT) - 1048576 AS wt FROM w4),
        |qv AS (
        |  SELECT vec_id,
        |    [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings),
        |dots AS (
        |  SELECT vec_id, w.b AS b, SUM(qe[w.d + 1] * w.wt) AS s
        |  FROM qv, w GROUP BY vec_id, w.b),
        |bkt AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS bucket
        |  FROM dots GROUP BY vec_id)
        |SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |  CAST(list_sum([CAST(ROUND(CAST(ce.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(qe2.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(ce.embedding)+1)]) AS BIGINT) AS dot
        |FROM bkt c JOIN bkt q ON c.bucket = q.bucket AND q.vec_id < 5
        |  AND c.vec_id <> q.vec_id
        |JOIN embeddings ce ON ce.vec_id = c.vec_id
        |JOIN embeddings qe2 ON qe2.vec_id = q.vec_id""".stripMargin,

    // identical SignLsh bucket math to q_ann_lsh, then each query probes
    // its exact bucket PLUS all 8 Hamming-1 neighbors (bit i flipped) —
    // the same neighbor expansion as Similarity.annCandidates(probes = 8)
    "q_ann_lsh_mp" ->
      """WITH w0 AS (
        |  SELECT tb.b AS b, td.d AS d,
        |    xor(xor(CAST(tb.b AS UBIGINT) << 32, CAST(td.d AS UBIGINT)),
        |        CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM range(8) tb(b), range(64) td(d)),
        |w1 AS (SELECT b, d, xor(x, x >> 33) AS x FROM w0),
        |w2 AS (SELECT b, d, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM w1),
        |w3 AS (SELECT b, d, xor(x, x >> 33) AS x FROM w2),
        |w4 AS (SELECT b, d, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM w3),
        |w AS (SELECT b, d, CAST(xor(x, x >> 33) >> 43 AS BIGINT) - 1048576 AS wt FROM w4),
        |qv AS (
        |  SELECT vec_id,
        |    [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings),
        |dots AS (
        |  SELECT vec_id, w.b AS b, SUM(qe[w.d + 1] * w.wt) AS s
        |  FROM qv, w GROUP BY vec_id, w.b),
        |bkt AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS bucket
        |  FROM dots GROUP BY vec_id),
        |probes AS (
        |  SELECT vec_id AS query_id,
        |    unnest(list_prepend(bucket,
        |      [xor(bucket, CAST(1 AS BIGINT) << i) for i in range(8)])) AS pbucket
        |  FROM bkt WHERE vec_id < 5)
        |SELECT p.query_id, c.vec_id AS vec_id,
        |  CAST(list_sum([CAST(ROUND(CAST(ce.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(qe2.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(ce.embedding)+1)]) AS BIGINT) AS dot
        |FROM bkt c JOIN probes p ON c.bucket = p.pbucket
        |  AND c.vec_id <> p.query_id
        |JOIN embeddings ce ON ce.vec_id = c.vec_id
        |JOIN embeddings qe2 ON qe2.vec_id = p.query_id""".stripMargin,

    // recall@10 of the multi-probe LSH candidates vs exact truth: both
    // rankings, the Hamming-1 expansion, and the intersection replayed
    "q_ann_recall" ->
      """WITH w0 AS (
        |  SELECT tb.b AS b, td.d AS d,
        |    xor(xor(CAST(tb.b AS UBIGINT) << 32, CAST(td.d AS UBIGINT)),
        |        CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM range(8) tb(b), range(64) td(d)),
        |w1 AS (SELECT b, d, xor(x, x >> 33) AS x FROM w0),
        |w2 AS (SELECT b, d, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM w1),
        |w3 AS (SELECT b, d, xor(x, x >> 33) AS x FROM w2),
        |w4 AS (SELECT b, d, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM w3),
        |w AS (SELECT b, d, CAST(xor(x, x >> 33) >> 43 AS BIGINT) - 1048576 AS wt FROM w4),
        |qv AS (
        |  SELECT vec_id,
        |    [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings),
        |dots AS (
        |  SELECT vec_id, w.b AS b, SUM(qe[w.d + 1] * w.wt) AS s
        |  FROM qv, w GROUP BY vec_id, w.b),
        |bkt AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS bucket
        |  FROM dots GROUP BY vec_id),
        |probes AS (
        |  SELECT vec_id AS query_id,
        |    unnest(list_prepend(bucket,
        |      [xor(bucket, CAST(1 AS BIGINT) << i) for i in range(8)])) AS pbucket
        |  FROM bkt WHERE vec_id < 5),
        |cand AS (
        |  SELECT p.query_id, c.vec_id,
        |    CAST(list_sum([cv.qe[i] * qq.qe[i]
        |         for i in range(1, len(cv.qe)+1)]) AS BIGINT) AS dot
        |  FROM bkt c JOIN probes p ON c.bucket = p.pbucket
        |    AND c.vec_id <> p.query_id
        |  JOIN qv cv ON cv.vec_id = c.vec_id
        |  JOIN qv qq ON qq.vec_id = p.query_id),
        |candtop AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS r
        |  FROM cand) WHERE r <= 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id,
        |    CAST(list_sum([e.qe[i] * q.qe[i]
        |         for i in range(1, len(e.qe)+1)]) AS BIGINT) AS dot
        |  FROM qv e, qv q WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
        |truthtop AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS r
        |  FROM scored) WHERE r <= 10),
        |hits AS (
        |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS hits
        |  FROM truthtop t JOIN candtop c
        |    ON c.query_id = t.query_id AND c.vec_id = t.vec_id
        |  GROUP BY t.query_id)
        |SELECT q.query_id,
        |  COALESCE(h.hits, 0) AS hits,
        |  10 AS k,
        |  CAST(FLOOR(COALESCE(h.hits, 0) * 10000.0 / 10) AS BIGINT) AS recall_bp
        |FROM (SELECT DISTINCT query_id FROM truthtop) q
        |LEFT JOIN hits h ON h.query_id = q.query_id""".stripMargin,

    // recall@10 of the IVF candidates vs exact truth: assignment, probe
    // ranking, re-rank, both top-10s, and the intersection replayed
    "q_ann_recall_ivf" ->
      """WITH qv AS (SELECT vec_id,
        |  [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings),
        |cents AS (SELECT CAST(vec_id // 100 AS INT) AS list_id, qe AS ce
        |          FROM qv WHERE vec_id % 100 = 0),
        |cdots AS (SELECT v.vec_id, c.list_id,
        |  CAST(list_sum([v.qe[i] * c.ce[i] for i in range(1, len(v.qe)+1)]) AS BIGINT) AS cdot
        |  FROM qv v, cents c),
        |ranked AS (SELECT vec_id, list_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, list_id ASC) AS rnk
        |  FROM cdots),
        |assign AS (SELECT vec_id, list_id FROM ranked WHERE rnk = 1),
        |probes AS (SELECT vec_id AS query_id, list_id FROM ranked
        |           WHERE rnk <= 2 AND vec_id < 5),
        |cand AS (SELECT p.query_id, a.vec_id,
        |  CAST(list_sum([cv.qe[i] * qq.qe[i] for i in range(1, len(cv.qe)+1)]) AS BIGINT) AS dot
        |  FROM probes p
        |  JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
        |  JOIN qv cv ON cv.vec_id = a.vec_id
        |  JOIN qv qq ON qq.vec_id = p.query_id),
        |candtop AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS r
        |  FROM cand) WHERE r <= 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id,
        |    CAST(list_sum([e.qe[i] * q.qe[i]
        |         for i in range(1, len(e.qe)+1)]) AS BIGINT) AS dot
        |  FROM qv e, qv q WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
        |truthtop AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS r
        |  FROM scored) WHERE r <= 10),
        |hits AS (
        |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS hits
        |  FROM truthtop t JOIN candtop c
        |    ON c.query_id = t.query_id AND c.vec_id = t.vec_id
        |  GROUP BY t.query_id)
        |SELECT q.query_id,
        |  COALESCE(h.hits, 0) AS hits,
        |  10 AS k,
        |  CAST(FLOOR(COALESCE(h.hits, 0) * 10000.0 / 10) AS BIGINT) AS recall_bp
        |FROM (SELECT DISTINCT query_id FROM truthtop) q
        |LEFT JOIN hits h ON h.query_id = q.query_id""".stripMargin,

    // PQ codes: argmin exact integer squared L2 per subspace, ties to
    // the smaller code
    "q_pq_encode" ->
      s"""WITH $pqCodesCte
         |SELECT vec_id, subspace, code FROM codes""".stripMargin,

    // ADC: the query's distance table IS the dist CTE restricted to the
    // query ids; approx distance = the sum of its code-selected entries
    "q_pq_adc" ->
      s"""WITH $pqCodesCte,
         |tab AS (SELECT vec_id AS query_id, subspace, code, dd AS td
         |  FROM dist WHERE vec_id < 3),
         |adc AS (SELECT tb.query_id, c.vec_id, CAST(SUM(tb.td) AS BIGINT) AS adc
         |  FROM codes c
         |  JOIN tab tb ON tb.subspace = c.subspace AND tb.code = c.code
         |  GROUP BY 1, 2)
         |SELECT query_id, vec_id, adc, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT query_id, vec_id, adc,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rnk
         |  FROM adc) WHERE rnk <= 10""".stripMargin,

    // conversation summary: the gap window then one aggregation, both
    // keyed on conv_id
    "q_conv_features" ->
      s"""$T,
         |g AS (SELECT conv_id, turn_idx, role, text, tool, ts,
         |  CAST(FLOOR(epoch(ts)) AS BIGINT) -
         |    CAST(FLOOR(epoch(lag(ts) OVER (PARTITION BY conv_id
         |      ORDER BY ts, turn_idx))) AS BIGINT) AS gap
         |  FROM turns)
         |SELECT conv_id,
         |  CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
         |  CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
         |  CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
         |  CAST(count(DISTINCT tool) AS BIGINT) AS n_distinct_tools,
         |  min(ts) AS first_ts,
         |  max(ts) AS last_ts,
         |  CAST(FLOOR(epoch(max(ts))) AS BIGINT) -
         |    CAST(FLOOR(epoch(min(ts))) AS BIGINT) AS duration_sec,
         |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS total_chars,
         |  max(gap) AS max_gap_sec
         |FROM g GROUP BY conv_id""".stripMargin,

    // per user turn: running conditional min of assistant ts over the
    // FOLLOWING frame — the forward-looking label, no future self-join
    "q_reply_latency" ->
      s"""$T,
         |x AS (SELECT conv_id, turn_idx, role, ts,
         |  min(CASE WHEN role = 'assistant' THEN ts END) OVER (
         |    PARTITION BY conv_id ORDER BY ts, turn_idx
         |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
         |  FROM turns)
         |SELECT conv_id, turn_idx,
         |  CAST(FLOOR(epoch(nxt)) AS BIGINT) -
         |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS latency_sec
         |FROM x WHERE role = 'user'""".stripMargin,

    // distinct assistant words vs first tool occurrence per (conv, word);
    // grounded ⇔ first tool idx strictly precedes the assistant turn
    "q_grounding" ->
      s"""$T,
         |aw AS (SELECT DISTINCT conv_id, turn_idx, w AS word
         |  FROM (SELECT conv_id, turn_idx,
         |          unnest(string_split(text, ' ')) AS w
         |        FROM turns WHERE role = 'assistant' AND text IS NOT NULL)
         |  WHERE w <> ''),
         |tw AS (SELECT conv_id, w AS word, min(turn_idx) AS first_tool
         |  FROM (SELECT conv_id, turn_idx,
         |          unnest(string_split(text, ' ')) AS w
         |        FROM turns WHERE role = 'tool' AND text IS NOT NULL)
         |  WHERE w <> '' GROUP BY 1, 2),
         |sc AS (SELECT aw.conv_id, aw.turn_idx,
         |    CAST(count(*) AS BIGINT) AS total,
         |    CAST(sum(CASE WHEN tw.first_tool < aw.turn_idx THEN 1 ELSE 0 END)
         |      AS BIGINT) AS grounded
         |  FROM aw LEFT JOIN tw
         |    ON aw.conv_id = tw.conv_id AND aw.word = tw.word
         |  GROUP BY 1, 2)
         |SELECT t.conv_id, t.turn_idx,
         |  COALESCE(sc.grounded, 0) AS grounded_words,
         |  COALESCE(sc.total, 0) AS total_words
         |FROM turns t LEFT JOIN sc
         |  ON t.conv_id = sc.conv_id AND t.turn_idx = sc.turn_idx
         |WHERE t.role = 'assistant'""".stripMargin,

    // adjacent-among-tool-calls trigrams via lead over turn order
    "q_tool_ngrams" ->
      s"""$T,
         |tc AS (SELECT conv_id, turn_idx, tool,
         |    lead(tool, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS t2,
         |    lead(tool, 2) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS t3
         |  FROM turns WHERE tool IS NOT NULL)
         |SELECT tool AS t1, t2, t3, CAST(count(*) AS BIGINT) AS n
         |FROM tc WHERE t3 IS NOT NULL
         |GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin,

    // nearest preceding user turn via a strictly-preceding running max,
    // then distinct-word intersection with exactly that user turn
    "q_echo" ->
      s"""$T,
         |pu AS (SELECT conv_id, turn_idx, role, text,
         |    max(CASE WHEN role = 'user' THEN turn_idx END) OVER
         |      (PARTITION BY conv_id ORDER BY turn_idx
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_user
         |  FROM turns),
         |aw AS (SELECT DISTINCT conv_id, turn_idx, prev_user, w AS word
         |  FROM (SELECT conv_id, turn_idx, prev_user,
         |          unnest(string_split(text, ' ')) AS w
         |        FROM pu WHERE role = 'assistant' AND text IS NOT NULL)
         |  WHERE w <> ''),
         |uw AS (SELECT DISTINCT conv_id, turn_idx AS prev_user, w AS word
         |  FROM (SELECT conv_id, turn_idx,
         |          unnest(string_split(text, ' ')) AS w
         |        FROM turns WHERE role = 'user' AND text IS NOT NULL)
         |  WHERE w <> ''),
         |sc AS (SELECT aw.conv_id, aw.turn_idx,
         |    CAST(count(*) AS BIGINT) AS total,
         |    CAST(sum(CASE WHEN uw.word IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS echoed
         |  FROM aw LEFT JOIN uw
         |    ON aw.conv_id = uw.conv_id AND aw.prev_user = uw.prev_user
         |   AND aw.word = uw.word
         |  GROUP BY 1, 2)
         |SELECT p.conv_id, p.turn_idx,
         |  COALESCE(sc.echoed, 0) AS echoed_words,
         |  COALESCE(sc.total, 0) AS total_words
         |FROM pu p LEFT JOIN sc
         |  ON p.conv_id = sc.conv_id AND p.turn_idx = sc.turn_idx
         |WHERE p.role = 'assistant'""".stripMargin,

    // first identical assistant text per conversation; repeat = later idx
    // (oracle groups by the text itself — the Spark side's md5 digest is
    // an equivalent key up to collision)
    "q_self_repeat" ->
      s"""$T,
         |a AS (SELECT conv_id, turn_idx, text FROM turns
         |  WHERE role = 'assistant' AND text IS NOT NULL),
         |f AS (SELECT conv_id, text, min(turn_idx) AS first_idx
         |  FROM a GROUP BY 1, 2)
         |SELECT a.conv_id, a.turn_idx, f.first_idx,
         |  a.turn_idx > f.first_idx AS is_repeat
         |FROM a JOIN f ON a.conv_id = f.conv_id AND a.text = f.text""".stripMargin,

    // exact TTR: per-(conv, word) counts first, then count/sum rollup;
    // every conversation emits a row
    "q_lexical" ->
      s"""$T,
         |pw AS (SELECT conv_id, w AS word, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT conv_id, unnest(string_split(text, ' ')) AS w
         |        FROM turns WHERE role = 'assistant' AND text IS NOT NULL)
         |  WHERE w <> '' GROUP BY 1, 2),
         |r AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS d,
         |         CAST(sum(n) AS BIGINT) AS t
         |  FROM pw GROUP BY 1)
         |SELECT c.conv_id,
         |  COALESCE(r.d, 0) AS distinct_words,
         |  COALESCE(r.t, 0) AS total_words
         |FROM (SELECT DISTINCT conv_id FROM turns) c
         |LEFT JOIN r ON c.conv_id = r.conv_id""".stripMargin,

    // lag over (turn_idx, ts) within non-null-ts rows; null-ts rows
    // counted separately (engines disagree on null ordering)
    "q_order_audit" ->
      s"""$T,
         |s AS (SELECT conv_id, turn_idx, ts,
         |    lag(turn_idx) OVER
         |      (PARTITION BY conv_id ORDER BY turn_idx, ts) AS pidx,
         |    lag(ts) OVER
         |      (PARTITION BY conv_id ORDER BY turn_idx, ts) AS pts
         |  FROM turns WHERE ts IS NOT NULL),
         |g AS (SELECT conv_id,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT turn_idx) AS BIGINT) AS nidx,
         |    min(turn_idx) AS first_idx,
         |    CAST(sum(CASE WHEN turn_idx - pidx > 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_idx_gaps,
         |    CAST(sum(CASE WHEN ts < pts THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_ts_inversions
         |  FROM s GROUP BY 1),
         |nn AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_null
         |  FROM turns WHERE ts IS NULL GROUP BY 1)
         |SELECT COALESCE(g.conv_id, nn.conv_id) AS conv_id,
         |  COALESCE(g.n, 0) + COALESCE(nn.n_null, 0) AS n_turns,
         |  COALESCE(g.n, 0) - COALESCE(g.nidx, 0) AS n_dup_idx,
         |  g.first_idx,
         |  COALESCE(g.n_idx_gaps, 0) AS n_idx_gaps,
         |  COALESCE(g.n_ts_inversions, 0) AS n_ts_inversions,
         |  COALESCE(nn.n_null, 0) AS n_null_ts
         |FROM g FULL JOIN nn ON g.conv_id = nn.conv_id""".stripMargin,

    // the five conversation-quality signals composed; thresholds are the
    // Scala defaults (10%/80%/25%/20% in basis points), cross-multiplied
    "q_conv_gate" ->
      s"""$T,
         |os AS (SELECT conv_id, turn_idx, ts,
         |    lag(turn_idx) OVER
         |      (PARTITION BY conv_id ORDER BY turn_idx, ts) AS pidx,
         |    lag(ts) OVER
         |      (PARTITION BY conv_id ORDER BY turn_idx, ts) AS pts
         |  FROM turns WHERE ts IS NOT NULL),
         |og AS (SELECT conv_id,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT turn_idx) AS BIGINT) AS nidx,
         |    min(turn_idx) AS first_idx,
         |    CAST(sum(CASE WHEN turn_idx - pidx > 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_idx_gaps,
         |    CAST(sum(CASE WHEN ts < pts THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_ts_inversions
         |  FROM os GROUP BY 1),
         |onn AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_null
         |  FROM turns WHERE ts IS NULL GROUP BY 1),
         |aud AS (SELECT COALESCE(og.conv_id, onn.conv_id) AS conv_id,
         |    COALESCE(og.n, 0) + COALESCE(onn.n_null, 0) AS n_turns,
         |    COALESCE(og.n, 0) - COALESCE(og.nidx, 0) AS n_dup_idx,
         |    og.first_idx,
         |    COALESCE(og.n_idx_gaps, 0) AS n_idx_gaps,
         |    COALESCE(og.n_ts_inversions, 0) AS n_ts_inversions,
         |    COALESCE(onn.n_null, 0) AS n_null_ts
         |  FROM og FULL JOIN onn ON og.conv_id = onn.conv_id),
         |gaw AS (SELECT DISTINCT conv_id, turn_idx, w AS word
         |  FROM (SELECT conv_id, turn_idx,
         |          unnest(string_split(text, ' ')) AS w
         |        FROM turns WHERE role = 'assistant' AND text IS NOT NULL)
         |  WHERE w <> ''),
         |gtw AS (SELECT conv_id, w AS word, min(turn_idx) AS first_tool
         |  FROM (SELECT conv_id, turn_idx,
         |          unnest(string_split(text, ' ')) AS w
         |        FROM turns WHERE role = 'tool' AND text IS NOT NULL)
         |  WHERE w <> '' GROUP BY 1, 2),
         |grd AS (SELECT gaw.conv_id,
         |    CAST(sum(CASE WHEN gtw.first_tool < gaw.turn_idx
         |      THEN 1 ELSE 0 END) AS BIGINT) AS gw,
         |    CAST(count(*) AS BIGINT) AS gt
         |  FROM gaw LEFT JOIN gtw
         |    ON gaw.conv_id = gtw.conv_id AND gaw.word = gtw.word
         |  GROUP BY 1),
         |epu AS (SELECT conv_id, turn_idx, role, text,
         |    max(CASE WHEN role = 'user' THEN turn_idx END) OVER
         |      (PARTITION BY conv_id ORDER BY turn_idx
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_user
         |  FROM turns),
         |eaw AS (SELECT DISTINCT conv_id, turn_idx, prev_user, w AS word
         |  FROM (SELECT conv_id, turn_idx, prev_user,
         |          unnest(string_split(text, ' ')) AS w
         |        FROM epu WHERE role = 'assistant' AND text IS NOT NULL)
         |  WHERE w <> ''),
         |euw AS (SELECT DISTINCT conv_id, turn_idx AS prev_user, w AS word
         |  FROM (SELECT conv_id, turn_idx,
         |          unnest(string_split(text, ' ')) AS w
         |        FROM turns WHERE role = 'user' AND text IS NOT NULL)
         |  WHERE w <> ''),
         |ech AS (SELECT eaw.conv_id,
         |    CAST(sum(CASE WHEN euw.word IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ew,
         |    CAST(count(*) AS BIGINT) AS et
         |  FROM eaw LEFT JOIN euw
         |    ON eaw.conv_id = euw.conv_id AND eaw.prev_user = euw.prev_user
         |   AND eaw.word = euw.word
         |  GROUP BY 1),
         |ra AS (SELECT conv_id, turn_idx, text FROM turns
         |  WHERE role = 'assistant' AND text IS NOT NULL),
         |rf AS (SELECT conv_id, text, min(turn_idx) AS first_idx
         |  FROM ra GROUP BY 1, 2),
         |rep AS (SELECT ra.conv_id,
         |    CAST(sum(CASE WHEN ra.turn_idx > rf.first_idx THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nr,
         |    CAST(count(*) AS BIGINT) AS nh
         |  FROM ra JOIN rf ON ra.conv_id = rf.conv_id AND ra.text = rf.text
         |  GROUP BY 1),
         |lpw AS (SELECT conv_id, w AS word, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT conv_id, unnest(string_split(text, ' ')) AS w
         |        FROM turns WHERE role = 'assistant' AND text IS NOT NULL)
         |  WHERE w <> '' GROUP BY 1, 2),
         |lex AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS d,
         |    CAST(sum(n) AS BIGINT) AS t
         |  FROM lpw GROUP BY 1),
         |pre AS (SELECT aud.conv_id, aud.n_turns, aud.n_dup_idx,
         |    aud.n_idx_gaps, aud.n_ts_inversions, aud.n_null_ts,
         |    COALESCE(grd.gw, 0) AS grounded_words,
         |    COALESCE(grd.gt, 0) AS grounding_total,
         |    COALESCE(ech.ew, 0) AS echoed_words,
         |    COALESCE(ech.et, 0) AS echo_total,
         |    COALESCE(rep.nr, 0) AS n_repeats,
         |    COALESCE(rep.nh, 0) AS n_hashed_turns,
         |    COALESCE(lex.d, 0) AS distinct_words,
         |    COALESCE(lex.t, 0) AS total_words,
         |    CASE
         |      WHEN aud.n_dup_idx > 0 OR aud.n_idx_gaps > 0
         |        OR aud.n_ts_inversions > 0 OR aud.n_null_ts > 0
         |        OR aud.first_idx IS NULL OR aud.first_idx <> 0 THEN 'order'
         |      WHEN COALESCE(grd.gt, 0) = 0 THEN 'empty'
         |      WHEN COALESCE(grd.gw, 0) * 10000
         |        < 1000 * COALESCE(grd.gt, 0) THEN 'ungrounded'
         |      WHEN COALESCE(ech.ew, 0) * 10000
         |        > 8000 * COALESCE(ech.et, 0) THEN 'echo'
         |      WHEN COALESCE(rep.nr, 0) * 10000
         |        > 2500 * COALESCE(rep.nh, 0) THEN 'loop'
         |      WHEN COALESCE(lex.d, 0) * 10000
         |        < 2000 * COALESCE(lex.t, 0) THEN 'low_ttr'
         |    END AS drop_reason
         |  FROM aud
         |  LEFT JOIN grd ON aud.conv_id = grd.conv_id
         |  LEFT JOIN ech ON aud.conv_id = ech.conv_id
         |  LEFT JOIN rep ON aud.conv_id = rep.conv_id
         |  LEFT JOIN lex ON aud.conv_id = lex.conv_id)
         |SELECT conv_id, n_turns, n_dup_idx, n_idx_gaps, n_ts_inversions,
         |  n_null_ts, grounded_words, grounding_total, echoed_words,
         |  echo_total, n_repeats, n_hashed_turns, distinct_words,
         |  total_words, drop_reason IS NULL AS keep, drop_reason
         |FROM pre""".stripMargin,

    // delta batch (doc_id % 3 = 0) vs standing corpus: exact by hash
    // membership, near by sharing any MinHash band with an old doc
    "q_incr_dedup" -> incrDedupSql,

    // the LIVE twin replays the same delta through the file source
    // against the materialized standing index — the flags must be
    // identical, so the oracle IS q_incr_dedup's
    "q_stream_neardup" -> incrDedupSql,

    // integer mixture plan: budget 123456 split as bp*12 + (bp*3456)//10000
    // (the overflow-free floor identity), rates floored in integer math
    "q_mixture_plan" ->
      """WITH t AS (SELECT lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tok
        |  FROM documents),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS tokens_avail,
        |  CAST(CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000
        |    WHEN 'de' THEN 1500 ELSE 0 END AS BIGINT) AS weight_bp
        |  FROM t GROUP BY lang),
        |p AS (SELECT lang, n_docs, tokens_avail, weight_bp,
        |  least(tokens_avail,
        |    weight_bp * 12 + (weight_bp * 3456) // 10000) AS tokens_target
        |  FROM g)
        |SELECT lang, n_docs, tokens_avail, weight_bp, tokens_target,
        |  CASE WHEN tokens_avail > 0
        |    THEN (tokens_target * 10000) // tokens_avail
        |    ELSE CAST(0 AS BIGINT) END AS rate_bp
        |FROM p""".stripMargin,

    // the plan's rates applied through the same fmix64 gate as
    // q_sample_mix — rates from data, not a hardcoded map
    "q_mixture_apply" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tok
        |  FROM documents),
        |g0 AS (SELECT lang, CAST(SUM(tok) AS BIGINT) AS tokens_avail,
        |  CAST(CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000
        |    WHEN 'de' THEN 1500 ELSE 0 END AS BIGINT) AS weight_bp
        |  FROM t GROUP BY lang),
        |p AS (SELECT lang, tokens_avail, weight_bp,
        |  least(tokens_avail,
        |    weight_bp * 12 + (weight_bp * 3456) // 10000) AS tokens_target
        |  FROM g0),
        |plan AS (SELECT lang,
        |  CASE WHEN tokens_avail > 0
        |    THEN (tokens_target * 10000) // tokens_avail
        |    ELSE CAST(0 AS BIGINT) END AS rate_bp
        |  FROM p),
        |x0 AS (SELECT doc_id, lang,
        |    xor(CAST(doc_id AS UBIGINT), CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM documents),
        |x1 AS (SELECT doc_id, lang, xor(x, x >> 33) AS x FROM x0),
        |x2 AS (SELECT doc_id, lang, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x1),
        |x3 AS (SELECT doc_id, lang, xor(x, x >> 33) AS x FROM x2),
        |x4 AS (SELECT doc_id, lang, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x3),
        |gate AS (SELECT doc_id, lang,
        |    CAST((xor(x, x >> 33) >> 20) % 10000 AS BIGINT) AS gate_bp
        |  FROM x4)
        |SELECT d.doc_id, d.lang
        |FROM gate d JOIN plan ON plan.lang = d.lang
        |WHERE d.gate_bp < plan.rate_bp""".stripMargin,

    // per-conversation sequence packing (exclusive cumsum / 40) then the
    // ordered newline join — the assembled training example
    "q_assemble_seqs" ->
      s"""$T,
         |t AS (SELECT conv_id, turn_idx, text,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS tok
         |  FROM turns WHERE text IS NOT NULL),
         |p AS (SELECT conv_id, turn_idx, text, tok,
         |  CAST(FLOOR(COALESCE(SUM(tok) OVER (PARTITION BY conv_id
         |    ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) / 40.0) AS BIGINT) AS seq_id
         |  FROM t)
         |SELECT conv_id, seq_id, CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(SUM(tok) AS BIGINT) AS seq_tokens,
         |  string_agg(text, chr(10) ORDER BY turn_idx) AS seq_text
         |FROM p GROUP BY conv_id, seq_id""".stripMargin,

    // SemDedup: quantized centroid assignment (argmax dot, ties to the
    // smaller list), within-list exact-cosine pairs at bp=9990
    // (99800100 = 9990²), transitive closure, min-id keeper
    "q_semdedup" ->
      """WITH RECURSIVE qv AS (
        |  SELECT vec_id,
        |    [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id,
        |    [CAST(ROUND(CAST(x AS DOUBLE)*0.5*10000) AS BIGINT) for x in embedding] AS qe
        |  FROM embeddings WHERE vec_id % 7 = 0),
        |cents AS (SELECT CAST(vec_id // 100 AS INT) AS list_id, qe AS ce
        |          FROM qv WHERE vec_id % 100 = 0),
        |cdots AS (SELECT v.vec_id, c.list_id,
        |  CAST(list_sum([v.qe[i] * c.ce[i] for i in range(1, len(v.qe)+1)]) AS BIGINT) AS cdot
        |  FROM qv v, cents c),
        |assign AS (SELECT vec_id, list_id FROM (
        |  SELECT vec_id, list_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, list_id ASC) AS rnk
        |  FROM cdots) WHERE rnk = 1),
        |cand AS (SELECT l.vec_id AS a, r.vec_id AS b
        |  FROM assign l JOIN assign r
        |    ON l.list_id = r.list_id AND l.vec_id < r.vec_id),
        |scored AS (SELECT c.a, c.b,
        |  CAST(list_sum([ea.qe[i] * eb.qe[i] for i in range(1, len(ea.qe)+1)]) AS BIGINT) AS dot,
        |  CAST(list_sum([ea.qe[i] * ea.qe[i] for i in range(1, len(ea.qe)+1)]) AS BIGINT) AS sq_a,
        |  CAST(list_sum([eb.qe[i] * eb.qe[i] for i in range(1, len(eb.qe)+1)]) AS BIGINT) AS sq_b
        |  FROM cand c
        |  JOIN qv ea ON ea.vec_id = c.a
        |  JOIN qv eb ON eb.vec_id = c.b),
        |pairs AS (SELECT a, b FROM scored
        |  WHERE dot > 0 AND sq_a > 0 AND sq_b > 0
        |    AND dot::HUGEINT * dot::HUGEINT * 100000000 >=
        |        CAST(99800100 AS HUGEINT) * sq_a::HUGEINT * sq_b::HUGEINT),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |  UNION SELECT b, a FROM pairs),
        |walk(id, lbl) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, wk.lbl FROM walk wk JOIN edges e ON e.src = wk.id),
        |lbls AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id)
        |SELECT a.vec_id, a.list_id,
        |  COALESCE(l.cluster_id, a.vec_id) AS cluster_id,
        |  (COALESCE(l.cluster_id, a.vec_id) = a.vec_id) AS is_keeper
        |FROM assign a LEFT JOIN lbls l ON l.id = a.vec_id""".stripMargin,

    // exact-integer tf-idf core: tf per (doc, term), df from the tf
    // table, rank by (tf DESC, df ASC, term ASC), top 3 per doc
    "q_top_terms" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE term <> '' GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |  row_number() OVER (PARTITION BY tf.doc_id
        |    ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS rnk
        |  FROM tf JOIN dfq USING (term))
        |SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3""".stripMargin,

    // per-column profile replayed as one SELECT per column, unioned —
    // same row/null/distinct counts, same binary-collation min/max
    "q_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_str,
           |  CAST(max($c) AS VARCHAR) AS max_str
           |FROM documents""".stripMargin
      Seq("doc_id", "text", "lang", "source", "n_chars")
        .map(one).mkString("\nUNION ALL\n")
    },

    // integer floor-div binning: subtract the non-negative mod first so
    // // (trunc) equals floor even for negative values
    "q_histogram" ->
      """SELECT lang,
        |  (n_chars - ((n_chars % 100) + 100) % 100) // 100 AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(n_chars) AS BIGINT) AS v_min,
        |  CAST(max(n_chars) AS BIGINT) AS v_max
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY lang, bin""".stripMargin,

    // (n·x − s)² > 9·(n·q − s²) in HUGEINT — division-free 3σ test
    "q_outliers" ->
      """WITH st AS (SELECT lang,
        |  count(*)::HUGEINT AS gn,
        |  sum(n_chars::HUGEINT) AS gs,
        |  sum(n_chars::HUGEINT * n_chars::HUGEINT) AS gq
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  (st.gn * d.n_chars - st.gs) * (st.gn * d.n_chars - st.gs)
        |    > 9 * (st.gn * st.gq - st.gs * st.gs) AS is_outlier
        |FROM documents d JOIN st USING (lang)
        |WHERE d.n_chars IS NOT NULL""".stripMargin,

    // drift sufficient statistics: conditional bin counts per slice +
    // exact proportion-shift numerator (HUGEINT product, fits BIGINT at
    // verify scale)
    "q_drift_stats" ->
      """WITH b AS (
        |  SELECT (n_chars - ((n_chars % 100) + 100) % 100) // 100 AS bin,
        |         doc_id % 2 = 0 AS r
        |  FROM documents WHERE n_chars IS NOT NULL),
        |bins AS (
        |  SELECT bin,
        |    CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM b GROUP BY bin),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
        |             CAST(sum(n_cur) AS BIGINT) AS tot_cur FROM bins)
        |SELECT bin, n_ref, n_cur, tot_ref, tot_cur,
        |  CAST(n_cur::HUGEINT * tot_ref::HUGEINT
        |     - n_ref::HUGEINT * tot_cur::HUGEINT AS BIGINT) AS delta_num
        |FROM bins, t""".stripMargin,

    // floor-div min-max scaling; degenerate groups (max = min) -> NULL
    "q_minmax_scale" ->
      """WITH st AS (SELECT lang,
        |  min(n_chars) AS mn, max(n_chars) AS mx
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  CASE WHEN st.mx > st.mn THEN
        |    CAST(((d.n_chars - st.mn) * 10000
        |      - (((d.n_chars - st.mn) * 10000) % (st.mx - st.mn)
        |         + (st.mx - st.mn)) % (st.mx - st.mn))
        |      // (st.mx - st.mn) AS BIGINT)
        |  END AS scaled_bp
        |FROM documents d JOIN st USING (lang)
        |WHERE d.n_chars IS NOT NULL""".stripMargin,

    // ROLLUP with portable GROUPING flags (subtotal NULL vs data NULL)
    "q_rollup_stats" ->
      """SELECT lang, source,
        |  CAST(GROUPING(lang) AS INT) AS g_lang,
        |  CAST(GROUPING(source) AS INT) AS g_source,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS total
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,

    // candidate pairs -> exact Levenshtein confirm at threshold 10:
    // synthesized copies (last 3 chars -> 'zzz') pass at distance 3 (the
    // corpus alphabet has no 'z', so all three edits are substitutions);
    // unrelated decoy pairs exceed the threshold and vanish
    "q_edit_dup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, substring(text, 1, length(text) - 3) || 'zzz'
        |  FROM documents WHERE doc_id % 7 = 0),
        |cands AS (
        |  SELECT doc_id AS a, doc_id + 100000 AS b FROM documents
        |  WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents
        |  WHERE doc_id % 7 = 3)
        |SELECT c.a, c.b,
        |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
        |FROM cands c
        |JOIN corpus ta ON ta.doc_id = c.a
        |JOIN corpus tb ON tb.doc_id = c.b
        |WHERE levenshtein(ta.text, tb.text) <= 10""".stripMargin,

    // chunk->parent pooling: same ROUND(x*10000) quantization contract
    // as q_embed_norm, grouped by vec_id // 4 and element position
    "q_embed_pool" ->
      """SELECT (vec_id - ((vec_id % 4) + 4) % 4) // 4 AS group_id,
        |  CAST(i AS INT) AS dim_idx,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CAST(ROUND(CAST(embedding[i+1] AS DOUBLE)*10000)
        |    AS BIGINT)) AS BIGINT) AS qsum
        |FROM embeddings,
        |  LATERAL (SELECT unnest(range(0, len(embedding))) AS i) g
        |GROUP BY group_id, dim_idx""".stripMargin,

    // categorical drift: same shape as q_drift_stats, keyed on lang
    "q_drift_cat" ->
      """WITH bins AS (
        |  SELECT lang,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
        |             CAST(sum(n_cur) AS BIGINT) AS tot_cur FROM bins)
        |SELECT lang, n_ref, n_cur, tot_ref, tot_cur,
        |  CAST(n_cur::HUGEINT * tot_ref::HUGEINT
        |     - n_ref::HUGEINT * tot_cur::HUGEINT AS BIGINT) AS delta_num
        |FROM bins, t""".stripMargin,

    // head-8 + marker + tail-4 words; within-budget rows byte-identical
    "q_truncate_mid" ->
      """WITH w AS (SELECT doc_id, text,
        |  string_split(text, ' ') AS ws FROM documents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CASE WHEN len(ws) <= 12 THEN text
        |       ELSE array_to_string(
        |         list_concat(list_concat(ws[1:8], ['<...>']), ws[-4:]), ' ')
        |  END AS trunc
        |FROM w""".stripMargin,

    // typed JSON-arg parse: validity flag + extracted field; corrupt
    // payloads (event_id % 11 = 5) parse to NULL instead of failing
    "q_tool_parse" ->
      """WITH p AS (SELECT event_id,
        |  CASE WHEN event_id % 11 = 5 THEN '{not json' ELSE props END AS props
        |  FROM events)
        |SELECT event_id, props,
        |  CASE WHEN json_valid(props)
        |       THEN CAST(json_extract_string(props, '$.k') AS INT) END AS k,
        |  json_valid(props) AS props_valid
        |FROM p""".stripMargin,

    // hashing-trick buckets: the q_rolling_fp polynomial replayed per
    // WORD, reduced mod 64 — collisions and all
    "q_feature_hash" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |h AS (SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      [unicode(c)::BIGINT for c in string_split(term, '')]),
        |    (h, c) -> (h * 31 + c) % 1000000007) % 64 AS bucket
        |  FROM toks WHERE term <> '')
        |SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n_terms
        |FROM h GROUP BY doc_id, bucket""".stripMargin,

    // DSIR replay: same per-word polynomial hash, both smoothed 64-bucket
    // profiles (target = docs with >= 3 'customer' tokens), bitlen
    // weights via the unpadded bin() idiom, per-doc integer score and
    // the >= 3 selection gate
    "q_dsir_select" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tk AS (SELECT doc_id,
        |    list_reduce(
        |      list_prepend(0::BIGINT,
        |        [unicode(c)::BIGINT for c in string_split(term, '')]),
        |      (h, c) -> (h * 31 + c) % 1000000007) % 64 AS bucket
        |  FROM toks WHERE term <> ''),
        |tgt AS (SELECT doc_id FROM toks WHERE term = 'customer'
        |  GROUP BY doc_id HAVING count(*) >= 3),
        |bk AS (SELECT unnest(range(0, 64)) AS bucket),
        |tprof AS (SELECT b.bucket, CAST(COALESCE(x.cnt, 0) + 1 AS BIGINT) AS t
        |  FROM bk b LEFT JOIN (
        |    SELECT tk.bucket, count(*) AS cnt
        |    FROM tk JOIN tgt USING (doc_id) GROUP BY 1) x USING (bucket)),
        |rprof AS (SELECT b.bucket, CAST(COALESCE(x.cnt, 0) + 1 AS BIGINT) AS r
        |  FROM bk b LEFT JOIN (
        |    SELECT bucket, count(*) AS cnt FROM tk GROUP BY 1) x USING (bucket)),
        |w AS (SELECT t.bucket,
        |    CAST(length(bin(t.t)) AS BIGINT)
        |      - CAST(length(bin(CAST((SELECT sum(t) FROM tprof) AS BIGINT))) AS BIGINT)
        |      - CAST(length(bin(r.r)) AS BIGINT)
        |      + CAST(length(bin(CAST((SELECT sum(r) FROM rprof) AS BIGINT))) AS BIGINT)
        |      AS w
        |  FROM tprof t JOIN rprof r USING (bucket)),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(w.w) AS BIGINT) AS score
        |  FROM tk JOIN w USING (bucket) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(sc.score, 0) AS BIGINT) AS score,
        |  COALESCE(sc.score, 0) >= 3 AS selected
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    // per-term ranking replayed as a plain window — the salted
    // two-phase route must be indistinguishable from it
    "q_inverted_index" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE term <> '' GROUP BY term, doc_id),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs
        |  FROM tf GROUP BY term),
        |r AS (SELECT term, doc_id, tf,
        |  CAST(row_number() OVER (PARTITION BY term
        |    ORDER BY tf DESC, doc_id ASC) AS BIGINT) AS rnk FROM tf)
        |SELECT r.term, r.doc_id, r.tf, dfq.df_docs, r.rnk
        |FROM r JOIN dfq USING (term) WHERE r.rnk <= 3""".stripMargin,

    // integer BM25 inputs per (query term, doc): tf, dl, df, and the two
    // corpus constants repeated per row
    "q_bm25" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w),
        |tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS term FROM w)
        |  WHERE term IN ('spark', 'hash', 'window', 'merge')
        |  GROUP BY term, doc_id),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY term),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) AS BIGINT) AS total_dl FROM dl)
        |SELECT tf.term, tf.doc_id, tf.tf, dl.dl, dfq.df_docs, c.n_docs, c.total_dl
        |FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN c""".stripMargin,

    // dense ranking = q_ann_topk's quantized-dot top-10; lexical ranking =
    // word-set Jaccard fixed-point top-10 over shared-word candidates;
    // RRF contributions 10^9 // (60 + rank) summed, ties to smaller doc
    "q_rrf_fuse" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, e.vec_id,
        |  CAST(list_sum([CAST(ROUND(CAST(e.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(q.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(e.embedding)+1)]) AS BIGINT) AS dot
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |dense AS (SELECT query_id, vec_id AS doc_id, rank FROM (
        |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 10),
        |qd AS (SELECT doc_id AS query_id, list_distinct(string_split(lower(text), ' ')) AS qs
        |  FROM documents WHERE doc_id < 5),
        |ds AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS s FROM documents),
        |lex0 AS (SELECT qd.query_id, ds.doc_id,
        |    CAST(len(list_intersect(ds.s, qd.qs)) AS BIGINT) AS inter,
        |    CAST(len(ds.s) + len(qd.qs) - len(list_intersect(ds.s, qd.qs)) AS BIGINT) AS uni
        |  FROM qd, ds WHERE ds.doc_id <> qd.query_id),
        |lex AS (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY (inter*1000000000)//uni DESC, doc_id) AS rank
        |  FROM lex0 WHERE inter > 0) WHERE rank <= 10),
        |u AS (SELECT query_id, doc_id, 1000000000//(60+rank) AS c FROM dense
        |  UNION ALL SELECT query_id, doc_id, 1000000000//(60+rank) FROM lex),
        |f AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf FROM u GROUP BY query_id, doc_id)
        |SELECT query_id, doc_id, rrf, rank FROM (
        |  SELECT query_id, doc_id, rrf,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) AS rank
        |  FROM f) WHERE rank <= 10""".stripMargin,

    // q_ann_topk's quantized-dot ranking at k=20, relevance = label
    // equality; queries with no same-label neighbor in the top 20 keep a
    // NULL first_rel_rank row
    "q_mrr" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, e.vec_id, e.label,
        |  CAST(list_sum([CAST(ROUND(CAST(e.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(q.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(e.embedding)+1)]) AS BIGINT) AS dot
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, vec_id, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rank
        |  FROM scored),
        |hits AS (SELECT r.query_id,
        |    CAST(min(r.rank) AS BIGINT) AS first_rel_rank,
        |    CAST(count(*) AS BIGINT) AS n_rel_topk
        |  FROM ranked r JOIN q ON q.query_id = r.query_id
        |  WHERE r.rank <= 20 AND r.label = q.ql
        |  GROUP BY r.query_id)
        |SELECT q.query_id, h.first_rel_rank,
        |  COALESCE(h.n_rel_topk, 0) AS n_rel_topk
        |FROM q LEFT JOIN hits h ON h.query_id = q.query_id""".stripMargin,

    // q_mrr's ranking, but every hit rank kept (one row per relevant doc
    // in the top 20) with the query's total same-label count (self
    // excluded); no-hit queries keep a NULL-rank row
    "q_ndcg" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, e.vec_id, e.label,
        |  CAST(list_sum([CAST(ROUND(CAST(e.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |       * CAST(ROUND(CAST(q.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |       for i in range(1, len(e.embedding)+1)]) AS BIGINT) AS dot
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, vec_id, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rank
        |  FROM scored),
        |rt AS (SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_rel_total
        |  FROM embeddings e, q
        |  WHERE e.label = q.ql AND e.vec_id <> q.query_id
        |  GROUP BY 1),
        |hits AS (SELECT r.query_id, CAST(r.rank AS BIGINT) AS hit_rank
        |  FROM ranked r JOIN q ON q.query_id = r.query_id
        |  WHERE r.rank <= 20 AND r.label = q.ql)
        |SELECT q.query_id, h.hit_rank,
        |  COALESCE(rt.n_rel_total, 0) AS n_rel_total
        |FROM q LEFT JOIN hits h ON h.query_id = q.query_id
        |LEFT JOIN rt ON rt.query_id = q.query_id""".stripMargin,

    // greedy MMR replayed as chained argmax CTEs: rel = exact quantized
    // dot to vec 1's embedding; pair dots precomputed once; pick i
    // maximizes 7000·rel − 3000·max(sim to picks 1..i−1), ties by vec_id
    "q_mmr_select" ->
      """WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0),
        |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        |rel AS (SELECT c.vec_id,
        |  list_sum([CAST(ROUND(CAST(c.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |    * CAST(ROUND(CAST(qv.qe[i] AS DOUBLE)*10000) AS BIGINT)
        |    for i in range(1, len(c.embedding)+1)]) AS rel
        |  FROM c, qv),
        |pd AS (SELECT ca.vec_id AS a, cb.vec_id AS b,
        |  list_sum([CAST(ROUND(CAST(ca.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |    * CAST(ROUND(CAST(cb.embedding[i] AS DOUBLE)*10000) AS BIGINT)
        |    for i in range(1, len(ca.embedding)+1)]) AS d
        |  FROM c ca, c cb),
        |s1 AS (SELECT vec_id, 7000*rel AS score FROM rel
        |  ORDER BY 7000*rel DESC, vec_id LIMIT 1),
        |d2 AS (SELECT r.vec_id, 7000*r.rel - 3000*max(pd.d) AS score
        |  FROM rel r JOIN pd ON pd.a = r.vec_id
        |    AND pd.b IN (SELECT vec_id FROM s1)
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1)
        |  GROUP BY r.vec_id, r.rel),
        |s2 AS (SELECT vec_id, score FROM d2 ORDER BY score DESC, vec_id LIMIT 1),
        |d3 AS (SELECT r.vec_id, 7000*r.rel - 3000*max(pd.d) AS score
        |  FROM rel r JOIN pd ON pd.a = r.vec_id
        |    AND pd.b IN (SELECT vec_id FROM s1 UNION SELECT vec_id FROM s2)
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1 UNION SELECT vec_id FROM s2)
        |  GROUP BY r.vec_id, r.rel),
        |s3 AS (SELECT vec_id, score FROM d3 ORDER BY score DESC, vec_id LIMIT 1),
        |d4 AS (SELECT r.vec_id, 7000*r.rel - 3000*max(pd.d) AS score
        |  FROM rel r JOIN pd ON pd.a = r.vec_id
        |    AND pd.b IN (SELECT vec_id FROM s1 UNION SELECT vec_id FROM s2
        |                 UNION SELECT vec_id FROM s3)
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1 UNION SELECT vec_id FROM s2
        |                         UNION SELECT vec_id FROM s3)
        |  GROUP BY r.vec_id, r.rel),
        |s4 AS (SELECT vec_id, score FROM d4 ORDER BY score DESC, vec_id LIMIT 1)
        |SELECT CAST(1 AS INTEGER) AS rank, vec_id, CAST(score AS BIGINT) AS score FROM s1
        |UNION ALL SELECT CAST(2 AS INTEGER), vec_id, CAST(score AS BIGINT) FROM s2
        |UNION ALL SELECT CAST(3 AS INTEGER), vec_id, CAST(score AS BIGINT) FROM s3
        |UNION ALL SELECT CAST(4 AS INTEGER), vec_id, CAST(score AS BIGINT) FROM s4""".stripMargin,

    // the oracle is the BRUTE-FORCE exact Jaccard join over distinct
    // 3-word shingle sets — the prefix-filtered path must reproduce it
    // row-for-row (recall = 1, no LSH misses)
    "q_ssjoin" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |     for i in range(1, greatest(len(ws)-2, 0)+1)]) AS s
        |  FROM w WHERE len(ws) >= 3),
        |e AS (SELECT doc_id, unnest(s) AS tok FROM sh),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY doc_id),
        |i AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
        |  FROM e a JOIN e b USING (tok) WHERE a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT i.a, i.b, i.inter, sa.n + sb.n - i.inter AS uni
        |FROM i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
        |WHERE i.inter * 10000 >= 8000 * (sa.n + sb.n - i.inter)""".stripMargin,

    // same MinHash pairs + hash-min component walk as q_dup_clusters;
    // the flag is OR-spread over each component, unpaired docs keep their
    // own flag and their own id as cluster_id
    "q_label_spread" ->
      s"""$minhashWalkCte,
         |comp AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
         |base AS (SELECT d.doc_id, (d.doc_id % 53 = 0) AS flag_self,
         |    COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |cf AS (SELECT cluster_id, max(flag_self) AS flag_cluster
         |  FROM base GROUP BY cluster_id)
         |SELECT b.doc_id, b.flag_self, cf.flag_cluster, b.cluster_id
         |FROM base b JOIN cf USING (cluster_id)""".stripMargin,

    // 3 chained power-iteration CTEs replaying the Spark rounds exactly:
    // same floor divisions in the same order, the one wide multiply in
    // HUGEINT (decimal(38,0) on the Spark side)
    "q_pagerank" ->
      """WITH w AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
        |bg AS (SELECT unnest(ws[1:len(ws)-1]) AS src, unnest(ws[2:len(ws)]) AS dst
        |  FROM w WHERE len(ws) >= 2),
        |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM bg GROUP BY src, dst),
        |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |outd AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY src),
        |r0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS r FROM nodes),
        |s1 AS (SELECT n.node,
        |    ((10000-8500)*1000000000000 // 10000) // (SELECT n FROM nn)
        |      + COALESCE(c.cin, 0) AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, CAST(sum(CAST(
        |        (((8500 * r.r) // 10000)::HUGEINT * e.w) // o.wout::HUGEINT
        |      AS BIGINT)) AS BIGINT) AS cin
        |    FROM e JOIN r0 r ON r.node = e.src JOIN outd o ON o.src = e.src
        |    GROUP BY e.dst) c ON c.dst = n.node),
        |s2 AS (SELECT n.node,
        |    ((10000-8500)*1000000000000 // 10000) // (SELECT n FROM nn)
        |      + COALESCE(c.cin, 0) AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, CAST(sum(CAST(
        |        (((8500 * r.r) // 10000)::HUGEINT * e.w) // o.wout::HUGEINT
        |      AS BIGINT)) AS BIGINT) AS cin
        |    FROM e JOIN s1 r ON r.node = e.src JOIN outd o ON o.src = e.src
        |    GROUP BY e.dst) c ON c.dst = n.node),
        |s3 AS (SELECT n.node,
        |    ((10000-8500)*1000000000000 // 10000) // (SELECT n FROM nn)
        |      + COALESCE(c.cin, 0) AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, CAST(sum(CAST(
        |        (((8500 * r.r) // 10000)::HUGEINT * e.w) // o.wout::HUGEINT
        |      AS BIGINT)) AS BIGINT) AS cin
        |    FROM e JOIN s2 r ON r.node = e.src JOIN outd o ON o.src = e.src
        |    GROUP BY e.dst) c ON c.dst = n.node)
        |SELECT node, CAST(r AS BIGINT) AS rank FROM s3""".stripMargin,

    // PERMISSIVE parse: every (turn_idx % 11 = 3) line had its turn_idx
    // corrupted to 'x' at staging — good fields parse, the bad one
    // nulls, the raw line lands in quarantine
    "q_csv_ingest" ->
      s"""$T
         |SELECT conv_id,
         |  CASE WHEN turn_idx % 11 = 3 THEN NULL ELSE turn_idx END AS turn_idx,
         |  role,
         |  CASE WHEN turn_idx % 11 = 3
         |    THEN conv_id || ',x,' || role ELSE NULL END AS raw,
         |  CASE WHEN turn_idx % 11 = 3 THEN 'false' ELSE 'true' END AS valid
         |FROM turns""".stripMargin,

    // stream-static enrichment must equal the batch join; the dim is
    // derived from the same table, so the join reduces to the projection
    "q_stream_enrich" ->
      s"""$T
         |SELECT conv_id, turn_idx, tool, substr(tool, 6, 1) AS tool_cat
         |FROM turns WHERE tool IS NOT NULL""".stripMargin,

    // window geometry replayed with list slicing: chunk i covers words
    // [i*8+1, i*8+16], n = 1 + ceil(max(0, nw-16)/8)
    "q_chunk_words" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nw,
        |  1 + (greatest(CAST(len(ws) AS BIGINT) - 16, 0) + 7) // 8 AS nchunks
        |  FROM w),
        |c AS (SELECT doc_id, ws, nw,
        |  unnest(range(0, nchunks)) AS i FROM n)
        |SELECT doc_id, i AS chunk_idx,
        |  i * 8 + 1 AS word_start,
        |  least(CAST(16 AS BIGINT), nw - i * 8) AS n_words,
        |  array_to_string(ws[(i * 8 + 1):(i * 8 + 16)], ' ') AS chunk_text
        |FROM c""".stripMargin,

    // the stream-stream interval join must equal the batch interval join
    "q_stream_join" ->
      s"""$T
         |SELECT l.conv_id, l.turn_idx AS u_turn_idx,
         |  r.turn_idx AS t_turn_idx, r.tool
         |FROM (SELECT * FROM turns WHERE role = 'user') l
         |JOIN (SELECT * FROM turns WHERE tool IS NOT NULL) r
         |  ON r.conv_id = l.conv_id AND r.ts >= l.ts
         | AND r.ts <= l.ts + INTERVAL 3600 SECOND""".stripMargin,

    // the k smallest fmix64 keys per stratum, replayed as the bijection
    // plus a rank filter
    "q_sample_topk" ->
      """WITH x0 AS (SELECT doc_id, lang,
        |    xor(CAST(doc_id AS UBIGINT), CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM documents),
        |x1 AS (SELECT doc_id, lang, xor(x, x >> 33) AS x FROM x0),
        |x2 AS (SELECT doc_id, lang, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x1),
        |x3 AS (SELECT doc_id, lang, xor(x, x >> 33) AS x FROM x2),
        |x4 AS (SELECT doc_id, lang, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x3),
        |sk AS (SELECT doc_id, lang,
        |  CAST(CAST(xor(x, x >> 33) AS HUGEINT)
        |    - CASE WHEN xor(x, x >> 33) >= CAST('9223372036854775808' AS UBIGINT)
        |           THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS BIGINT) AS skey
        |  FROM x4)
        |SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY skey) AS rn
        |  FROM sk) WHERE rn <= 20""".stripMargin,

    // one exact X'X / X'y row (upper triangle + labels + n), generated
    // from the same feature-SQL list as the scoring oracle
    "q_linfit_stats" -> linfitStatsSql,

    // the published bp weights as an integer dot over the same features
    "q_quality_score" -> qualityScoreSql,

    // digest = md5(ordered role||chr(2)||text pairs, chr(1)-joined,
    // chr(0) for null text); kept = min conv_id per digest
    "q_conv_dedup" ->
      s"""$T,
         |u AS (SELECT conv_id, turn_idx, role, text, ts FROM turns
         |  UNION ALL
         |  SELECT 'd' || substr(conv_id, 2) AS conv_id, turn_idx, role, text, ts
         |  FROM turns WHERE CAST(substr(conv_id, 2) AS BIGINT) % 7 = 0),
         |d AS (SELECT conv_id,
         |    md5(string_agg(role || chr(2) || COALESCE(text, chr(0)), chr(1)
         |      ORDER BY ts, turn_idx)) AS conv_digest,
         |    CAST(count(*) AS BIGINT) AS n_turns
         |  FROM u GROUP BY conv_id)
         |SELECT conv_id, conv_digest, n_turns,
         |  conv_id = min(conv_id) OVER (PARTITION BY conv_digest) AS kept
         |FROM d""".stripMargin,

    // 3-turn text shingles (chr(1)-joined, nulls as '') hashed inside a
    // per-conversation window; df-capped self-join pairs conversations
    "q_subdialogue_dup" ->
      s"""$T,
         |u AS (SELECT conv_id, turn_idx, text FROM turns
         |  UNION ALL
         |  SELECT 'd' || substr(conv_id, 2) AS conv_id, turn_idx, text
         |  FROM turns
         |  WHERE CAST(substr(conv_id, 2) AS BIGINT) % 9 = 0 AND turn_idx < 6),
         |sh0 AS (SELECT conv_id,
         |    CASE WHEN lead(turn_idx, 2) OVER w IS NOT NULL THEN
         |      substr(md5(concat_ws(chr(1), COALESCE(text, ''),
         |        COALESCE(lead(text, 1) OVER w, ''),
         |        COALESCE(lead(text, 2) OVER w, ''))), 1, 16)
         |    END AS h
         |  FROM u WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
         |sh AS (SELECT DISTINCT h, conv_id FROM sh0 WHERE h IS NOT NULL),
         |hot AS (SELECT h FROM sh GROUP BY h HAVING count(*) > 20),
         |kept AS (SELECT * FROM sh WHERE h NOT IN (SELECT h FROM hot)),
         |sized AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n
         |  FROM kept GROUP BY 1),
         |p AS (SELECT x.conv_id AS conv_a, y.conv_id AS conv_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM kept x JOIN kept y ON x.h = y.h AND x.conv_id < y.conv_id
         |  GROUP BY 1, 2)
         |SELECT p.conv_a, p.conv_b, p.n_shared, sa.n AS n_a, sb.n AS n_b,
         |  CAST(p.n_shared * 10000 // LEAST(sa.n, sb.n) AS BIGINT)
         |    AS contain_bp
         |FROM p
         |JOIN sized sa ON sa.conv_id = p.conv_a
         |JOIN sized sb ON sb.conv_id = p.conv_b""".stripMargin,

    // context (strictly-preceding list), label (strictly-following
    // conditional min), split (pure time function) — all three replayed
    // over the same conversation order
    "q_example_factory" ->
      s"""$T,
         |w AS (SELECT conv_id, turn_idx, role, text, ts,
         |  COALESCE(array_to_string(list(role || ': ' || COALESCE(text, ''))
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), chr(10)), '')
         |    AS context_text,
         |  CAST(FLOOR(epoch(min(CASE WHEN role = 'assistant' THEN ts END)
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)))
         |    AS BIGINT) - CAST(FLOOR(epoch(ts)) AS BIGINT) AS latency_sec,
         |  CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) < 1705363200 - 86400
         |         THEN 'train'
         |       WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) >= 1705363200
         |         THEN 'test'
         |       ELSE 'embargo' END AS split
         |  FROM turns)
         |SELECT conv_id, turn_idx, context_text, latency_sec, split
         |FROM w WHERE role = 'user' AND text IS NOT NULL""".stripMargin,

    // three RANGE frames over one conversation order; RANGE includes
    // same-ts peers identically in both engines
    "q_rolling_multi" ->
      s"""$T
         |SELECT conv_id, turn_idx,
         |  count(*) OVER (PARTITION BY conv_id
         |    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
         |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_prev_3600s,
         |  count(*) OVER (PARTITION BY conv_id
         |    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
         |    RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW) AS n_prev_21600s,
         |  count(*) OVER (PARTITION BY conv_id
         |    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
         |    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS n_prev_86400s
         |FROM turns""".stripMargin,

    // decayed trailing sum replayed as a dense-turn_idx range self-join:
    // turn_idx IS row position (row_number - 1), so the ROWS frame and
    // the idx-range join see the same 8 rows; weight 2^(7 - distance)
    "q_ewma" ->
      s"""$T,
         |v AS (SELECT conv_id, turn_idx,
         |  COALESCE(CAST(length(text) AS BIGINT), 0) AS v FROM turns)
         |SELECT a.conv_id, a.turn_idx, a.v,
         |  CAST(sum(b.v * (1::BIGINT << (7 - (a.turn_idx - b.turn_idx))))
         |    AS BIGINT) AS decayed_len
         |FROM v a JOIN v b
         |  ON a.conv_id = b.conv_id
         | AND b.turn_idx BETWEEN a.turn_idx - 7 AND a.turn_idx
         |GROUP BY a.conv_id, a.turn_idx, a.v""".stripMargin,

    // (role -> next role) adjacency counts in conversation order
    "q_role_transitions" ->
      s"""$T,
         |x AS (SELECT role,
         |  lead(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
         |    AS next_role
         |  FROM turns)
         |SELECT role, next_role, CAST(count(*) AS BIGINT) AS n
         |FROM x WHERE next_role IS NOT NULL GROUP BY role, next_role""".stripMargin,

    // the bin-bucketed route must equal the plain range join — the
    // oracle IS the plain range join (inclusive both ends, epoch-second
    // truncation on both sides)
    "q_range_join" ->
      s"""$T,
         |iv AS (SELECT conv_id AS iv_conv,
         |    CAST(FLOOR(epoch(min(ts))) AS BIGINT) AS s0
         |  FROM turns GROUP BY conv_id
         |  HAVING CAST(substr(conv_id, 2) AS BIGINT) % 10 = 0)
         |SELECT t.conv_id, t.turn_idx, iv.iv_conv
         |FROM turns t JOIN iv
         |  ON CAST(FLOOR(epoch(t.ts)) AS BIGINT) >= iv.s0
         | AND CAST(FLOOR(epoch(t.ts)) AS BIGINT) <= iv.s0 + 3600""".stripMargin,

    // plain theta join replay of the binned exactly-once overlap join;
    // session intervals rebuilt from the q_sessionize CTE
    "q_interval_join" ->
      s"""$T,
         |s1 AS (SELECT conv_id, turn_idx, ts,
         |  lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |  FROM turns),
         |s2 AS (SELECT conv_id, ts,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL
         |      OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
         |  FROM s1),
         |sess AS (SELECT conv_id, session_seq,
         |    CAST(FLOOR(epoch(min(ts))) AS BIGINT) AS ss,
         |    CAST(FLOOR(epoch(max(ts))) AS BIGINT) AS se
         |  FROM s2 GROUP BY 1, 2),
         |w AS (SELECT event_id,
         |    CAST(FLOOR(epoch(ts)) AS BIGINT) - 60 AS ws,
         |    CAST(FLOOR(epoch(ts)) AS BIGINT) + 60 AS we
         |  FROM events WHERE event_type = 'error')
         |SELECT sess.conv_id, sess.session_seq, w.event_id
         |FROM sess JOIN w ON sess.ss <= w.we AND w.ws <= sess.se""".stripMargin,

    // CMS replayed counter-for-counter: same probe geometry as the
    // Bloom oracle ((u >> 1) mod width per salt row), estimate = min
    // over rows, overestimate = est − true (≥ 0 always)
    "q_cms_freq" ->
      s"""WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word
         |  FROM documents WHERE text IS NOT NULL),
         |w2 AS (SELECT word, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS k
         |  FROM w WHERE word <> ''),
         |salts(row_idx, salt) AS (VALUES ${(0 until 3).map(j =>
             s"($j, CAST(${java.lang.Long.toUnsignedString(
               j.toLong * graft.exprs.BloomImpl.Phi)} AS UBIGINT))")
             .mkString(", ")}),
         |pos AS (SELECT row_idx,
         |  ${fmixLateralSql("xor(CAST(k AS UBIGINT), salt)")},
         |  CAST((u >> 1) % 32 AS BIGINT) AS counter_idx
         |  FROM w2, salts),
         |counters AS (SELECT row_idx, counter_idx,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM pos GROUP BY 1, 2),
         |q AS (SELECT word, k, CAST(count(*) AS BIGINT) AS true_count
         |  FROM w2 GROUP BY word, k),
         |qpos AS (SELECT word, k, true_count, row_idx,
         |  ${fmixLateralSql("xor(CAST(k AS UBIGINT), salt)")},
         |  CAST((u >> 1) % 32 AS BIGINT) AS counter_idx
         |  FROM q, salts),
         |est AS (SELECT word, k, true_count,
         |    min(COALESCE(c.cnt, 0)) AS est_count
         |  FROM qpos LEFT JOIN counters c USING (row_idx, counter_idx)
         |  GROUP BY 1, 2, 3)
         |SELECT word, k, true_count, est_count,
         |  est_count - true_count AS overestimate
         |FROM est""".stripMargin,

    // NFC recomposition replayed by the engine's own normalizer: the
    // decomposed length counts each injected combining mark, the
    // normalized length composes them away
    "q_nfc_norm" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(text, 'a', 'a' || chr(769), 'g') AS dec
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST(length(dec) AS INTEGER) AS n_decomposed,
        |  nfc_normalize(dec) AS text_nfc,
        |  CAST(length(nfc_normalize(dec)) AS INTEGER) AS n_nfc
        |FROM d""".stripMargin,

    // boundary audit: train strictly below cutoff−embargo, test at or
    // above cutoff, embargo in between
    "q_temporal_split" ->
      s"""$T,
         |s AS (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
         |  CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) < 1705363200 - 86400 THEN 'train'
         |       WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) >= 1705363200 THEN 'test'
         |       ELSE 'embargo' END AS split
         |  FROM turns)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(sec) AS min_sec, max(sec) AS max_sec
         |FROM s GROUP BY split""".stripMargin,

    // the probe-geometry draw replayed per (doc, salt): negative j of
    // anchor a is (fmix64(a ⊕ j·φ) >> 1) mod N, self-draws dropped
    "q_neg_sample" ->
      s"""WITH n AS (SELECT count(*) AS nn FROM documents),
         |salts(neg_idx, salt) AS (VALUES ${(0 until 4).map(j =>
             s"($j, CAST(${java.lang.Long.toUnsignedString(
               j.toLong * graft.exprs.BloomImpl.Phi)} AS UBIGINT))")
             .mkString(", ")}),
         |d AS (SELECT doc_id, neg_idx,
         |  ${fmixLateralSql("xor(CAST(doc_id AS UBIGINT), salt)")},
         |  CAST((u >> 1) % CAST((SELECT nn FROM n) AS UBIGINT) AS BIGINT) AS neg_id
         |  FROM documents, salts)
         |SELECT doc_id, neg_idx, neg_id FROM d WHERE neg_id <> doc_id""".stripMargin,

    // the skew-aware join must equal the plain join — the oracle IS the
    // plain join
    "q_skew_join" ->
      s"""$T,
         |d AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(FLOOR(epoch(max(ts))) AS BIGINT) -
         |    CAST(FLOOR(epoch(min(ts))) AS BIGINT) AS duration_sec
         |  FROM turns GROUP BY conv_id)
         |SELECT t.conv_id, t.turn_idx, t.role, d.n_turns, d.duration_sec
         |FROM turns t JOIN d USING (conv_id)""".stripMargin,

    // KMV replayed against the TRUE distinct set: sort every distinct
    // mixed hash, take the k=128 smallest, estimate (k-1)*2^64/(u_k+1)
    // by exact integer division
    "q_kmv_distinct" -> kmvDistinctSql,

    // the merged sketch must equal the from-scratch one (lossless KMV
    // merge) — so the oracle is LITERALLY the same SQL
    "q_kmv_merge" -> kmvDistinctSql,

    // HLL registers bit-for-bit: same 60-bit md5 key (hex-digit sum),
    // k mod 256 buckets, rho = 53 - bitlen(remainder) via bin()
    "q_hll" ->
      s"""WITH v AS (SELECT md5(text) AS hx
         |    FROM documents WHERE text IS NOT NULL),
         |k AS (SELECT ${hexToLongSql("hx", 15)} AS k FROM v),
         |b AS (SELECT k % 256 AS bucket, k // 256 AS r FROM k)
         |SELECT bucket,
         |  CAST(max(CASE WHEN r = 0 THEN 53 ELSE 53 - length(bin(r)) END)
         |    AS INTEGER) AS max_rho
         |FROM b GROUP BY 1""".stripMargin,

    "q_hll_by" ->
      s"""WITH v AS (SELECT source, md5(text) AS hx
         |    FROM documents WHERE text IS NOT NULL),
         |k AS (SELECT source, ${hexToLongSql("hx", 15)} AS k FROM v),
         |b AS (SELECT source, k % 256 AS bucket, k // 256 AS r FROM k)
         |SELECT source, bucket,
         |  CAST(max(CASE WHEN r = 0 THEN 53 ELSE 53 - length(bin(r)) END)
         |    AS INTEGER) AS max_rho
         |FROM b GROUP BY 1, 2""".stripMargin,

    // kappa sufficient stats: joint-alphabet inner join of the two
    // marginal tables; HUGEINT mirrors decimal(38,0)
    "q_kappa" ->
      """WITH d AS (SELECT event_type AS a,
        |    CASE WHEN value < 20 THEN 'view'
        |         WHEN value < 40 THEN 'click'
        |         WHEN value < 60 THEN 'signup'
        |         WHEN value < 80 THEN 'purchase'
        |         ELSE 'error' END AS b
        |  FROM events WHERE event_type IS NOT NULL),
        |ma AS (SELECT a AS cls, CAST(count(*) AS HUGEINT) AS ca FROM d GROUP BY 1),
        |mb AS (SELECT b AS cls, CAST(count(*) AS HUGEINT) AS cb FROM d GROUP BY 1),
        |pe AS (SELECT COALESCE(sum(ca * cb), 0) AS pe_num
        |  FROM ma JOIN mb USING (cls))
        |SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS HUGEINT) AS n_agree,
        |  (SELECT pe_num FROM pe) AS pe_num
        |FROM d""".stripMargin,

    // the three rule-labelers in long format, null labels out, items
    // pinned to exactly 3 ratings (the rest counted as dropped),
    // contingency cells -> agreeing pairs + squared category totals
    "q_fleiss" ->
      """WITH r AS (
        |  SELECT event_id AS i, event_type AS l FROM events
        |  UNION ALL
        |  SELECT event_id, CASE WHEN value < 20 THEN 'view'
        |      WHEN value < 40 THEN 'click'
        |      WHEN value < 60 THEN 'signup'
        |      WHEN value < 80 THEN 'purchase'
        |      WHEN value IS NOT NULL THEN 'error' END FROM events
        |  UNION ALL
        |  SELECT event_id,
        |    (['view','click','signup','purchase','error'])[(length(props) % 5) + 1]
        |  FROM events),
        |rr AS (SELECT i, l FROM r WHERE l IS NOT NULL),
        |cells AS (SELECT i, l, count(*) AS n FROM rr GROUP BY 1, 2),
        |ni AS (SELECT i, CAST(sum(n) AS BIGINT) AS ni FROM cells GROUP BY 1),
        |keep AS (SELECT i FROM ni WHERE ni = 3),
        |kept AS (SELECT c.* FROM cells c JOIN keep USING (i)),
        |tj AS (SELECT l, CAST(sum(n) AS HUGEINT) AS t FROM kept GROUP BY 1)
        |SELECT CAST((SELECT count(*) FROM keep) AS HUGEINT) AS n_items,
        |  CAST(3 AS BIGINT) AS n_raters,
        |  CAST(COALESCE((SELECT sum(n * (n - 1)) FROM kept), 0) AS HUGEINT) AS agree_pairs,
        |  CAST(COALESCE((SELECT sum(t * t) FROM tj), 0) AS HUGEINT) AS pe_num,
        |  CAST((SELECT count(*) FROM ni WHERE ni <> 3) AS BIGINT) AS n_dropped""".stripMargin,

    // single-window replay of the two-phase rank maps; r2 = doubled
    // average rank keeps ties integral, HUGEINT mirrors decimal(38,0)
    "q_spearman" ->
      """WITH d AS (SELECT n_chars AS x,
        |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS y
        |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |hx AS (SELECT x, CAST(count(*) AS HUGEINT) AS c FROM d GROUP BY 1),
        |rx AS (SELECT x, 2 * COALESCE(sum(c) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
        |  FROM hx),
        |hy AS (SELECT y, CAST(count(*) AS HUGEINT) AS c FROM d GROUP BY 1),
        |ry AS (SELECT y, 2 * COALESCE(sum(c) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
        |  FROM hy)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(rx.r2) AS s_x, sum(ry.r2) AS s_y,
        |  sum(rx.r2 * ry.r2) AS s_xy,
        |  sum(rx.r2 * rx.r2) AS s_xx,
        |  sum(ry.r2 * ry.r2) AS s_yy
        |FROM d JOIN rx USING (x) JOIN ry USING (y)""".stripMargin,

    // Bloom build + probe replayed bit-for-bit: 63 bits/word, probe j
    // mixes key ⊕ salt_j, position (u >> 1) mod 256·63; membership is
    // bool_and over the three probe bits. true_dup is the exact join.
    "q_bloom_filter" ->
      s"""WITH ks AS (SELECT doc_id,
         |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS k
         |  FROM documents WHERE text IS NOT NULL),
         |stand AS (SELECT k FROM ks WHERE doc_id % 3 <> 0),
         |delta AS (SELECT doc_id, k FROM ks WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, k FROM ks WHERE doc_id % 9 = 1),
         |salts(salt) AS (VALUES ${bloomSaltValues(3)}),
         |bpos AS (SELECT
         |  ${fmixLateralSql("xor(CAST(k AS UBIGINT), salt)")},
         |  CAST((u >> 1) % 16128 AS BIGINT) AS p
         |  FROM stand, salts),
         |words AS (SELECT CAST(p // 63 AS INTEGER) AS word_idx,
         |    bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)) AS bits
         |  FROM bpos GROUP BY 1),
         |dpos AS (SELECT doc_id, k,
         |  ${fmixLateralSql("xor(CAST(k AS UBIGINT), salt)")},
         |  CAST((u >> 1) % 16128 AS BIGINT) AS p
         |  FROM delta, salts),
         |hit AS (SELECT doc_id, k,
         |    bool_and(COALESCE(
         |      (w.bits & (CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)))
         |        = (CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)), FALSE))
         |      AS bloom_hit
         |  FROM dpos LEFT JOIN words w ON w.word_idx = CAST(p // 63 AS INTEGER)
         |  GROUP BY doc_id, k)
         |SELECT h.doc_id, h.bloom_hit,
         |  (EXISTS (SELECT 1 FROM stand s WHERE s.k = h.k)) AS true_dup
         |FROM hit h""".stripMargin,

    // PPS keep rule u·W < w·2^64·k in HUGEINT; p_num/p_den is the exact
    // inclusion probability min(k·w, W)/W
    "q_pps_sample" ->
      s"""WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
         |t AS (SELECT lang, CAST(SUM(n_chars) AS HUGEINT) AS wtot FROM d
         |  GROUP BY lang),
         |m AS (SELECT doc_id, lang, n_chars,
         |  ${fmixLateralSql("CAST(doc_id AS UBIGINT)")}
         |  FROM d)
         |SELECT m.lang, m.doc_id, m.n_chars,
         |  CAST(least(CAST(m.n_chars AS HUGEINT) * 30, t.wtot) AS DECIMAL(38,0)) AS p_num,
         |  CAST(t.wtot AS DECIMAL(38,0)) AS p_den
         |FROM m JOIN t USING (lang)
         |WHERE CAST(m.u AS HUGEINT) * t.wtot
         |  < CAST(m.n_chars AS HUGEINT) * CAST('18446744073709551616' AS HUGEINT) * 30""".stripMargin,

    // strictly-preceding frame: the first turn's context is empty, not
    // NULL; list order is the window order (ts, turn_idx)
    "q_turn_context" ->
      s"""$T
         |SELECT conv_id, turn_idx, role,
         |  COALESCE(array_to_string(list(role || ': ' || COALESCE(text, ''))
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), chr(10)), '')
         |    AS context_text,
         |  CAST(COALESCE(len(list(role) OVER (PARTITION BY conv_id
         |    ORDER BY ts, turn_idx ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)), 0)
         |    AS BIGINT) AS context_turns
         |FROM turns""".stripMargin,

    // gaps-and-islands on (rn - rn_by_role), ordered string_agg per run,
    // dense re-index over the merged rows
    "q_merge_turns" ->
      s"""$T,
         |r AS (SELECT conv_id, turn_idx, role, text, ts,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
         |  - row_number() OVER (PARTITION BY conv_id, role ORDER BY ts, turn_idx)
         |    AS grp
         |  FROM turns),
         |g AS (SELECT conv_id, role, grp,
         |    min(ts) AS ts, CAST(min(turn_idx) AS INT) AS first_turn_idx,
         |    CAST(count(*) AS BIGINT) AS n_merged,
         |    string_agg(coalesce(text, ''), chr(10) ORDER BY ts, turn_idx) AS text
         |  FROM r GROUP BY 1, 2, 3)
         |SELECT conv_id,
         |  CAST(row_number() OVER (PARTITION BY conv_id
         |    ORDER BY ts, first_turn_idx) - 1 AS INT) AS merged_idx,
         |  role, text, ts, first_turn_idx, n_merged
         |FROM g""".stripMargin,

    // suffix token totals over a current-row-to-end frame (system rows
    // contribute 0), budget filter with the system bypass
    "q_ctx_window" ->
      s"""$T,
         |x AS (SELECT conv_id, turn_idx, role, text, ts,
         |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN role = 'system' THEN 0
         |        ELSE len(string_split(coalesce(text, ''), ' ')) END)
         |      OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |      AS BIGINT) AS tail_tokens
         |  FROM turns)
         |SELECT conv_id, turn_idx, role, text, ts, n_tokens, tail_tokens
         |FROM x WHERE role = 'system' OR tail_tokens <= 64""".stripMargin,

    // the four stages replayed in sequence: islands merge, suffix trim,
    // ordered string_agg render (tool null by construction), exclusive
    // cumsum packing in numeric conversation order
    "q_sft_pipeline" ->
      s"""$T,
         |r AS (SELECT conv_id, turn_idx, role, text, ts,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
         |  - row_number() OVER (PARTITION BY conv_id, role ORDER BY ts, turn_idx)
         |    AS grp
         |  FROM turns),
         |g AS (SELECT conv_id, role, grp, min(ts) AS ts,
         |    CAST(min(turn_idx) AS INT) AS first_turn_idx,
         |    string_agg(coalesce(text, ''), chr(10) ORDER BY ts, turn_idx) AS text
         |  FROM r GROUP BY 1, 2, 3),
         |m AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, first_turn_idx) - 1 AS INT) AS turn_idx,
         |    role, text, ts
         |  FROM g),
         |x AS (SELECT conv_id, turn_idx, role, text, ts,
         |    CAST(sum(CASE WHEN role = 'system' THEN 0
         |        ELSE len(string_split(coalesce(text, ''), ' ')) END)
         |      OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |      AS BIGINT) AS tail_tokens
         |  FROM m),
         |k AS (SELECT conv_id, turn_idx, role, text, ts FROM x
         |  WHERE role = 'system' OR tail_tokens <= 64),
         |lines AS (SELECT conv_id, ts, turn_idx,
         |    role || ': ' || COALESCE(text, '') AS line FROM k),
         |rr AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         |    string_agg(line, chr(10) ORDER BY ts, turn_idx) AS sft_text
         |  FROM lines GROUP BY conv_id),
         |p AS (SELECT conv_id, n_turns,
         |    CAST(length(sft_text) AS BIGINT) AS n_chars,
         |    CAST(len(string_split(sft_text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(substr(conv_id, 2) AS BIGINT) AS ord
         |  FROM rr)
         |SELECT conv_id, n_turns, n_chars, n_tokens,
         |  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (ORDER BY ord
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
         |    AS BIGINT) AS shard_seq
         |FROM p""".stripMargin,

    // bounded-state dedup where every duplicate arrives within its
    // original's watermark lifetime ⇒ output is exact first-wins dedup;
    // arrival is (hash, doc_id)-sorted so "first" = min(doc_id)
    "q_stream_dedup_wm" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 3 = 0),
        |h AS (SELECT doc_id, md5(text) AS hash FROM u)
        |SELECT min(doc_id) AS doc_id, hash FROM h GROUP BY hash""".stripMargin,

    // both medians replayed with the identical rank arithmetic as the
    // exact-quantile oracles; the flag is the same integer cross-multiply
    "q_mad_outliers" ->
      """WITH r AS (SELECT lang, doc_id, n_chars AS v,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |med AS (SELECT lang,
        |    max(CASE WHEN rn*10000 >= 5000*n AND (rn-1)*10000 < 5000*n
        |      THEN v END) AS med
        |  FROM r GROUP BY lang),
        |d AS (SELECT r.lang, r.doc_id, r.v, med.med, abs(r.v - med.med) AS adev
        |  FROM r JOIN med USING (lang)),
        |r2 AS (SELECT *,
        |    row_number() OVER (PARTITION BY lang ORDER BY adev, doc_id) AS rn2,
        |    count(*) OVER (PARTITION BY lang) AS n2
        |  FROM d),
        |mad AS (SELECT lang,
        |    max(CASE WHEN rn2*10000 >= 5000*n2 AND (rn2-1)*10000 < 5000*n2
        |      THEN adev END) AS mad
        |  FROM r2 GROUP BY lang)
        |SELECT d.lang, d.doc_id, d.v, d.med, mad.mad, d.adev AS abs_dev,
        |  (d.adev * 10000 > 30000 * mad.mad) AS is_outlier
        |FROM d JOIN mad USING (lang)""".stripMargin,

    // exact p5/p95 rank selection, then the clamp
    "q_winsorize" ->
      """WITH r AS (SELECT lang, doc_id, n_chars AS v,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |b AS (SELECT lang,
        |    max(CASE WHEN rn*10000 >= 500*n AND (rn-1)*10000 < 500*n
        |      THEN v END) AS lo,
        |    max(CASE WHEN rn*10000 >= 9500*n AND (rn-1)*10000 < 9500*n
        |      THEN v END) AS hi
        |  FROM r GROUP BY lang)
        |SELECT r.lang, r.doc_id, r.v, b.lo, b.hi,
        |  least(greatest(r.v, b.lo), b.hi) AS v_clipped,
        |  (r.v < b.lo OR r.v > b.hi) AS was_clipped
        |FROM r JOIN b USING (lang)""".stripMargin,

    // bucket = unpadded-bin() bitlength (the HLL rho idiom), counts
    // summed per (lang, bucket) — the split-then-merge on the engine side
    // is invisible to the oracle because counter merge IS addition —
    // then the same division-free rank pick over ≤ 65 bucket rows
    "q_loghist" ->
      """WITH b AS (SELECT lang,
        |    CASE WHEN n_chars = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(length(bin(n_chars)) AS BIGINT) END AS bucket
        |  FROM documents),
        |h AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY 1, 2),
        |c AS (SELECT lang, bucket, cnt,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY lang) AS n
        |  FROM h),
        |p AS (SELECT lang, CAST(max(n) AS BIGINT) AS n,
        |    max(CASE WHEN cum*10000 >= 5000*n AND (cum-cnt)*10000 < 5000*n
        |      THEN bucket END) AS b5000,
        |    max(CASE WHEN cum*10000 >= 9900*n AND (cum-cnt)*10000 < 9900*n
        |      THEN bucket END) AS b9900
        |  FROM c GROUP BY lang)
        |SELECT lang, n,
        |  CAST(CASE WHEN b5000 = 0 THEN 0
        |    ELSE CAST(1 AS BIGINT) << CAST(b5000 - 1 AS INTEGER) END
        |    AS BIGINT) AS q5000_lo,
        |  CAST(CASE WHEN b5000 = 0 THEN 0
        |    ELSE (CAST(1 AS BIGINT) << CAST(b5000 AS INTEGER)) - 1 END
        |    AS BIGINT) AS q5000_hi,
        |  CAST(CASE WHEN b9900 = 0 THEN 0
        |    ELSE CAST(1 AS BIGINT) << CAST(b9900 - 1 AS INTEGER) END
        |    AS BIGINT) AS q9900_lo,
        |  CAST(CASE WHEN b9900 = 0 THEN 0
        |    ELSE (CAST(1 AS BIGINT) << CAST(b9900 AS INTEGER)) - 1 END
        |    AS BIGINT) AS q9900_hi
        |FROM p""".stripMargin,

    // the oracle is the UNPRUNED as-of over the same anchor subset —
    // Bloom pruning is correct iff it changes nothing
    "q_bloom_prune" ->
      s"""$T,
         |a AS (SELECT conv_id, turn_idx, ts FROM turns
         |  WHERE role = 'assistant'
         |    AND CAST('0x' || substr(md5(conv_id), 1, 15) AS BIGINT) % 4 = 0),
         |obs AS (SELECT conv_id, ts, max_by(tool, turn_idx) AS last_tool
         |        FROM turns WHERE tool IS NOT NULL GROUP BY conv_id, ts)
         |SELECT a.conv_id, a.turn_idx,
         |  (SELECT o.last_tool FROM obs o
         |   WHERE o.conv_id = a.conv_id AND o.ts <= a.ts
         |   ORDER BY o.ts DESC LIMIT 1) AS last_tool
         |FROM a""".stripMargin,

    // the live CMS must land counter-for-counter on the batch counters
    // (same probe geometry as q_cms_freq's oracle)
    "q_stream_cms" ->
      s"""WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word
         |  FROM documents WHERE text IS NOT NULL),
         |w2 AS (SELECT CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS k
         |  FROM w WHERE word <> ''),
         |salts(row_idx, salt) AS (VALUES ${(0 until 3).map(j =>
             s"($j, CAST(${java.lang.Long.toUnsignedString(
               j.toLong * graft.exprs.BloomImpl.Phi)} AS UBIGINT))")
             .mkString(", ")}),
         |pos AS (SELECT row_idx,
         |  ${fmixLateralSql("xor(CAST(k AS UBIGINT), salt)")},
         |  CAST((u >> 1) % 32 AS BIGINT) AS counter_idx
         |  FROM w2, salts)
         |SELECT row_idx, counter_idx, CAST(count(*) AS BIGINT) AS cnt
         |FROM pos GROUP BY 1, 2""".stripMargin,

    // ROUND + HUGEINT sums replay the quantized Gram exactly; range() is
    // 0-based to match the expression's dimension indexes
    "q_gram_stats" ->
      """WITH q AS (SELECT
        |    [CAST(ROUND(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding]
        |      AS qv
        |  FROM embeddings),
        |p AS (SELECT CAST(r1.range AS INTEGER) AS i,
        |    CAST(r2.range AS INTEGER) AS j, qv
        |  FROM q, range(0, 64) r1, range(0, 64) r2
        |  WHERE r2.range >= r1.range)
        |SELECT i, j, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(qv[i+1] AS HUGEINT)) AS DECIMAL(38,0)) AS s_i,
        |  CAST(sum(CAST(qv[j+1] AS HUGEINT)) AS DECIMAL(38,0)) AS s_j,
        |  CAST(sum(CAST(qv[i+1] AS HUGEINT) * CAST(qv[j+1] AS HUGEINT))
        |    AS DECIMAL(38,0)) AS s_ij
        |FROM p GROUP BY i, j""".stripMargin,

    // distinct word sets via list comprehension, the same cross-multiply
    // boundary rule, running boundary count in the (ts, turn_idx) order
    "q_topic_segments" ->
      s"""$T,
         |w AS (SELECT conv_id, turn_idx, ts,
         |  list_distinct([x for x in string_split(lower(COALESCE(text, '')), ' ')
         |    if x <> '']) AS ws
         |  FROM turns),
         |l AS (SELECT conv_id, turn_idx, ts, ws,
         |  lag(ws) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
         |  FROM w),
         |b AS (SELECT conv_id, turn_idx, ts,
         |  CASE WHEN prev IS NULL THEN TRUE
         |       ELSE len(list_intersect(ws, prev)) * 10000
         |            < 2000 * len(list_distinct(list_concat(ws, prev))) END
         |    AS is_boundary
         |  FROM l)
         |SELECT conv_id, turn_idx, is_boundary,
         |  CAST(sum(CASE WHEN is_boundary THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS segment_id
         |FROM b""".stripMargin,

    // count(DISTINCT) excludes NULLs in both engines — the documented rule
    "q_ldiversity" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT n_chars) AS BIGINT) AS diversity,
        |  count(DISTINCT n_chars) >= 5 AS meets_l
        |FROM documents GROUP BY lang, source""".stripMargin,

    // 0-based rank -> exact phase floor(rank·10/n), bucket sums, cumsums
    "q_lorenz" ->
      """WITH r AS (SELECT n_chars AS v,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
        |    count(*) OVER () AS n
        |  FROM documents),
        |b AS (SELECT CAST((rk * 10) // n AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(v) AS BIGINT) AS mass
        |  FROM r GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
        |    CAST(sum(mass) AS BIGINT) AS total_mass FROM b)
        |SELECT b.bucket, b.n_docs, b.mass,
        |  CAST(sum(b.n_docs) OVER (ORDER BY b.bucket) AS BIGINT) AS cum_docs,
        |  CAST(sum(b.mass) OVER (ORDER BY b.bucket) AS BIGINT) AS cum_mass,
        |  t.total_docs, t.total_mass
        |FROM b CROSS JOIN t""".stripMargin,

    // ranked closed form: G = (2·Σ i·x − (n+1)·Σx) / (n·Σx)
    "q_gini" ->
      """WITH r AS (SELECT n_chars AS v,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS i,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(v) AS BIGINT) AS total,
        |  CAST(2 * sum(CAST(i AS HUGEINT) * v)
        |    - (max(n) + 1) * sum(CAST(v AS HUGEINT)) AS BIGINT) AS gini_num,
        |  CAST(max(n) * sum(CAST(v AS HUGEINT)) AS BIGINT) AS gini_den
        |FROM r""".stripMargin,

    // gate replay (q_sample_mix's fmix64 chain), rank-ceil cut lookup
    // on the reference split, then the when-sum as CASE additions
    "q_bin_apply" ->
      """WITH x0 AS (SELECT doc_id, n_chars,
        |    xor(CAST(doc_id AS UBIGINT), CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM documents),
        |x1 AS (SELECT doc_id, n_chars, xor(x, x >> 33) AS x FROM x0),
        |x2 AS (SELECT doc_id, n_chars, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x1),
        |x3 AS (SELECT doc_id, n_chars, xor(x, x >> 33) AS x FROM x2),
        |x4 AS (SELECT doc_id, n_chars, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x3),
        |g AS (SELECT doc_id, n_chars,
        |    CAST((xor(x, x >> 33) >> 20) % 10000 AS BIGINT) AS gate_bp
        |  FROM x4),
        |r AS (SELECT n_chars AS v, doc_id,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM g WHERE gate_bp < 8000),
        |c1 AS (SELECT v FROM r WHERE rn = (2500 * n + 9999) // 10000),
        |c2 AS (SELECT v FROM r WHERE rn = (5000 * n + 9999) // 10000),
        |c3 AS (SELECT v FROM r WHERE rn = (7500 * n + 9999) // 10000)
        |SELECT doc_id, n_chars, gate_bp < 8000 AS in_ref,
        |  CAST(CASE WHEN n_chars >= (SELECT v FROM c1) THEN 1 ELSE 0 END
        |    + CASE WHEN n_chars >= (SELECT v FROM c2) THEN 1 ELSE 0 END
        |    + CASE WHEN n_chars >= (SELECT v FROM c3) THEN 1 ELSE 0 END
        |    AS BIGINT) AS bin
        |FROM g""".stripMargin,

    // ordered-EMD replay: dense (combo × bucket) grid, per-side cumsums,
    // |cumC·N − cumG·N_q| summed in HUGEINT, den = N_q·N·(m−1)
    "q_tcloseness" ->
      """WITH b AS (SELECT lang, source, n_chars // 100 AS v FROM documents),
        |cell AS (SELECT lang, source, v, count(*) AS c FROM b GROUP BY 1,2,3),
        |g AS (SELECT v, count(*) AS gv FROM b GROUP BY 1),
        |gc AS (SELECT v, sum(gv) OVER (ORDER BY v) AS cumg FROM g),
        |tot AS (SELECT count(*) AS N, count(DISTINCT v) AS m FROM b),
        |grp AS (SELECT lang, source, count(*) AS nq FROM b GROUP BY 1,2),
        |grid AS (SELECT grp.lang, grp.source, grp.nq, gc.v, gc.cumg, tot.N, tot.m
        |  FROM grp CROSS JOIN gc CROSS JOIN tot),
        |j AS (SELECT grid.*, COALESCE(cell.c, 0) AS c FROM grid
        |  LEFT JOIN cell ON cell.lang = grid.lang
        |    AND cell.source = grid.source AND cell.v = grid.v),
        |cum AS (SELECT lang, source, nq, N, m, v, cumg,
        |    sum(c) OVER (PARTITION BY lang, source ORDER BY v) AS cumc
        |  FROM j)
        |SELECT lang, source, CAST(max(nq) AS BIGINT) AS n,
        |  CAST(sum(abs(CAST(cumc AS HUGEINT) * N
        |      - CAST(cumg AS HUGEINT) * nq)) AS BIGINT) AS emd_num,
        |  CAST(max(CAST(nq AS HUGEINT) * N * greatest(m - 1, 1)) AS BIGINT)
        |    AS emd_den,
        |  sum(abs(CAST(cumc AS HUGEINT) * N - CAST(cumg AS HUGEINT) * nq))
        |      * 10000
        |    <= 2500 * max(CAST(nq AS HUGEINT) * N * greatest(m - 1, 1))
        |    AS meets_t
        |FROM cum GROUP BY lang, source""".stripMargin,

    // per-group ranks by one window, then the exact ceil-scaled rank
    // lookup into the reference group's (rank -> value) table
    "q_quantile_norm" ->
      """WITH r AS (SELECT lang, doc_id, n_chars AS v,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |ref AS (SELECT rn AS rref, v AS vref FROM r WHERE lang = 'en'),
        |refn AS (SELECT count(*) AS nref FROM documents WHERE lang = 'en'),
        |t AS (SELECT r.*,
        |    CAST((CAST(r.rn AS HUGEINT) * refn.nref + r.n - 1) // r.n
        |      AS BIGINT) AS rt
        |  FROM r, refn)
        |SELECT t.lang, t.doc_id, t.v, CAST(t.rn AS BIGINT) AS rank,
        |  CAST(t.n AS BIGINT) AS n, ref.vref AS v_norm
        |FROM t JOIN ref ON t.rt = ref.rref""".stripMargin,

    // the live latest-wins view must equal the batch CDC merge
    "q_stream_cdc" ->
      """WITH feed AS (SELECT user_id, ts, event_id, event_type, value,
        |    CASE WHEN event_type = 'error' AND ts >= TIMESTAMP '2024-01-16'
        |         THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM feed)
        |SELECT user_id, ts, event_id, event_type, value, op
        |FROM r WHERE rn = 1 AND op = 'u'""".stripMargin,

    // the multiset digest replayed digit-by-digit: canonical string →
    // md5 prefix as u64 (8+8 hex halves) → sum mod 2^64 per source, on
    // both the original and the perturbed replica
    "q_dataset_digest" ->
      s"""WITH ca AS (SELECT source,
         |    md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), lang,
         |      CAST(n_chars AS VARCHAR), COALESCE(text, ' '))) AS h
         |  FROM documents),
         |ua AS (SELECT source, ${hexU64Sql("h")} AS u FROM ca),
         |da AS (SELECT source, count(*) AS n_rows,
         |    CAST(sum(u) % CAST('18446744073709551616' AS HUGEINT)
         |      AS DECIMAL(38,0)) AS digest
         |  FROM ua GROUP BY source),
         |repl AS (SELECT doc_id,
         |    CASE WHEN doc_id % 1009 = 500 THEN text || '~' ELSE text END
         |      AS text, lang, source, n_chars
         |  FROM documents WHERE doc_id % 997 <> 0),
         |cb AS (SELECT source,
         |    md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), lang,
         |      CAST(n_chars AS VARCHAR), COALESCE(text, ' '))) AS h
         |  FROM repl),
         |ub AS (SELECT source, ${hexU64Sql("h")} AS u FROM cb),
         |db AS (SELECT source, count(*) AS n_rows_b,
         |    CAST(sum(u) % CAST('18446744073709551616' AS HUGEINT)
         |      AS DECIMAL(38,0)) AS digest_b
         |  FROM ub GROUP BY source)
         |SELECT source, n_rows, digest, n_rows_b, digest_b,
         |  (n_rows IS NOT DISTINCT FROM n_rows_b
         |    AND digest IS NOT DISTINCT FROM digest_b) AS replica_ok
         |FROM da FULL JOIN db USING (source)""".stripMargin,

    // per-key count products ARE the exact join size; top-10 by pairs
    "q_join_size" ->
      """WITH la AS (SELECT l_partkey AS key, count(*) AS n_left
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |rb AS (SELECT l_partkey AS key, count(*) AS n_right
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |pk AS (SELECT key, n_left, n_right,
        |    CAST(n_left AS HUGEINT) * n_right AS pairs
        |  FROM la JOIN rb USING (key)),
        |t AS (SELECT sum(pairs) AS total_pairs, count(*) AS n_join_keys
        |  FROM pk)
        |SELECT key, n_left, n_right, CAST(pairs AS DECIMAL(38,0)) AS pairs,
        |  CAST(t.total_pairs AS DECIMAL(38,0)) AS total_pairs,
        |  t.n_join_keys,
        |  CAST((pairs * 10000) // t.total_pairs AS BIGINT) AS share_bp
        |FROM pk, t ORDER BY pairs DESC, key ASC LIMIT 10""".stripMargin,

    // exact integer moments → one IEEE sqrt → floored allocation →
    // fmix-gate sampled counts
    "q_neyman" ->
      """WITH m AS (SELECT lang, count(*) AS n_avail,
        |    sum(CAST(n_chars AS HUGEINT)) AS s1,
        |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS s2
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_avail,
        |    CAST(FLOOR(SQRT(CAST(n_avail * s2 - s1 * s1 AS DOUBLE)))
        |      AS BIGINT) AS w_nsigma
        |  FROM m),
        |t AS (SELECT sum(w_nsigma) AS totw FROM w),
        |p AS (SELECT lang, n_avail, w_nsigma,
        |    CASE WHEN t.totw = 0 THEN 0
        |         ELSE LEAST(n_avail, CAST((CAST(300 AS HUGEINT) * w_nsigma)
        |           // t.totw AS BIGINT)) END AS alloc
        |  FROM w, t),
        |pr AS (SELECT *, (alloc * 10000) // n_avail AS rate_bp FROM p),
        |x0 AS (SELECT doc_id, lang,
        |    xor(CAST(doc_id AS UBIGINT), CAST(11400714819323198485 AS UBIGINT)) AS x
        |  FROM documents),
        |x1 AS (SELECT doc_id, lang, xor(x, x >> 33) AS x FROM x0),
        |x2 AS (SELECT doc_id, lang, CAST((
        |        (((x >> 32)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(18397679294719823053 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x1),
        |x3 AS (SELECT doc_id, lang, xor(x, x >> 33) AS x FROM x2),
        |x4 AS (SELECT doc_id, lang, CAST((
        |        (((x >> 32)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)) % 4294967296) * 4294967296
        |        + (x & 4294967295)::HUGEINT * CAST(14181476777654086739 AS HUGEINT)
        |      ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM x3),
        |g AS (SELECT doc_id, lang,
        |    CAST((xor(x, x >> 33) >> 20) % 10000 AS BIGINT) AS gate_bp
        |  FROM x4),
        |sc AS (SELECT g.lang, count(*) AS n_sampled
        |  FROM g JOIN pr ON g.lang = pr.lang
        |  WHERE g.gate_bp < pr.rate_bp GROUP BY g.lang)
        |SELECT pr.lang, pr.n_avail, pr.w_nsigma, pr.alloc,
        |  CAST(pr.rate_bp AS BIGINT) AS rate_bp,
        |  COALESCE(sc.n_sampled, 0) AS n_sampled
        |FROM pr LEFT JOIN sc ON pr.lang = sc.lang""".stripMargin,

    // the same hash-chosen forest walked upward by a recursive CTE: the
    // deepest walk row per turn carries the root and the full path
    "q_thread_paths" ->
      s"""${T.replace("WITH turns", "WITH RECURSIVE turns")},
         |ids AS (SELECT conv_id, turn_idx,
         |    CAST(substr(conv_id, 2) AS BIGINT) * 1048576 + turn_idx AS id64
         |  FROM turns),
         |gx AS (SELECT conv_id, turn_idx,
         |  ${fmixLateralSql("CAST(id64 AS UBIGINT)")}
         |  FROM ids),
         |par AS (SELECT conv_id, turn_idx,
         |    CASE WHEN turn_idx = 0 THEN NULL
         |         ELSE CAST(CAST((u >> 20) % 10000 AS BIGINT) % turn_idx
         |           AS INT) END AS parent
         |  FROM gx),
         |walk AS (
         |  SELECT conv_id, turn_idx, parent AS cur, 1 AS depth,
         |      '/' || CAST(parent AS VARCHAR) AS path
         |    FROM par WHERE parent IS NOT NULL
         |  UNION ALL
         |  SELECT w.conv_id, w.turn_idx, p.parent, w.depth + 1,
         |      w.path || '/' || CAST(p.parent AS VARCHAR)
         |    FROM walk w JOIN par p
         |      ON p.conv_id = w.conv_id AND p.turn_idx = w.cur
         |    WHERE p.parent IS NOT NULL),
         |fw AS (SELECT conv_id, turn_idx, cur, depth, path,
         |    row_number() OVER (PARTITION BY conv_id, turn_idx
         |      ORDER BY depth DESC) AS rn
         |  FROM walk)
         |SELECT conv_id, turn_idx, CAST(cur AS INT) AS root_idx,
         |  CAST(depth AS BIGINT) AS depth, path
         |FROM fw WHERE rn = 1
         |UNION ALL
         |SELECT conv_id, turn_idx, turn_idx AS root_idx,
         |  CAST(0 AS BIGINT) AS depth, '' AS path
         |FROM par WHERE parent IS NULL""".stripMargin,

    // the walk's deepest row carries each node's child-to-root path; the
    // DFS key is its reverse plus the node itself, each component
    // zero-padded, ranked by a per-conversation window
    "q_tree_order" ->
      s"""${T.replace("WITH turns", "WITH RECURSIVE turns")},
         |ids AS (SELECT conv_id, turn_idx,
         |    CAST(substr(conv_id, 2) AS BIGINT) * 1048576 + turn_idx AS id64
         |  FROM turns),
         |gx AS (SELECT conv_id, turn_idx,
         |  ${fmixLateralSql("CAST(id64 AS UBIGINT)")}
         |  FROM ids),
         |par AS (SELECT conv_id, turn_idx,
         |    CASE WHEN turn_idx = 0 THEN NULL
         |         ELSE CAST(CAST((u >> 20) % 10000 AS BIGINT) % turn_idx
         |           AS INT) END AS parent
         |  FROM gx),
         |walk AS (
         |  SELECT conv_id, turn_idx, parent AS cur, 1 AS depth,
         |      '/' || CAST(parent AS VARCHAR) AS path
         |    FROM par WHERE parent IS NOT NULL
         |  UNION ALL
         |  SELECT w.conv_id, w.turn_idx, p.parent, w.depth + 1,
         |      w.path || '/' || CAST(p.parent AS VARCHAR)
         |    FROM walk w JOIN par p
         |      ON p.conv_id = w.conv_id AND p.turn_idx = w.cur
         |    WHERE p.parent IS NOT NULL),
         |fw AS (SELECT conv_id, turn_idx, depth, path,
         |    row_number() OVER (PARTITION BY conv_id, turn_idx
         |      ORDER BY depth DESC) AS rn
         |  FROM walk),
         |allp AS (
         |  SELECT conv_id, turn_idx, CAST(depth AS BIGINT) AS depth, path
         |    FROM fw WHERE rn = 1
         |  UNION ALL
         |  SELECT conv_id, turn_idx, CAST(0 AS BIGINT) AS depth, ''
         |    FROM par WHERE parent IS NULL),
         |k AS (SELECT conv_id, turn_idx, depth,
         |    array_to_string(list_transform(
         |      list_append(
         |        list_reverse(list_filter(string_split(path, '/'),
         |          x -> x <> '')),
         |        CAST(turn_idx AS VARCHAR)),
         |      x -> lpad(x, 7, '0')), '/') AS key
         |  FROM allp)
         |SELECT conv_id, turn_idx, depth,
         |  CAST(row_number() OVER (PARTITION BY conv_id ORDER BY key)
         |    - 1 AS BIGINT) AS dfs_pos
         |FROM k""".stripMargin,

    // stepped half-life weights replayed in integer shifts
    "q_decay_agg" ->
      s"""$T,
         |a AS (SELECT max(ts) AS anchor FROM turns),
         |aged AS (SELECT conv_id,
         |    CAST(FLOOR(epoch(a.anchor)) AS BIGINT)
         |      - CAST(FLOOR(epoch(ts)) AS BIGINT) AS age,
         |    COALESCE(length(text), 0) AS v
         |  FROM turns, a WHERE ts <= a.anchor),
         |w AS (SELECT conv_id, v,
         |    1048576 >> LEAST(age // 86400, 40) AS wt FROM aged)
         |SELECT conv_id, count(*) AS n_past,
         |  CAST(sum(CAST(v AS HUGEINT) * wt) AS DECIMAL(38,0))
         |    AS decayed_chars
         |FROM w GROUP BY conv_id""".stripMargin,

    // the naive per-group window the two-phase selection must equal
    "q_top_per_group" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rank
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, rank FROM r WHERE rank <= 3""".stripMargin,

    // blocked candidates + integer agreement weights, replayed verbatim
    "q_record_link" ->
      """WITH base AS (SELECT c_custkey, c_nationkey AS nk,
        |    substr(c_name, length(c_name) - 1, 2) AS sfx,
        |    lower(c_name) AS name, c_mktsegment,
        |    CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |a AS (SELECT c_custkey AS a_id, nk, sfx, name AS a_name,
        |    c_mktsegment AS a_seg, cents AS a_cents FROM base),
        |b AS (SELECT c_custkey + 1000000 AS b_id, nk, sfx, name AS b_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN'
        |         ELSE c_mktsegment END AS b_seg,
        |    cents + CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END AS b_cents
        |  FROM base),
        |s AS (SELECT a_id, b_id,
        |    (a_name = b_name) AS agree_name,
        |    (a_seg = b_seg) AS agree_seg,
        |    (a_cents = b_cents) AS agree_bal,
        |    (CASE WHEN a_name = b_name THEN 2200 ELSE -2000 END
        |     + CASE WHEN a_seg = b_seg THEN 1500 ELSE -600 END
        |     + CASE WHEN a_cents = b_cents THEN 1800 ELSE -700 END)
        |      AS score_bp
        |  FROM a JOIN b USING (nk, sfx))
        |SELECT a_id, b_id, agree_name, agree_seg, agree_bal,
        |  CAST(score_bp AS BIGINT) AS score_bp
        |FROM s WHERE score_bp >= 2500""".stripMargin,

    // daily counts → exact moment sums → rational slope
    "q_trend_slope" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS n,
        |    sum(CAST(day AS HUGEINT)) AS sx,
        |    sum(CAST(n_events AS HUGEINT)) AS sy,
        |    sum(CAST(day AS HUGEINT) * n_events) AS sxy,
        |    sum(CAST(day AS HUGEINT) * day) AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS slope_num,
        |  CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS slope_den
        |FROM m""".stripMargin,

    // distinct-value cumulative counts → max cross-product CDF gap
    "q_ks_drift" ->
      """WITH f AS (SELECT n_chars AS v, (lang = 'en') AS a
        |  FROM documents WHERE lang IN ('en', 'zh')),
        |c AS (SELECT v,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
        |  FROM f GROUP BY v),
        |cum AS (SELECT v,
        |    sum(ca) OVER (ORDER BY v) AS cuma,
        |    sum(cb) OVER (ORDER BY v) AS cumb FROM c),
        |t AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b FROM c),
        |g AS (SELECT v,
        |    abs(CAST(cuma AS HUGEINT) * t.n_b
        |      - CAST(cumb AS HUGEINT) * t.n_a) AS gap,
        |    t.n_a, t.n_b FROM cum, t),
        |mx AS (SELECT max(gap) AS ksn FROM g)
        |SELECT CAST(g.n_a AS BIGINT) AS n_a, CAST(g.n_b AS BIGINT) AS n_b,
        |  CAST(mx.ksn AS DECIMAL(38,0)) AS ks_num, min(g.v) AS at_value
        |FROM g, mx WHERE g.gap = mx.ksn GROUP BY 1, 2, 3""".stripMargin,

    // per-feed k-min sketches from the true distinct sets, then the
    // union-k estimator per pair
    "q_source_overlap" ->
      s"""WITH d AS (SELECT DISTINCT event_type, user_id FROM events
         |  WHERE user_id IS NOT NULL),
         |m AS (SELECT event_type,
         |  ${fmixLateralSql("CAST(user_id AS UBIGINT)")}
         |  FROM d),
         |r AS (SELECT event_type, u,
         |  row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
         |  FROM m),
         |sk AS (SELECT event_type, u FROM r WHERE rn <= 128),
         |skn AS (SELECT event_type, count(*) AS k_g FROM sk GROUP BY 1),
         |-- n_ids mirrors kmvSketch: non-null ROWS, not distinct ids
         |n AS (SELECT event_type, count(user_id) AS n_ids FROM events
         |  GROUP BY 1),
         |p AS (SELECT na.event_type AS src_a, nb.event_type AS src_b,
         |    na.n_ids AS n_a, nb.n_ids AS n_b
         |  FROM n na JOIN n nb ON na.event_type < nb.event_type),
         |uni AS (SELECT p.src_a, p.src_b, s.u,
         |    max(CASE WHEN s.event_type = p.src_a THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN s.event_type = p.src_b THEN 1 ELSE 0 END) AS in_b
         |  FROM p JOIN sk s ON s.event_type IN (p.src_a, p.src_b)
         |  GROUP BY 1, 2, 3),
         |rk AS (SELECT src_a, src_b, u, in_a, in_b,
         |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY u) AS rn
         |  FROM uni),
         |x AS (SELECT src_a, src_b, count(*) AS k_used,
         |    sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
         |      AS n_common
         |  FROM rk WHERE rn <= 128 GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, p.n_a, p.n_b,
         |  CAST(x.k_used AS INT) AS k_used, CAST(x.n_common AS INT)
         |    AS n_common,
         |  CASE WHEN x.k_used = 0 THEN 0
         |       ELSE CAST((x.n_common * 10000) // x.k_used AS BIGINT) END
         |    AS jaccard_bp,
         |  (ka.k_g < 128 AND kb.k_g < 128) AS exact
         |FROM p JOIN x ON p.src_a = x.src_a AND p.src_b = x.src_b
         |JOIN skn ka ON ka.event_type = p.src_a
         |JOIN skn kb ON kb.event_type = p.src_b""".stripMargin,

    // signature components + nested band splits + exact Jaccard truth,
    // one stats row per config
    "q_lsh_curve" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |shl AS (SELECT doc_id, list_distinct(
        |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |     for i in range(1, greatest(len(ws)-2, 0)+1)]) AS s
        |  FROM w WHERE len(ws) >= 3),
        |sh AS (SELECT doc_id,
        |  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, greatest(len(ws)-2, 0)+1)] AS sh
        |  FROM w WHERE len(ws) >= 3),
        |sig AS (SELECT doc_id,
        |  list_min([substr(md5('0|' || s), 1, 8) for s in sh]) AS s0,
        |  list_min([substr(md5('0|' || s), 9, 8) for s in sh]) AS s1,
        |  list_min([substr(md5('0|' || s), 17, 8) for s in sh]) AS s2,
        |  list_min([substr(md5('0|' || s), 25, 8) for s in sh]) AS s3,
        |  list_min([substr(md5('1|' || s), 1, 8) for s in sh]) AS s4,
        |  list_min([substr(md5('1|' || s), 9, 8) for s in sh]) AS s5,
        |  list_min([substr(md5('1|' || s), 17, 8) for s in sh]) AS s6,
        |  list_min([substr(md5('1|' || s), 25, 8) for s in sh]) AS s7
        |  FROM sh),
        |e AS (SELECT doc_id, unnest(s) AS tok FROM shl),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY doc_id),
        |i AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
        |  FROM e a JOIN e b USING (tok) WHERE a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |truth AS (SELECT i.a, i.b
        |  FROM i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
        |  WHERE i.inter * 10000 >= 5000 * (sa.n + sb.n - i.inter)),
        |tn AS (SELECT count(*) AS n_truth FROM truth),
        |b1 AS (SELECT doc_id, md5(s0||','||s1||','||s2||','||s3||','||s4||','||s5||','||s6||','||s7) AS bk FROM sig),
        |c1 AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM b1 l JOIN b1 r ON l.bk = r.bk AND l.doc_id < r.doc_id),
        |b2 AS (SELECT doc_id, 0 AS bi, md5(s0||','||s1||','||s2||','||s3) AS bk FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s4||','||s5||','||s6||','||s7) FROM sig),
        |c2 AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM b2 l JOIN b2 r ON l.bi = r.bi AND l.bk = r.bk AND l.doc_id < r.doc_id),
        |b4 AS (SELECT doc_id, 0 AS bi, md5(s0||','||s1) AS bk FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s2||','||s3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(s4||','||s5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(s6||','||s7) FROM sig),
        |c4 AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM b4 l JOIN b4 r ON l.bi = r.bi AND l.bk = r.bk AND l.doc_id < r.doc_id),
        |b8 AS (SELECT doc_id, 0 AS bi, md5(s0) AS bk FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s1) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(s2) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(s3) FROM sig
        |  UNION ALL SELECT doc_id, 4, md5(s4) FROM sig
        |  UNION ALL SELECT doc_id, 5, md5(s5) FROM sig
        |  UNION ALL SELECT doc_id, 6, md5(s6) FROM sig
        |  UNION ALL SELECT doc_id, 7, md5(s7) FROM sig),
        |c8 AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM b8 l JOIN b8 r ON l.bi = r.bi AND l.bk = r.bk AND l.doc_id < r.doc_id),
        |s1c AS (SELECT count(*) AS nc, CAST(COALESCE(sum(CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nt
        |  FROM c1 LEFT JOIN truth t USING (a, b)),
        |s2c AS (SELECT count(*) AS nc, CAST(COALESCE(sum(CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nt
        |  FROM c2 LEFT JOIN truth t USING (a, b)),
        |s4c AS (SELECT count(*) AS nc, CAST(COALESCE(sum(CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nt
        |  FROM c4 LEFT JOIN truth t USING (a, b)),
        |s8c AS (SELECT count(*) AS nc, CAST(COALESCE(sum(CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nt
        |  FROM c8 LEFT JOIN truth t USING (a, b))
        |SELECT 1 AS bands, 8 AS rows_per_band, nc AS n_candidates, nt AS n_true, tn.n_truth,
        |  CASE WHEN tn.n_truth = 0 THEN 0 ELSE CAST((nt * 10000) // tn.n_truth AS BIGINT) END AS recall_bp,
        |  CASE WHEN nc = 0 THEN 0 ELSE CAST((nt * 10000) // nc AS BIGINT) END AS precision_bp
        |FROM s1c, tn
        |UNION ALL SELECT 2, 4, nc, nt, tn.n_truth,
        |  CASE WHEN tn.n_truth = 0 THEN 0 ELSE CAST((nt * 10000) // tn.n_truth AS BIGINT) END,
        |  CASE WHEN nc = 0 THEN 0 ELSE CAST((nt * 10000) // nc AS BIGINT) END
        |FROM s2c, tn
        |UNION ALL SELECT 4, 2, nc, nt, tn.n_truth,
        |  CASE WHEN tn.n_truth = 0 THEN 0 ELSE CAST((nt * 10000) // tn.n_truth AS BIGINT) END,
        |  CASE WHEN nc = 0 THEN 0 ELSE CAST((nt * 10000) // nc AS BIGINT) END
        |FROM s4c, tn
        |UNION ALL SELECT 8, 1, nc, nt, tn.n_truth,
        |  CASE WHEN tn.n_truth = 0 THEN 0 ELSE CAST((nt * 10000) // tn.n_truth AS BIGINT) END,
        |  CASE WHEN nc = 0 THEN 0 ELSE CAST((nt * 10000) // nc AS BIGINT) END
        |FROM s8c, tn""".stripMargin
  )
}
