package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * All hashing is md5-based and string-typed so results are engine-portable
  * (the DuckDB oracle computes the identical signatures): a fixed-width hex
  * prefix compares lexicographically exactly like the underlying unsigned
  * integer, so `min(hexPrefix)` IS MinHash.
  *
  * Scale notes:
  *  - exactDedup: one hash-shuffle on a 32-char key; map-side partial agg
  *    makes the shuffle proportional to distinct texts, not rows.
  *  - minhash: signatures are a narrow projection (no shuffle); the
  *    band self-join shuffles on band keys whose cardinality ≈ #docs,
  *    so it parallelizes across the cluster; only true near-dup buckets
  *    co-locate. Hot buckets (boilerplate dups) are bounded by
  *    count-capping candidates per bucket if needed (documented knob).
  */
object Dedup {

  private def md5s(c: Column): Column = md5(c.cast("binary"))

  /** Exact dedup groups: one row per distinct text with the doc count and
    * the keeper (minimum id). Join back on `hash` to filter a corpus.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5s(col(textCol)).as("hash"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("keep_id")
      )

  /** Lower-cased, single-space word split (matches DuckDB string_split). */
  def words(textCol: Column): Column = split(lower(textCol), " ")

  /** k-word shingles, empty when there are fewer than k words.
    *
    * Built as a chain of k−1 `zip_with`s over k shifted slices of `ws`
    * rather than a per-index `transform` whose lambda body slices `ws`:
    * a higher-order-function lambda re-evaluates every non-lambda-var
    * subtree PER ELEMENT, so an inline `ws` (e.g. `words(col(text))`)
    * would re-split the whole document once per shingle — O(n²) per doc.
    * Here `ws` appears only at the top level (k+1 references, evaluated
    * once each per row) and every lambda touches lambda vars only, so
    * the cost is O(n·k) no matter what expression the caller passes.
    */
  def shingles(ws: Column, k: Int): Column = {
    require(k >= 1, "shingle length k must be >= 1")
    val m = size(ws) - (k - 1)
    val joined = (2 to k).foldLeft(slice(ws, lit(1), m)) { (acc, j) =>
      zip_with(acc, slice(ws, lit(j), m), (a, b) => concat_ws(" ", a, b))
    }
    when(size(ws) < k, array().cast("array<string>")).otherwise(joined)
  }

  /** All k MinHash components in ONE traversal of the shingle array.
    *
    * Hash economy: one md5 yields 32 hex chars = FOUR independent 8-hex
    * (32-bit) hash values, so k components need only ceil(k/4) md5 calls
    * per shingle (2 for the default k=8). Component j = min over shingles
    * of substr(md5((j/4) + "|" + shingle), 8*(j%4)+1, 8).
    */
  def minhashSignature(sh: Column, k: Int): Column = {
    require(k % 4 == 0, "k must be a multiple of 4 (4 components per md5)")
    val jseq = array((0 until k).map(lit): _*)
    // "g" sorts above every 8-char hex string (hex alphabet is 0-9a-f)
    val init = array_repeat(lit("g"), k)
    // per shingle: concat of k/4 md5s → one 8*k hex string, computed ONCE
    val hashes = transform(
      sh,
      s =>
        concat((0 until k / 4).map(g =>
          md5s(concat(lit(s"$g|"), s))): _*)
    )
    aggregate(
      hashes,
      init,
      (acc, h) =>
        zip_with(acc, jseq, (a, j) => least(a, h.substr(j * 8 + 1, lit(8))))
    )
  }

  /** doc → (band_idx, band_key) rows; K components in `bands` bands.
    *
    * The signature is materialized through an explode (Generate) so that
    * projection collapse cannot inline — and thus recompute — the whole
    * signature aggregate once per band expression.
    */
  def minhashBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3
  ): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val sigDf = df
      .select(col(idCol).as("doc"),
        explode(array(minhashSigCol(col(textCol), k, shingleLen))).as("sig"))
      .filter(col("sig").isNotNull)
    val bandStructs =
      bandKeysFromSig(col("sig"), k, bands).zipWithIndex.map { case (kc, b) =>
        struct(lit(b).as("band_idx"), kc.as("band_key"))
      }
    sigDf
      .select(col("doc"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc"), col("band.band_idx").as("band_idx"),
        col("band.band_key").as("band_key"))
  }

  /** The one-pass MinHash signature COLUMN ([[graft.exprs.MinHashSig]]:
    * lower+split+shingle+md5+min in a single JVM loop — same semantics
    * as minhashSignature(shingles(words(c)), k) but ~5x faster than the
    * interpreted HOF chain). Null when the doc has fewer than
    * `shingleLen` words.
    */
  def minhashSigCol(textCol: Column, k: Int, shingleLen: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.exprs.MinHashSig(
        org.apache.spark.sql.GraftBridge.expression(textCol),
        k, shingleLen))

  /** The raw shingle ARRAY as one JVM loop ([[graft.exprs.WordShingles]]):
    * same semantics as `shingles(words(textCol), k)` (plus
    * `array_distinct` when `distinct`) but without the per-element
    * interpreted HOF cost — for the posting/n-gram stream builders that
    * explode shingle strings rather than signatures.
    */
  def shingleCol(textCol: Column, k: Int, distinct: Boolean): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.exprs.WordShingles(
        org.apache.spark.sql.GraftBridge.expression(textCol), k, distinct))

  /** The band keys of a (non-null) signature column, one Column per
    * band — EXACTLY the keys [[minhashBands]] explodes into rows, kept
    * row-level for callers that must stay aggregation-free (the
    * streaming near-dup gate joins each key against the standing index
    * instead of exploding, because an explode would need a stateful
    * per-doc re-aggregation in append mode). Callers guard null sigs.
    */
  def bandKeysFromSig(sig: Column, k: Int, bands: Int): Seq[Column] = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    (0 until bands).map { b =>
      val parts = (b * r until (b + 1) * r).map(j => element_at(sig, j + 1))
      md5s(concat_ws(",", parts: _*))
    }
  }

  /** Candidate near-duplicate pairs: docs sharing at least one LSH band.
    *
    * Shape matters at scale: instead of a self-join (which would evaluate
    * the signature computation twice and shuffle the band table twice), we
    * groupBy band key ONCE, collect each bucket's doc ids, and expand
    * (a < b) pairs inside the bucket with array expressions. Buckets are
    * near-duplicate groups, so they are small by construction; a genuinely
    * hot bucket (mass-duplicated boilerplate) is the one knob to cap.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3,
      maxBucketSize: Int = 10000
  ): DataFrame = {
    require(maxBucketSize > 1, s"maxBucketSize must be > 1, got $maxBucketSize")
    pairsFromBuckets(
      bucketsOf(minhashBands(df, idCol, textCol, k, bands, shingleLen)),
      maxBucketSize)
  }

  /** One grouped pass over the band table: (band_idx, band_key, n_docs,
    * docs). Both the pair expansion and the drop audit derive from this —
    * counting and collecting in the SAME aggregate is what lets
    * [[minhashPairsWithAudit]] produce both outputs from one corpus scan.
    */
  private def bucketsOf(bandTable: DataFrame): DataFrame =
    bandTable
      .groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(col("doc"))).as("docs"))

  private def pairsFromBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame = {
    // Hot-bucket cap: one mass-duplicated boilerplate text at web scale
    // creates a bucket whose in-bucket pair expansion is O(b²) inside a
    // single row's array expressions. Oversized buckets are DROPPED
    // (their pair explosion would be useless for near-dup anyway — cap
    // hits mean exact-dup boilerplate, which exactGroups handles) and
    // surfaced via droppedHotBuckets / minhashPairsWithAudit.
    val inRange = buckets
      .filter(col("n_docs") > 1 && col("n_docs") <= maxBucketSize)
    val pairs = flatten(
      transform(
        col("docs"),
        (a, i) =>
          transform(
            slice(col("docs"), i + 2,
              greatest(size(col("docs")) - i - 1, lit(0))),
            bdoc => struct(a.as("a"), bdoc.as("b"))
          )
      )
    )
    inRange
      .select(explode(pairs).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** Buckets the `maxBucketSize` cap would drop in [[minhashPairs]]: one
    * row per oversized (band_idx, band_key) with its doc count — the drop
    * metric to log/alert on next to the capped pair output.
    */
  def droppedHotBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3,
      maxBucketSize: Int = 10000
  ): DataFrame =
    minhashBands(df, idCol, textCol, k, bands, shingleLen)
      .groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucketSize)

  /** Capped pairs + the mandatory drop audit from ONE evaluation of the
    * MinHash band pass. The shared bucket table is persisted so the two
    * returned frames (each a separate Spark action for the caller) scan
    * the corpus and compute signatures exactly once; call `unpersist()`
    * when both have been consumed.
    *
    * Prefer this over calling [[minhashPairs]] + [[droppedHotBuckets]]
    * separately, which computes MinHash signatures over the full corpus
    * twice.
    */
  final case class PairsWithAudit(
      pairs: DataFrame,
      droppedHotBuckets: DataFrame,
      private val shared: DataFrame
  ) {
    def unpersist(): Unit = { shared.unpersist(); () }
  }

  def minhashPairsWithAudit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3,
      maxBucketSize: Int = 10000
  ): PairsWithAudit = {
    require(maxBucketSize > 1, s"maxBucketSize must be > 1, got $maxBucketSize")
    val buckets = bucketsOf(
      minhashBands(df, idCol, textCol, k, bands, shingleLen))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    PairsWithAudit(
      pairsFromBuckets(buckets, maxBucketSize),
      buckets.filter(col("n_docs") > maxBucketSize)
        .select(col("band_idx"), col("band_key"), col("n_docs")),
      buckets)
  }

  /** Incremental (delta) dedup: flag each NEW document against the
    * standing corpus — `drop_exact` when its text hash already exists in
    * `oldDf`, `drop_near` when it shares at least one MinHash LSH band
    * with any old document, `kept` when neither. This is how dedup
    * actually runs at 100 TB: the corpus is deduped ONCE, and every
    * subsequent ingest batch is checked against the survivors — never
    * old-vs-old again.
    *
    * Scale shape: the old side contributes only its distinct 32-char
    * hashes and its (band_idx, band_key) table — both are write-once
    * INDEX artifacts in production (append each accepted batch's rows;
    * here they are derived inline so the oracle can replay them). Only
    * the delta computes signatures; both joins shuffle on narrow keys
    * (hash / band key) with the delta as the small side. For a very
    * large standing corpus the exact-hash membership check can drop to a
    * bloom filter (accepting false-positive drops) — not done here
    * because the contract is exact.
    *
    * Near-dup is one-directional by construction (new vs old). Docs with
    * fewer than `shingleLen` words have no signature, so they can only
    * be dropped by the exact path — mirrored in the oracle.
    */
  def incrementalFlags(
      newDf: DataFrame,
      oldDf: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3
  ): DataFrame = {
    val oldHashes = oldDf
      .select(md5s(col(textCol)).as("hash")).distinct()
      .withColumn("__ex", lit(true))
    val oldBands = minhashBands(oldDf, idCol, textCol, k, bands, shingleLen)
      .select(col("band_idx"), col("band_key")).distinct()
      .withColumn("__nr", lit(true))
    val nearHits = minhashBands(newDf, idCol, textCol, k, bands, shingleLen)
      .join(oldBands, Seq("band_idx", "band_key"), "inner")
      .select(col("doc").as("__nid")).distinct()
      .withColumn("__near", lit(true))
    newDf
      .select(col(idCol), md5s(col(textCol)).as("hash"))
      .join(oldHashes, Seq("hash"), "left")
      .join(nearHits.withColumnRenamed("__nid", idCol), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__ex"), lit(false)).as("drop_exact"),
        coalesce(col("__near"), lit(false)).as("drop_near"),
        (coalesce(col("__ex"), lit(false)) ||
          coalesce(col("__near"), lit(false))).unary_!.as("kept")
      )
  }

  /** The rows of `newDf` that survive [[incrementalFlags]] — the batch to
    * append to the standing corpus (and whose hashes/bands to append to
    * the index).
    */
  def incrementalKept(
      newDf: DataFrame,
      oldDf: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3
  ): DataFrame =
    newDf.join(
      incrementalFlags(newDf, oldDf, idCol, textCol, k, bands, shingleLen)
        .filter(col("kept")).select(col(idCol)),
      Seq(idCol))

  /** Word-set Jaccard between explicit doc pairs: returns exact-integer
    * intersection and union sizes (ratio left to the caller — integers
    * compare exactly across engines).
    */
  def wordJaccard(
      pairs: DataFrame, // (a, b)
      docs: DataFrame, // (idCol, textCol)
      idCol: String,
      textCol: String
  ): DataFrame = {
    val w = docs.select(
      col(idCol).as("__id"),
      array_distinct(words(col(textCol))).as("__ws")
    )
    pairs
      .join(w.withColumnRenamed("__id", "a").withColumnRenamed("__ws", "wa"), "a")
      .join(w.withColumnRenamed("__id", "b").withColumnRenamed("__ws", "wb"), "b")
      .select(
        col("a"),
        col("b"),
        size(array_intersect(col("wa"), col("wb"))).cast("long").as("inter"),
        (size(col("wa")) + size(col("wb")) -
          size(array_intersect(col("wa"), col("wb")))).cast("long").as("uni")
      )
  }

  /** Edit-distance CONFIRM stage: the exact character-level check real
    * dedup runs on its candidate pairs before dropping anything —
    * MinHash/LSH recall the candidates, Levenshtein ≤ `maxDist` decides.
    * Returns (a, b, edit_dist) for confirmed pairs only.
    *
    * Scale shape: the O(len·maxDist) DP runs ONLY on candidate pairs
    * (sparse by construction), never corpus². The threshold variant of
    * `levenshtein` banded-early-exits — a wildly different pair costs
    * O(len·maxDist), not O(len²) — which is what makes a mis-recalled
    * candidate cheap. Texts reach the pairs via two id-keyed joins
    * (the same fetch geometry as [[wordJaccard]]).
    */
  def editConfirm(
      pairs: DataFrame, // (a, b)
      docs: DataFrame, // (idCol, textCol)
      idCol: String,
      textCol: String,
      maxDist: Int
  ): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val t = docs.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val d = levenshtein(col("ta"), col("tb"), maxDist)
    pairs
      .join(t.withColumnRenamed("__id", "a").withColumnRenamed("__t", "ta"), "a")
      .join(t.withColumnRenamed("__id", "b").withColumnRenamed("__t", "tb"), "b")
      .withColumn("edit_dist", d.cast("long"))
      // threshold form returns -1 when the distance exceeds maxDist
      .filter(col("edit_dist") >= 0)
      .select(col("a"), col("b"), col("edit_dist"))
  }

  /** SimHash near-duplicate pairs: the third recall geometry next to
    * MinHash bands (word-set similarity) and embedding LSH (semantic) —
    * SimHash Hamming distance tracks weighted-feature overlap and its
    * 64-bit signature is 8 bytes/doc, the index a web-scale crawl can
    * actually afford. Candidates come from 4×16-bit signature bands
    * (pigeonhole: ≤ 3 differing bits leave ≥ 1 band identical, so recall
    * is EXACT for `maxHamming` ≤ 3, not probabilistic); each candidate
    * pair is then confirmed by popcount of the XOR. Returns
    * (a, b, hamming) with hamming ≤ maxHamming.
    *
    * Scale shape: one signature projection (scan-fused codegen'd
    * expression), the same grouped band-bucket expansion as
    * [[minhashPairs]] (hot buckets capped — identical boilerplate lands
    * in [[exactGroups]] anyway); the signature RIDES THROUGH the bucket
    * (16 bytes/occurrence instead of 8) so the Hamming confirm reads it
    * straight out of the expanded pair — the corpus is scanned and
    * hashed exactly ONCE, and no text ever crosses a shuffle.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000
  ): DataFrame =
    pairsFromSimhashBuckets(
      simhashBuckets(df, idCol, textCol), maxHamming, maxBucketSize)

  /** [[simhashPairs]] plus its mandatory drop audit from ONE evaluation
    * of the band pass — the SimHash twin of [[minhashPairsWithAudit]]
    * (same [[PairsWithAudit]] shape, same persist/unpersist contract).
    */
  def simhashPairsWithAudit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000
  ): PairsWithAudit = {
    require(maxBucketSize > 1, s"maxBucketSize must be > 1, got $maxBucketSize")
    val buckets = simhashBuckets(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    PairsWithAudit(
      pairsFromSimhashBuckets(buckets, maxHamming, maxBucketSize),
      buckets.filter(col("n_docs") > maxBucketSize)
        .select(col("band_idx"), col("band_key"), col("n_docs")),
      buckets)
  }

  /** The shared SimHash band-bucket table: one row per (band_idx,
    * band_key) seen more than once, carrying `n_docs` and the sorted
    * (id, sig) member list — signatures ride through so downstream
    * confirms never re-scan text.
    */
  private def simhashBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val sig = df.select(col(idCol).as("__id"),
      graft.exprs.SimHash64(col(textCol)).as("__sig"))
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band_idx"),
        shiftrightunsigned(col("__sig"), 16 * b)
          .bitwiseAND(lit(65535L)).as("band_key"))
    }
    sig
      .select(struct(col("__id").as("id"), col("__sig").as("sig")).as("doc"),
        explode(array(bandStructs: _*)).as("band"))
      .select(col("doc"), col("band.band_idx").as("band_idx"),
        col("band.band_key").as("band_key"))
      .groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(col("doc"))).as("docs"))
      .filter(col("n_docs") > 1)
  }

  private def pairsFromSimhashBuckets(
      buckets: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall only for maxHamming <= 3, got $maxHamming")
    val pairs = flatten(
      transform(
        col("docs"),
        (a, i) =>
          transform(
            slice(col("docs"), i + 2,
              greatest(size(col("docs")) - i - 1, lit(0))),
            bdoc => struct(a.getField("id").as("a"),
              bdoc.getField("id").as("b"),
              bit_count(a.getField("sig").bitwiseXOR(bdoc.getField("sig")))
                .cast("long").as("hamming"))
          )
      )
    )
    buckets
      .filter(col("n_docs") <= maxBucketSize)
      .select(explode(pairs).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        col("p.hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Empirical MinHash-LSH TUNING CURVE: measured candidate count,
    * precision and recall for each band configuration of a fixed
    * k-component signature, against a caller-supplied exact truth set
    * (e.g. [[SSJoin.jaccardJoinExact]] at the target Jaccard, or a
    * labeled pair sample at web scale). This turns the theoretical
    * s-curve threshold (1/b)^(1/r) into numbers measured ON THIS CORPUS
    * — the artifact an engineer reads before spending a 100 TB pass on
    * a (bands, rows) choice.
    *
    * Configs must divide k; because successive band splits NEST (a
    * collision on a 4-component slice implies collisions on both its
    * 2-component halves), candidate sets grow monotonically with
    * `bands` — asserted as a property in DedupSpec. Counters are exact
    * integers; recall/precision are floored basis points.
    *
    * Scale shape: one signature+band pass per config (|configs| ≤
    * log₂ k of them) — each the [[minhashPairs]] geometry (band-keyed
    * partial aggs, hot buckets capped); the truth set is joined
    * pair-keyed, never expanded. Counts ride 1-row frames.
    */
  def lshTuningCurve(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      bandConfigs: Seq[Int],
      shingleLen: Int,
      truthPairs: DataFrame,
      maxBucketSize: Int = 10000
  ): DataFrame = {
    require(bandConfigs.nonEmpty, "at least one band config is required")
    bandConfigs.foreach(b =>
      require(b > 0 && k % b == 0, s"bands=$b must divide k=$k"))
    // ONE text-scan signature pass shared by every config: the (doc, sig)
    // table is fixed-width and corpus-sized, so it is materialized once
    // (localCheckpoint — fresh per invocation, nothing survives the call)
    // and each config's banding re-derives its band keys from it instead
    // of re-shingling the corpus per config. Candidate sets are pair-sized;
    // checkpointing them keeps the counting and truth-join branches from
    // re-expanding the buckets once per aggregate.
    val sig = df
      .select(col(idCol).as("doc"),
        explode(array(minhashSigCol(col(textCol), k, shingleLen))).as("sig"))
      .filter(col("sig").isNotNull)
      .localCheckpoint(false)
    val truth = truthPairs.select(col("a"), col("b")).localCheckpoint(false)
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    bandConfigs.map { b =>
      val bandStructs =
        bandKeysFromSig(col("sig"), k, b).zipWithIndex.map { case (kc, i) =>
          struct(lit(i).as("band_idx"), kc.as("band_key"))
        }
      val bandTable = sig
        .select(col("doc"), explode(array(bandStructs: _*)).as("band"))
        .select(col("doc"), col("band.band_idx").as("band_idx"),
          col("band.band_key").as("band_key"))
      val cand = pairsFromBuckets(bucketsOf(bandTable), maxBucketSize)
        .localCheckpoint(false)
      val nC = cand.agg(count(lit(1)).as("n_candidates"))
      val nT = cand.join(truth, Seq("a", "b"))
        .agg(count(lit(1)).as("n_true"))
      nC.crossJoin(nT).crossJoin(broadcast(nTruth))
        .select(
          lit(b).as("bands"), lit(k / b).as("rows_per_band"),
          col("n_candidates"), col("n_true"), col("n_truth"),
          when(col("n_truth") === 0, 0L)
            .otherwise(call_function("div", col("n_true") * 10000L,
              col("n_truth"))).as("recall_bp"),
          when(col("n_candidates") === 0, 0L)
            .otherwise(call_function("div", col("n_true") * 10000L,
              col("n_candidates"))).as("precision_bp"))
    }.reduce(_ union _)
  }

  /** Cross-conversation SUB-DIALOGUE duplication: pairs of conversations
    * sharing runs of `k` consecutive identical turn texts — the
    * transcript-granularity twin of document near-dup. Agent corpora are
    * full of these (replayed sessions, forked runs, templated flows);
    * whole-conversation dedup ([[q_conv_dedup]]'s digest) misses them
    * because the surrounding turns differ, and document-level shingles
    * can't see turn boundaries.
    *
    * Contract: a turn-shingle is the first-16-hex-chars md5 of the `k`
    * texts at consecutive `orderCol` positions joined by U+0001
    * (missing/NULL text reads as "" — the unit separator never appears
    * in text, so the join is injective per k). Shingles occurring in more
    * than `maxShingleDf` conversations are excluded from pairing (the
    * templated-flow guard — the same df-cap contract as
    * [[Decontam.ngramOverlap]]); emit one row per unordered conversation
    * pair (a < b) with the distinct shared-shingle count, both sides'
    * distinct shingle counts, and
    * `contain_bp = floor(10^4 · n_shared / min(n_a, n_b))` — the
    * containment score a keep/drop policy thresholds on.
    *
    * Scale shape: turn text is digested INSIDE one per-conversation
    * window (k−1 leads share a single conv-keyed sort — the engine's
    * standard per-conversation exchange) and never crosses a shuffle
    * again; pairing runs on fixed-width (hash, conv) rows with the
    * df-capped self-join bounded by maxShingleDf² per shingle, the
    * [[minhashPairs]] bucket geometry.
    */
  def subdialoguePairs(
      turns: DataFrame,
      convCol: String,
      orderCol: String,
      textCol: String,
      k: Int = 3,
      maxShingleDf: Int = 20
  ): DataFrame = {
    require(k >= 2, "a sub-dialogue shingle needs k >= 2 turns")
    require(maxShingleDf >= 2, "maxShingleDf < 2 would exclude every pair")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(convCol)).orderBy(col(orderCol))
    val joined = concat_ws("\u0001",
      (0 until k).map(j =>
        coalesce(lead(col(textCol), j).over(w), lit(""))): _*)
    // a shingle exists only where all k turns do — test the ORDER column
    // (never null for a present row), not the text (legitimately null)
    // (hash, conv) is fixed-width and re-read by the df cap, the size
    // table and both sides of the pair self-join — materialize the
    // window+distinct ONCE per evaluation (lazy localCheckpoint, fresh
    // per invocation) instead of re-deriving the turns lineage per branch
    val rows = turns
      .withColumn("__h",
        when(lead(col(orderCol), k - 1).over(w).isNotNull,
          substring(md5(joined), 1, 16)))
      .filter(col("__h").isNotNull)
      .select(col("__h"), col(convCol).as("__c"))
      .distinct()
      .localCheckpoint(false)
    val kept = rows.join(
      broadcast(rows.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxShingleDf).select("__h")),
      Seq("__h"), "left_anti")
      .localCheckpoint(false)
    val sized = kept.groupBy(col("__c")).agg(count(lit(1)).as("__n"))
    val pairs = kept.as("x").join(kept.as("y"), Seq("__h"))
      .filter(col("x.__c") < col("y.__c"))
      .groupBy(col("x.__c").as("conv_a"), col("y.__c").as("conv_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sized.select(col("__c").as("conv_a"), col("__n").as("n_a")),
        Seq("conv_a"))
      .join(sized.select(col("__c").as("conv_b"), col("__n").as("n_b")),
        Seq("conv_b"))
      .select(col("conv_a"), col("conv_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        call_function("div", col("n_shared") * 10000L,
          least(col("n_a"), col("n_b"))).as("contain_bp"))
  }

  /** WINNOWING fingerprints (Schleimer–Wilkerson–Aiken, the MOSS local
    * fingerprinting scheme): per document, the positional `k`-word
    * shingle hashes winnowed by a width-`w` sliding window — each full
    * window selects its MINIMUM hash, ties broken to the RIGHTMOST
    * occurrence, and consecutive windows picking the same occurrence
    * emit it once. The guarantee this buys over sampling every i-th
    * hash: ANY shared word run of ≥ w + k − 1 words between two
    * documents shares at least one (fp_hash) — substring-granularity
    * robust matching that doc-level minhash ([[minhashPairs]]) and
    * block-level segment dedup can't localize. Join fingerprint tables
    * on fp_hash to find candidate local overlaps; fp_pos is the 0-based
    * word index of the selected shingle for excision/inspection.
    *
    * Hash = the corpus-replayable polynomial rolling hash
    * ([[TextStats.rollingFingerprint]]) of the space-joined shingle —
    * mod 1e9+7, so the density knob stays honest (uniform over ~2³⁰).
    *
    * Scale shape: scan-fused posexplode, ONE per-document window
    * (bounded by a document's own shingle count, never the corpus),
    * then ONE distinct shuffle on (doc, hash, pos) whose cardinality is
    * ~2·n/(w+1) selected fingerprints, not n window rows. Docs shorter
    * than k + w − 1 words have no full window and emit nothing (the
    * guarantee is vacuous below one window).
    */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(w >= 1, "w must be >= 1")
    val hashes = df.select(
      col(idCol).as("doc_id"),
      posexplode(shingleCol(col(textCol), k, distinct = false))
        .as(Seq("pos", "__s")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        TextStats.rollingFingerprint(col("__s")).as("__h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    // min over (h, -pos): smallest hash, tie -> largest pos (rightmost)
    hashes
      .withColumn("__sel",
        min(struct(col("__h").as("h"), (-col("pos")).as("np"))).over(win))
      .filter(col("pos") >= (w - 1).toLong) // full windows only
      .select(col("doc_id"), col("__sel.h").as("fp_hash"),
        (-col("__sel.np")).as("fp_pos"))
      .distinct()
  }
}
