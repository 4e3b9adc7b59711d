package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering and the
  * min/max skipping manifest it exists to feed — the "OPTIMIZE ZORDER"
  * story for a 100 TB corpus laid out on object storage.
  *
  * A single-column sort clusters one predicate dimension and scatters
  * every other; bit-interleaving d dimensions into one key gives every
  * dimension locality at once, so a file-level min/max manifest prunes
  * d-dimensional range predicates instead of one. The z-value here is a
  * plain composition of codegen'd built-ins (shift/and/or terms — no UDF,
  * no custom expression), exact integer, and replayed bit-for-bit by the
  * DuckDB oracle (q_zorder).
  *
  * Scale shape: the key is a zero-shuffle scan projection; the layout
  * write is ONE repartition on the bucket (same geometry as
  * [[graft.ops.Curation.writeShards]]); the manifest is one partial-agg
  * shuffle emitting one tiny row per bucket/file. Pruning reads the
  * manifest (KBs), not the data — at production scale it happens at
  * planning time against the file catalog (Iceberg/Delta metadata), and
  * [[prunedScan]] proves the bucket→predicate intersection logic is
  * LOSSLESS against the plain filter under the oracle (q_zorder_prune).
  */
object Layout {

  /** Z-order key: interleave the low `bits` bits of each dimension,
    * dimension 0 in the lowest bit positions. Dimensions must already be
    * bucketized to non-negative values < 2^bits (compose with
    * [[graft.ops.Analytics]] rank buckets or a min-max scale for raw
    * features); an out-of-range value fails loud rather than silently
    * folding into a wrong cell. Total key width dims·bits must fit a
    * signed long.
    */
  def zorderKey(dims: Seq[Column], bits: Int): Column = {
    require(dims.nonEmpty, "zorderKey needs at least one dimension")
    require(bits > 0 && dims.size * bits <= 63,
      s"dims*bits must be in 1..63, got ${dims.size} dims x $bits bits")
    val n = dims.size
    val lim = 1L << bits
    val guarded = dims.map { d =>
      val dl = d.cast("long")
      when(dl >= 0L && dl < lim, dl).otherwise(raise_error(concat(
        lit(s"zorderKey: dimension value out of [0, $lim): "),
        dl.cast("string"))))
    }
    val terms = for {
      i <- 0 until bits
      (g, dIdx) <- guarded.zipWithIndex
    } yield shiftleft(shiftrightunsigned(g, i).bitwiseAND(lit(1L)), i * n + dIdx)
    terms.reduce(_ bitwiseOR _)
  }

  /** The skipping manifest: one row per z-bucket (`zorderKey >> shift` —
    * at production scale, per FILE of the z-sorted layout) carrying the
    * row count and each dimension's min/max. This is exactly the stats
    * block an Iceberg/Delta manifest stores per data file; a scan with a
    * range predicate on any subset of the dimensions opens only buckets
    * whose [min, max] boxes intersect it.
    *
    * Scale shape: one map-side-combinable aggregation keyed by bucket;
    * output cardinality is the file count, not the row count.
    */
  def zBucketStats(
      df: DataFrame,
      dimCols: Seq[String],
      bits: Int,
      shift: Int
  ): DataFrame = {
    require(dimCols.nonEmpty, "need at least one dimension column")
    require(shift >= 0 && shift < dimCols.size * bits,
      s"shift must be in [0, ${dimCols.size * bits}), got $shift")
    val reserved = Seq("zbucket", "n_rows") ++
      dimCols.flatMap(d => Seq(s"min_$d", s"max_$d"))
    require(!reserved.exists(df.columns.contains),
      s"zBucketStats reserves the column names ${reserved.mkString(", ")}")
    val z = zorderKey(dimCols.map(col), bits)
    val aggs = count(lit(1)).as("n_rows") +:
      dimCols.flatMap(d =>
        Seq(min(col(d)).cast("long").as(s"min_$d"),
          max(col(d)).cast("long").as(s"max_$d")))
    df.withColumn("zbucket", shiftrightunsigned(z, shift))
      .groupBy(col("zbucket"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Manifest-pruned exact range scan: keep rows with
    * `lo_d <= dim_d <= hi_d` for every dimension, reading ONLY the
    * z-buckets whose manifest boxes intersect the predicate, then
    * applying the exact filter inside them. Equality with the plain
    * filter (lossless pruning) sits under the DuckDB oracle
    * (q_zorder_prune); the SELECTIVITY — how few buckets survive —
    * is asserted in LayoutSpec against a 1-D layout of the same data.
    *
    * Here the candidate set is derived from `df` itself to stay
    * self-contained; in production it comes from the stored manifest and
    * the semi-join below is the planner's file-list intersection
    * (broadcast — the manifest is file-count-sized).
    */
  def prunedScan(
      df: DataFrame,
      dimCols: Seq[String],
      bits: Int,
      shift: Int,
      ranges: Seq[(Long, Long)]
  ): DataFrame = {
    require(ranges.size == dimCols.size,
      "one (lo, hi) range per dimension column")
    require(!df.columns.contains("zbucket"),
      "prunedScan reserves the column name zbucket")
    val stats = zBucketStats(df, dimCols, bits, shift)
    val cand = dimCols.zip(ranges)
      .foldLeft(stats) { case (s, (d, (lo, hi))) =>
        s.filter(col(s"max_$d") >= lo && col(s"min_$d") <= hi)
      }
      .select(col("zbucket"))
    val exact = dimCols.zip(ranges)
      .map { case (d, (lo, hi)) => col(d) >= lo && col(d) <= hi }
      .reduce(_ && _)
    val z = zorderKey(dimCols.map(col), bits)
    df.withColumn("zbucket", shiftrightunsigned(z, shift))
      .join(broadcast(cand), Seq("zbucket"), "left_semi")
      .filter(exact)
      .drop("zbucket")
  }

  /** Small-file COMPACTION plan over a file manifest — the layout-
    * maintenance sibling of the z-order write: object-store corpora decay
    * into many small files (streaming ingest, per-stratum shard tails),
    * and a 100 TB table with 10^7 files pays for it at every planning and
    * open. Input is one row per data file (partition column, a file
    * sequence number in layout order, its byte size); the plan assigns
    * each file to rewrite group `floor(exclusive_cumsum(bytes) / target)`
    * within its partition — first-fit IN LAYOUT ORDER, so compaction
    * coalesces ADJACENT files and never undoes the z-order/ingest
    * clustering by re-sorting (exactly Iceberg's binpack strategy). A
    * file at or above the target lands alone or starts its own group;
    * files are never split.
    *
    * Output is the per-group plan: file count, total bytes, the
    * [min, max] file-sequence range the rewrite reads, and `is_rewrite`
    * (single-file groups are no-ops the executor skips).
    *
    * Scale shape: the manifest is file-count-sized, not row-count-sized,
    * and the pack itself is [[graft.ops.Curation.packShards]] — the
    * two-phase cumsum, so even a partition holding the whole table's
    * manifest never serializes into one task. One partial-agg shuffle for
    * the group summary.
    */
  def compactionPlan(
      manifest: DataFrame,
      partCol: String,
      fileSeqCol: String,
      bytesCol: String,
      targetBytes: Long
  ): DataFrame =
    Curation.packShards(manifest, partCol, fileSeqCol, col(bytesCol),
        budgetTokens = targetBytes)
      .groupBy(col(partCol), col("shard_seq").as("group_seq"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col(bytesCol)).as("bytes_total"),
        min(col(fileSeqCol)).cast("long").as("file_lo"),
        max(col(fileSeqCol)).cast("long").as("file_hi"))
      .withColumn("is_rewrite", col("n_files") > 1L)

  /** Per-bucket BLOOM manifest — the skipping stats block for EQUALITY
    * predicates, where [[zBucketStats]]' min/max is powerless (hashed ids,
    * content digests, high-cardinality keys): per bucket, the packed
    * Bloom words of every key it contains (Iceberg/Parquet's
    * bloom-filter column stats, as data). ONE partial-agg shuffle to at
    * most nWords (bucket, word_idx, bits) rows per bucket — the bit_or
    * combines map-side, so a billion-row bucket reduces before the
    * exchange. Same probe math as [[graft.exprs.BloomImpl]], so no false
    * negatives: a pruned bucket PROVABLY holds no matching row.
    */
  def bloomBucketManifest(
      df: DataFrame,
      bucketCol: Column,
      key: Column,
      nWords: Int,
      nHashes: Int
  ): DataFrame = {
    require(nWords > 0, "nWords must be positive")
    require(nHashes > 0 && nHashes <= 16, "nHashes must be in [1, 16]")
    val m = nWords.toLong * graft.exprs.BloomImpl.BitsPerWord
    val salts = (0 until nHashes).map(j =>
      j.toLong * graft.exprs.BloomImpl.Phi)
    df.select(bucketCol.cast("long").as("bucket"),
        key.cast("long").as("__key"))
      .filter(col("__key").isNotNull)
      .select(col("bucket"), col("__key"),
        explode(array(salts.map(lit(_)): _*)).as("__salt"))
      .select(col("bucket"),
        (shiftrightunsigned(
          Curation.shuffleKey(col("__key").bitwiseXOR(col("__salt"))), 1)
          % m).as("__pos"))
      .select(col("bucket"),
        (col("__pos") / graft.exprs.BloomImpl.BitsPerWord).cast("int")
          .as("word_idx"),
        call_function("shiftleft", lit(1L),
          (col("__pos") % graft.exprs.BloomImpl.BitsPerWord).cast("int"))
          .as("__mask"))
      .groupBy(col("bucket"), col("word_idx"))
      .agg(bit_or(col("__mask")).as("bits"))
  }

  /** Equality-predicate scan pruned by the Bloom manifest: keep only the
    * buckets whose filter might contain `value`, then apply the exact
    * predicate — LOSSLESS by the no-false-negative guarantee (the oracle
    * is the plain filter); false-positive buckets only cost read volume.
    * The manifest is collected driver-side — bucket-count-sized, the
    * Iceberg stats block's role, the same documented sizing as
    * [[graft.ops.Sketches.bloomWords]]; at production scale this
    * decision happens at planning time against the file catalog.
    */
  def bloomPrunedEquality(
      df: DataFrame,
      bucketCol: Column,
      key: Column,
      value: Long,
      manifest: DataFrame,
      nWords: Int,
      nHashes: Int
  ): DataFrame = {
    val words = manifest
      .select(col("bucket"), col("word_idx"), col("bits"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (b, rows) =>
        val arr = new Array[Long](nWords)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        b -> arr
      }
    val keep = words.collect {
      case (b, arr)
          if graft.exprs.BloomImpl.mightContain(value, arr, nHashes) => b
    }.toSeq
    df.filter(bucketCol.cast("long").isin(keep: _*) && key === value)
  }

  /** Driver-side file manifest of a two-level partitioned table directory
    * (`partCol=v/fileSeqCol=n/` data files): one row per LEAF (part,
    * file_seq) with its summed on-disk bytes — the Iceberg manifest's
    * role. Driver-sized by design: its size is bounded by the FILE
    * count (catalog metadata), never the data, exactly like
    * [[graft.io.Checkpoint]]'s manifest and [[zBucketStats]]' output.
    */
  def fileManifest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      partCol: String,
      fileSeqCol: String
  ): DataFrame = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    def subdirs(p: java.nio.file.Path, prefix: String) =
      listDir(p).filter(q => Files.isDirectory(q) &&
        q.getFileName.toString.startsWith(prefix + "="))
    val rows = for {
      pd <- subdirs(Paths.get(dir), partCol)
      fd <- subdirs(pd, fileSeqCol)
    } yield {
      val bytes = listDir(fd)
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      (pd.getFileName.toString.drop(partCol.length + 1),
        fd.getFileName.toString.drop(fileSeqCol.length + 1).toLong,
        bytes)
    }
    import spark.implicits._
    rows.toDF(partCol, fileSeqCol, "bytes")
  }

  /** EXECUTE a compaction plan — the Iceberg-binpack rewrite
    * [[compactionPlan]] plans: every file group becomes exactly ONE
    * output file under `partCol=v/group_seq=g/`, rows kept in layout
    * order (`fileSeqCol`, then `orderCol`) — adjacent smalls coalesce,
    * nothing is split or re-sorted, and the DATA is byte-identical to
    * the input (the oracle's contract: compaction must not change one
    * row). `assignments` is the per-file (partCol, fileSeqCol,
    * group_seq) map — [[graft.ops.Curation.packShards]] over the file
    * manifest — broadcast onto the table scan (file-count-sized).
    *
    * Scale shape: ONE shuffle keyed (part, group), the same geometry as
    * [[graft.ops.Curation.writeShards]]; each task writes one file per
    * group directory it owns.
    */
  def compactExec(
      table: DataFrame,
      assignments: DataFrame, // (partCol, fileSeqCol, group_seq)
      partCol: String,
      fileSeqCol: String,
      orderCol: String,
      outDir: String
  ): Unit =
    {
      // explicit partition count (the session's shuffle parallelism): a
      // keyless-count repartition before a partitioned write is eligible
      // for AQE coalescing, which on a small input collapses the write to
      // ONE task emitting every file sequentially — the explicit count
      // keeps group-per-task placement (hash on the same keys) AND write
      // parallelism
      val n = table.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      table
      .join(broadcast(assignments), Seq(partCol, fileSeqCol))
      .repartition(n, col(partCol), col("group_seq"))
    }
      .sortWithinPartitions(col(partCol), col("group_seq"),
        col(fileSeqCol), col(orderCol))
      .write
      .partitionBy(partCol, "group_seq")
      .mode("overwrite")
      .parquet(outDir)

  /** The layout write path: bucket rows by `zorderKey >> shift` and sort
    * within each bucket by the full key, so a `.write.partitionBy
    * ("zbucket")` (or a plain parquet write) emits one multi-dimension-
    * clustered file per bucket whose min/max stats are exactly
    * [[zBucketStats]]' manifest row. One shuffle, same geometry as
    * [[graft.ops.Curation.writeShards]].
    */
  def layoutZOrdered(
      df: DataFrame,
      dimCols: Seq[String],
      bits: Int,
      shift: Int
  ): DataFrame = {
    require(!df.columns.contains("zbucket") && !df.columns.contains("__z"),
      "layoutZOrdered reserves the column names zbucket and __z")
    df.withColumn("__z", zorderKey(dimCols.map(col), bits))
      .withColumn("zbucket", shiftrightunsigned(col("__z"), shift))
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        .toInt, col("zbucket"))
      .sortWithinPartitions(col("zbucket"), col("__z"))
      .drop("__z")
  }
}
