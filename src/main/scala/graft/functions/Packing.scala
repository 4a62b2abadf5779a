package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global-order operators for training-data preparation: sequence packing
  * and top-fraction quality filtering. Both need a total order over the
  * corpus — the one thing a naive Spark plan gets wrong at scale, because
  * an un-partitioned window (`row_number() OVER (ORDER BY ...)`) collapses
  * the whole corpus into ONE task.
  *
  * The scale pattern used by both (classic parallel prefix-sum, two levels):
  * split the total order into ORDER-ALIGNED buckets (every row in bucket b
  * sorts before every row in bucket b+1), run the fine-grained window
  * partitioned by bucket (fully parallel, one shuffle), aggregate one row
  * per bucket (a few hundred rows), prefix-scan THAT tiny table on a single
  * partition (trivial), and broadcast-join the bucket offsets back. The only
  * single-partition work is over the bucket aggregate, never the corpus.
  * [[keepRanked]] is the same pattern with range partitions as the buckets,
  * per group; [[Domains.domainFrequencyCap]] ranks each domain with it.
  */
object Packing {

  /** GPT-style concat-and-cut sequence packing: documents are laid out in a
    * deterministic global order and the concatenated token stream is cut
    * into fixed `seqLen`-token training sequences. Returns per document its
    * token count, its start offset in the stream, and the first/last
    * sequence ids its tokens land in.
    *
    * The order key is `md5(doc_id)` — engine-portable (same trick as the
    * stratified-sampling predicate), reshuffle/retry-stable, and an
    * effectively random permutation, which is exactly what a training run
    * wants. Its first two hex chars give 256 order-aligned buckets for the
    * prefix-sum pattern above. Offsets use integer arithmetic end to end
    * (`div`, not `/`): at 100 TB the stream offset exceeds 2^53 and a
    * double-typed division would silently lose tokens.
    */
  def packSequences(documents: DataFrame, seqLen: Int): DataFrame =
    packByCount(documents.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")), seqLen)

  /** Packing for INTERLEAVED text+media documents — the extraction engine's
    * own output shape `(doc_id, spans)`: each image span occupies a fixed
    * `imageTokens` slot in the training stream (the standard interleaved-
    * pretraining accounting: a vision encoder emits a constant patch-token
    * budget per image), text spans their whitespace token count. The span
    * walk is one per-row HOF `aggregate` — no explode, no shuffle — feeding
    * the same two-level prefix-sum as [[packSequences]]. */
  def packInterleaved(docs: DataFrame, seqLen: Int, imageTokens: Int = 64): DataFrame = {
    require(imageTokens >= 0, s"imageTokens must be >= 0, got $imageTokens")
    val spanTokens = aggregate(col("spans"), lit(0L), (acc, s) =>
      acc + when(s.getField("kind") === "image", lit(imageTokens.toLong))
        .otherwise(TextAnalysis.tokenCount(s.getField("text")).cast("long")))
    packByCount(docs.select(col("doc_id"), spanTokens.as("n_tokens")), seqLen)
  }

  /** The shared two-level concat-and-cut core over `(doc_id, n_tokens)`. */
  private def packByCount(counted: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val keyed = counted.select(
      col("doc_id"),
      col("n_tokens"),
      md5(col("doc_id").cast("string").cast("binary")).as("k"))
      .withColumn("bucket", substring(col("k"), 1, 2))
      // explicit (vacuously true) null-gate: the broadcast join infers
      // isnotnull(bucket) on the probe side only, which would de-canonicalize
      // the two consumers of this subtree and defeat exchange reuse — with it
      // both branches share ONE corpus scan + shuffle (PlanShapeSpec asserts
      // the ReusedExchange)
      .where(col("bucket").isNotNull)
    val inBucket = Window.partitionBy(col("bucket")).orderBy(col("k"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = keyed.withColumn("loc",
      coalesce(sum(col("n_tokens")).over(inBucket), lit(0L)))
    // bucket totals from the POST-window output (last row's loc + n_tokens),
    // not from a second pass over `keyed`: aggregating the raw side again
    // would re-scan the corpus parquet — text column included — twice, while
    // this branch re-reads only the fine window's shuffle (40-byte rows) via
    // exchange reuse. coarse level: 256 rows — the un-partitioned window
    // below is deliberate.
    val bucketTotals = local.groupBy(col("bucket"))
      .agg(max(col("loc") + col("n_tokens")).as("btot"))
    val coarse = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .withColumn("boff", coalesce(sum(col("btot")).over(coarse), lit(0L)))
      .select(col("bucket"), col("boff"))
    local.join(broadcast(offsets), Seq("bucket"))
      .withColumn("tok_start", col("boff") + col("loc"))
      // empty docs (0 tokens) occupy no stream space: pin seq_end = seq_start
      .withColumn("seq_start", expr(s"tok_start div ${seqLen.toLong}"))
      .withColumn("seq_end",
        expr(s"(tok_start + greatest(n_tokens, 1L) - 1L) div ${seqLen.toLong}"))
      .select(col("doc_id"), col("n_tokens"), col("tok_start"),
        col("seq_start"), col("seq_end"))
  }

  /** Keep the best `keepFrac` of the corpus by [[TextAnalysis.qualityScore]],
    * ties broken by doc_id — the standard quality-pruning pass, made exact
    * and deterministic (a value-threshold filter is neither: the threshold
    * is a float quantile and ties straddle it). Output is identical to
    * `row_number() OVER (ORDER BY quality DESC, doc_id) <= floor(total *
    * keepFrac)` under EVERY quality distribution.
    *
    * Plan: quality is computed ONCE into a persisted narrow (doc_id,
    * quality, bucket) projection (the expensive part is the text scan, and
    * both the histogram and the rank pass need the scores). The persist is
    * the right side of the cache-vs-recompute trade HERE because the cached
    * rows are ~20 bytes — two orders of magnitude narrower than the text
    * they replace re-scanning — unlike the MinHash sketch cache (measured
    * and dropped, see [[Dedup.minHashNearDuplicates]]), whose ~4 KB/doc
    * arrays cost more to round-trip than recomputing; the deciding variable
    * is row width. A ≤101-row
    * bucket histogram (`floor(quality * 100)`, order-aligned since the
    * bucket id is monotone in quality) is collected — a driver fold over a
    * hundred longs, not a driver loop over data — and drives both the keep
    * cutoff `k` and the ROUTE:
    *
    *  - spread histogram (no bucket holds > half the corpus — the normal
    *    shape of a smooth composite score): rank = literal per-bucket
    *    offset + row_number windowed BY BUCKET. One shuffle, fully
    *    parallel, ties can't cross a bucket boundary.
    *  - concentrated histogram (constant-quality corpora are real: all-empty
    *    or boilerplate-heavy shards collapse to one bucket, which would
    *    degrade the bucket window to a single mega-partition) or an empty
    *    one (all text null): the exact global rank of [[keepRanked]] with no
    *    group.
    *
    * The spread route stays on the histogram instead of [[keepRanked]]: on
    * the benchmark's pipeline the range partitioner's sampling job plus the
    * offsets broadcast cost more than collecting the 101-row histogram.
    */
  def qualityTopFraction(documents: DataFrame, keepFrac: Double): DataFrame = {
    require(keepFrac >= 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in [0, 1], got $keepFrac")
    val spark = documents.sparkSession
    import spark.implicits._
    // null-text docs have null quality: by contract they are excluded from
    // BOTH the ranking and the denominator (an unscorable doc is not part
    // of "the corpus" being pruned — mirrored in the t_quality_top oracle).
    // r07: the gate is `text IS NOT NULL` BEFORE the projection — equivalent
    // (quality, hence bucket, is null iff text is null), but the former
    // post-projection `bucket IS NOT NULL` alias-substituted into a Filter
    // that re-ran the whole regex-heavy qualityScore per row below the
    // Project (the same double-eval pattern fixed across Dedup this round)
    val q = documents.where(col("text").isNotNull)
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .withColumn("bucket", floor(col("quality") * 100).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Cache lifetime (ADVICE r05): the kept set is materialized EAGERLY —
    // narrow (doc_id, quality) rows into local-checkpoint blocks, freed by
    // the ContextCleaner when the returned frame is dropped — so the
    // corpus-sized quality cache can be unpersisted HERE instead of leaking
    // for the session (every path, empty and failed included). Same
    // materialize-inside / clean-up-before-return convention as
    // [[Dedup.connectedComponents]].
    try {
      val hist = q.groupBy(col("bucket")).agg(count(lit(1)).as("bcnt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._1)
      val total = hist.map(_._2).sum
      val k = math.floor(total * keepFrac).toLong
      if (total == 0 || hist.map(_._2).max.toDouble / total > 0.5) {
        // concentrated or empty: the exact range rank (see scaladoc)
        keepRanked(q.select(col("doc_id"), col("quality")), Nil,
          Seq(col("quality").desc, col("doc_id")), k)
      } else {
        // spread: bucket-partitioned window + literal offsets (broadcast of a
        // ≤101-row local table)
        // exclusive prefix sum in quality-desc order: scanLeft yields the
        // cumulative count BEFORE each bucket (element i of the scan is the
        // sum of the first i counts), which is exactly that bucket's offset
        val offsets = hist.scanLeft(0L) { case (acc, (_, c)) => acc + c }
          .zip(hist).map { case (boff, (b, _)) => (b, boff) }
        val offDf = broadcast(offsets.toSeq.toDF("bucket", "boff"))
        val inBucket = Window.partitionBy(col("bucket"))
          .orderBy(col("quality").desc, col("doc_id"))
        q.withColumn("rn", row_number().over(inBucket).cast("long"))
          .join(offDf, Seq("bucket"))
          .where(col("boff") + col("rn") <= k)
          .select(col("doc_id"), col("quality"))
          .localCheckpoint(true)
      }
    } finally q.unpersist(false)
  }

  /** The exact distributed rank: the rows of `df` with
    * `row_number() OVER (PARTITION BY group ORDER BY order) <= keep`.
    * `group` may be empty (one global rank). No window partition ever holds
    * a whole group, whatever its size:
    *  1. ONE range-partition shuffle on `group ++ order`. The range
    *     partitioner samples every sort key, so a group that holds the
    *     corpus — even one with a single leading order value — splits across
    *     partitions on the later keys (asserted by the pathological-corpus
    *     spec).
    *  2. `row_number` within (partition, group): bounded by the range
    *     partition's size, never by the group's.
    *  3. Per-(partition, group) counts, prefix-summed over partitions in
    *     partition order (a ≤ partitions × groups aggregate — the same
    *     benign coarse window as [[packSequences]]) and broadcast: offset +
    *     local rank is the exact rank within the group.
    * The ranked rows are persisted because the kept-row plan consumes them
    * twice (rank rows + coarse offsets) and column pruning de-canonicalizes
    * the two subtrees past exchange reuse — same disease the d_minhash
    * banding rework fixed. The kept rows (`df`'s columns) are
    * local-checkpointed EAGERLY, which frees the persist before return and
    * breaks the duplicated rank subtree out of the caller's plan. `df` must
    * not have columns named `pid`, `rn`, `pcnt` or `poff`.
    */
  private[graft] def keepRanked(df: DataFrame, group: Seq[String],
                                order: Seq[Column], keep: Long): DataFrame = {
    val groupCols = group.map(col)
    val local = df.repartitionByRange((groupCols ++ order): _*)
      .withColumn("pid", spark_partition_id())
      .withColumn("rn", row_number().over(
        Window.partitionBy((col("pid") +: groupCols): _*).orderBy(order: _*)).cast("long"))
      .persist()
    try {
      val coarse = Window.partitionBy(groupCols: _*).orderBy(col("pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = local.groupBy((col("pid") +: groupCols): _*)
        .agg(count(lit(1)).as("pcnt"))
        .withColumn("poff", coalesce(sum(col("pcnt")).over(coarse), lit(0L)))
        .select((col("pid") +: groupCols :+ col("poff")): _*)
      local.join(broadcast(offsets), "pid" +: group)
        .where(col("poff") + col("rn") <= keep)
        .select(df.columns.toSeq.map(col): _*)
        .localCheckpoint(true)
    } finally local.unpersist(false)
  }

  /** Context-window chunking: split each document's token stream into
    * fixed `chunkSize`-token windows advancing by `stride` tokens
    * (stride < chunkSize ⇒ overlapping windows — the standard long-document
    * treatment when the trainer's context is shorter than the document).
    *
    * Window starts are `0, stride, 2·stride, …` while a FULL window fits
    * (`s + chunkSize ≤ n`), plus a final start at `n − chunkSize` so the
    * document's tail is always covered — and never a window that is a pure
    * sub-range of an earlier one (the naive `while s < n` rule emits those).
    * Documents at or under `chunkSize` tokens yield exactly one whole-doc
    * chunk. `chunk_idx` numbers windows in stream order. Null/blank-text
    * docs have no token stream and are dropped (this is a trainer-input
    * transformation, not a keep/drop gate — the unscorable-rows-pass
    * contract of the dedup/filter operators does not apply).
    *
    * Plan shape: ONE scan, zero shuffle — starts and slices are synthesized
    * in-row (transform over the start sequence), then a single
    * posexplode_outer + pos filter (the r02 generate discipline). Output is
    * chunk-proportional; nothing else is materialized.
    */
  def chunkTokens(documents: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    val scorable = col("text").isNotNull && length(trim(col("text"))) > 0
    val toks = documents.where(scorable)
      .withColumn("t", split(trim(col("text")), "[ \t\n\f\r]+"))
    val n = size(col("t"))
    val starts = when(n <= chunkSize, array(lit(0))).otherwise(
      array_distinct(concat(
        // int-typed floor division (array sizes, far below 2^31 — the
        // packing offsets' `div`-past-2^53 concern does not arise here)
        transform(sequence(lit(0), floor((n - chunkSize) / lit(stride)).cast("int")),
          i => i * stride),
        array(n - chunkSize))))
    toks
      .select(col("doc_id"), col("t"), posexplode_outer(
        transform(starts, s => concat_ws(" ", slice(col("t"), s + 1, lit(chunkSize))))
      ).as(Seq("chunk_idx", "chunk")))
      .where(col("chunk_idx").isNotNull)
      .select(col("doc_id"), col("chunk_idx"),
        least(size(col("t")), lit(chunkSize)).as("n_tokens"),
        col("chunk").as("text"))
  }
}
