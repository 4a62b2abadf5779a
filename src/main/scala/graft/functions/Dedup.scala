package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora, over
  * `documents(doc_id, text, ...)`. Scale notes per operator:
  *
  *  - exact: one hash-shuffle on a 32-byte key — the cheapest possible
  *    grouping; at 100 TB the fingerprint is computed map-side in codegen and
  *    only (key, id) pairs shuffle.
  *  - MinHash+LSH: signatures are per-row HOFs (no shuffle); the band/bucket
  *    self-join shuffles on the band hash — candidate pairs only, never the
  *    full cross product. AQE skew-join splits hot buckets (empty-ish docs).
  *  - SimHash: per-row 64-bit signature, then a capped band-bucket
  *    aggregation on 16-bit chunks with in-row Hamming verification.
  *  - n-gram Jaccard: exact verification on LSH candidates only.
  */
object Dedup {

  /** Exact duplicates: groupBy content fingerprint. Returns one row per
    * duplicated fingerprint with group size and the keeper (min doc_id).
    * Null-text docs have no fingerprint and are not comparable — they are
    * neither reported here nor dropped by [[dropExactDuplicates]]. */
  def exactDuplicates(documents: DataFrame): DataFrame =
    // null gate on text BEFORE the projection (fp is null iff text is null):
    // the post-projection `fp IS NOT NULL` form re-evaluated md5+normalize
    // per row in a Filter below the Project (r07 fix, see
    // [[minHashNearDuplicates]]) and kept IsNotNull out of PushedFilters
    documents.where(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
      .where(col("n_docs") > 1)

  /** Exact-dedup the corpus: keep the min doc_id per fingerprint. Window-free
    * formulation (groupBy + semi join) so AQE can handle skewed fingerprints.
    * Null-text docs pass through untouched: a semi join's non-null-safe
    * equality would otherwise silently drop EVERY null-fp row — keeper
    * included. */
  def dropExactDuplicates(documents: DataFrame): DataFrame = {
    // null routing on text, not on the derived fp (equivalent — fp is null
    // iff text is null — but the fp-based filters re-ran md5+normalize per
    // row below the projection, and the null-branch filter paid a whole
    // fingerprint sweep just to find the null-text rows; r07 fix)
    val withFp = documents.where(col("text").isNotNull)
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val keepers = withFp.groupBy("fp").agg(min("doc_id").as("doc_id"))
    withFp.join(keepers, Seq("fp", "doc_id"), "left_semi")
      .drop("fp")
      .unionByName(documents.where(col("text").isNull))
  }

  /** Cross-corpus exact dedup: drop every document whose content fingerprint
    * already appears in `reference` — the "don't re-ingest what the last
    * crawl already kept" stage. Pure left-anti on the 16-byte fingerprint:
    * both sides hash map-side in codegen, so what shuffles is (fp[, id]) —
    * never the payloads. Note Spark's runtime bloom-filter injection does
    * NOT fire for left_anti (InjectRuntimeFilter prunes only Inner/LeftSemi
    * and the outer sides — pruning the preserved side of an anti join can't
    * be expressed as a row filter), so at 10^10-document scale this is an
    * honest two-sided 16-byte-key shuffle — a few hundred GB cluster-wide,
    * the standard cost of exact cross-corpus dedup. A driver-side bloom
    * would need ~GBs collected for a crawl-scale reference; if the reference
    * is small, AQE broadcasts it and the corpus side never shuffles at all. */
  def dropSeen(documents: DataFrame, reference: DataFrame): DataFrame = {
    val withFp = documents.withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val refFp = reference.select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
    withFp.join(refFp, Seq("fp"), "left_anti").drop("fp")
  }

  /** Approximate cross-corpus dedup via a Bloom filter of the reference's
    * fingerprints — the classic alternative to [[dropSeen]]'s left-anti
    * shuffle when the reference set is large but its BLOOM fits executor
    * memory (~1.2 GB per 10⁹ items at 1% fpp, ~10× smaller than a broadcast
    * hash set of the fingerprints). Guarantees: NO false negatives (every
    * truly-seen document is dropped); up to `fpp` of unseen documents are
    * dropped as false positives — acceptable for web-dedup, never use for
    * quarantine decisions. The probe is Spark's OWN codegen
    * `BloomFilterMightContain` (the runtime-filter machinery) over a
    * `xxhash64` fingerprint, so the corpus side stays a single scan with a
    * zero-shuffle filter; the reference side is one pass + a driver-held
    * sketch (size bounded by `expectedItems`/`fpp`, the same class of
    * driver state as the IVF centroids / benchmark model). Null-text docs
    * pass through (unscorable contract). For reference sets whose bloom
    * exceeds memory, fall back to [[dropSeen]].
    *
    * The filter is sized from the reference's ACTUAL row count (one cheap
    * count job before the build pass) — sizing from a caller-guessed
    * constant silently saturates the bloom when the reference outgrows the
    * guess, driving the effective FP rate toward 1 and deleting the corpus
    * with no signal. */
  def dropSeenApprox(documents: DataFrame, reference: DataFrame,
                     fpp: Double = 0.01): DataFrame = {
    val fpCol = xxhash64(TextAnalysis.normalized(col("text")))
    val ref = reference.where(col("text").isNotNull)
    val bf = ref.stat.bloomFilter(fpCol, math.max(ref.count(), 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val probe = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bos.toByteArray,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(fpCol)))
    documents.where(col("text").isNull || !probe)
  }

  // ----------------------------------------------------- line-level dedup

  /** CCNet/RefinedWeb-style boilerplate report: every distinct non-blank
    * line whose document frequency exceeds `maxDocFreq` (nav bars, cookie
    * banners, copyright footers — repeated verbatim across unrelated pages).
    * Grouped on the line string because the string IS the report payload;
    * the drop path below keys on 8-byte hashes instead. */
  def repeatedLines(documents: DataFrame, maxDocFreq: Int = 3): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    documents.select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .where(trim(col("line")) =!= "")
      .select(col("line"), col("doc_id")).distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq)
  }

  /** Remove boilerplate lines (doc frequency > `maxDocFreq`) from every
    * document, preserving the order and the blank-line structure of what
    * remains. A document consisting ONLY of boilerplate drops entirely.
    *
    * Plan shape: lines explode with their position; the df count and the
    * anti-join both key on `xxhash64(line)` (8-byte shuffle keys, same
    * discipline as the shingle ops); the bad-line set is the df tail —
    * small by construction — so AQE broadcasts the anti-join; reassembly is
    * one groupBy(doc_id) with an order-restoring array_sort (no window).
    * Blank lines are structure, not content: never counted, never dropped.
    * Null-text documents pass through UNTOUCHED (`split(null)` explodes to
    * zero rows, which would silently delete them — the same unscorable-row
    * contract as [[dropExactDuplicates]]/[[dropSeen]]/[[dropContaminated]]);
    * only all-boilerplate docs vanish, by design. */
  def dropRepeatedLines(documents: DataFrame, maxDocFreq: Int = 3): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    // r06 rework to the substring/paragraph rewrite pattern: the original
    // form anti-joined the exploded (pos, line TEXT) rows and regrouped per
    // doc — reshuffling the whole corpus text to reassemble it. Now only
    // 8-byte line hashes + positions go through exchanges; the removal set
    // is boilerplate-proportional, collapses to per-doc position lists, and
    // a second scan drops lines IN-ROW.
    val scorable = col("text").isNotNull
    val lines = documents.where(scorable)
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .where(trim(col("line")) =!= "")
      .select(col("doc_id"), col("pos"), xxhash64(col("line")).as("lh"))
    val bad = lines.select(col("lh"), col("doc_id")).distinct()
      .groupBy("lh").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq).select(col("lh"))
    val removals = lines.join(bad, Seq("lh"))
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("rpos"))
    documents.where(scorable)
      .join(removals, Seq("doc_id"), "left")
      .withColumn("t", split(col("text"), "\n"))
      .withColumn("kept", when(col("rpos").isNull, col("t")).otherwise(
        filter(col("t"), (_, i) => !array_contains(col("rpos"), i))))
      .where(size(col("kept")) > 0) // all-boilerplate docs (no blanks left) vanish
      .withColumn("text", concat_ws("\n", col("kept"))).drop("t", "rpos", "kept")
      .unionByName(documents.where(!scorable))
  }

  /** Duplicate-paragraph removal with KEEP-FIRST semantics (the Dolma/CCNet
    * paragraph dedup): every paragraph whose exact text occurs at ≥ 2
    * (doc, pos) sites keeps only its canonical `min(struct(doc_id, pos))`
    * occurrence. The granularity gap this fills: [[dropRepeatedLines]] is a
    * doc-frequency CAP that deletes boilerplate from EVERY document (nav
    * bars, footers — content you want zero copies of), while this keeps
    * exactly ONE copy — the right call when the duplicated paragraph is
    * content (syndicated article paragraphs, quoted passages) that the
    * corpus should still teach once. [[dropDuplicatedSubstrings]] is the
    * sub-paragraph version of the same keep-first idea at token-window
    * granularity.
    *
    * Keys are md5, not xxhash64: the line df-cap tolerates 64-bit
    * collisions (a collision only nudges a count), but a keep-first dedup
    * acting on a collided key would DROP unrelated content — at 10^12
    * paragraphs the 64-bit birthday bound expects thousands of collisions,
    * 128 bits makes the expectation ≪ 1. Blank paragraphs are structure,
    * not content: never deduped, preserved through reassembly. Docs whose
    * every non-blank paragraph drops vanish; null-text docs pass through
    * (the unscorable-rows contract).
    *
    * Plan shape (the [[dropDuplicatedSubstrings]] rewrite pattern, NOT the
    * line path's explode-and-regroup — that form reshuffles the whole
    * corpus text to reassemble): paragraphs ship (16-byte key, doc, pos)
    * through ONE aggregate shuffle (map-side combine absorbs viral
    * paragraphs); the non-canonical occurrence set is output-proportional,
    * collapses to small per-doc position lists, and the rewrite filters
    * paragraphs IN-ROW on a second scan — document text never enters any
    * exchange. */
  def dropDuplicateParagraphs(documents: DataFrame, sep: String = "\n"): DataFrame = {
    val scorable = col("text").isNotNull
    val split_ = split(col("text"), sep)
    val content = documents.where(scorable)
      .select(col("doc_id"), posexplode(split_).as(Seq("pos", "para")))
      .where(trim(col("para")) =!= "")
      .select(col("doc_id"), col("pos"), md5(col("para")).as("ph"))
    val canon = content.groupBy("ph")
      .agg(count(lit(1)).as("n"), min(struct(col("doc_id"), col("pos"))).as("c"))
      .where(col("n") > 1).select(col("ph"), col("c"))
    val removals = content.join(canon, Seq("ph"))
      .where(struct(col("doc_id"), col("pos")) =!= col("c"))
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("rpos"))
    documents.where(scorable)
      .join(removals, Seq("doc_id"), "left")
      .withColumn("t", split_)
      .withColumn("kept", when(col("rpos").isNull, col("t")).otherwise(
        filter(col("t"), (_, i) => !array_contains(col("rpos"), i))))
      .where(exists(col("kept"), p => trim(p) =!= ""))
      .withColumn("text", concat_ws(sep, col("kept"))).drop("t", "rpos", "kept")
      .unionByName(documents.where(!scorable))
  }

  /** End-to-end near-dedup — the PRIMARY entry point, routed to the
    * component-closure LSH composition ([[dropNearDuplicatesCCLsh]]): greedy
    * single-hop dedup under-merges chains (a~b, b~c with a!~c candidate-wise
    * leaves both b and c decisions inconsistent), so closure is the
    * production semantics. The old greedy form survives as the explicitly
    * named [[dropNearDuplicatesGreedy]]. */
  def dropNearDuplicates(documents: DataFrame, threshold: Double = 0.8,
                         ngram: Int = 3): DataFrame =
    dropNearDuplicatesCCLsh(documents, threshold, ngram)

  /** Single-hop greedy keep-first near-dedup: drop every document that
    * appears as the larger id of a near-duplicate pair. Cheaper than closure
    * (no iterative CC rounds) but under-merges chains — kept as an
    * explicitly-named variant for pipelines that accept that trade. */
  def dropNearDuplicatesGreedy(documents: DataFrame, threshold: Double = 0.8,
                               ngram: Int = 3): DataFrame = {
    val losers = minHashNearDuplicates(documents, threshold, ngram = ngram)
      .select(col("b").as("doc_id")).distinct()
    documents.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Symmetric deduplicated edge set of a pair table. Single-pass (r07): the
    * former two-select union evaluated the ENTIRE pair plan twice — for the
    * exact-Jaccard source that was 2× of a 20+-scan candidate plan, the
    * dominant cost of `d_cc_components` — where one explode of the
    * (forward, reverse) struct pair emits the same row set from one eval. */
  private[graft] def ccEdges(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()

  /** Label seed with round 1 pre-applied: when every label is still the
    * identity, the first propagate simplifies to a bare neighbor-min
    * aggregate (no label join needed) — one whole round job saved. */
  private[graft] def ccSeed(edges: DataFrame): DataFrame =
    edges.groupBy(col("u"))
      .agg(least(col("u"), min(col("v"))).as("label"))
      .select(col("u").as("v"), col("label"))

  /** One CC round: propagate (min over self + neighbors — min()
    * partial-aggregates map-side, so a hub vertex with 10^4 neighbors
    * combines before the shuffle instead of hot-spotting one reducer;
    * skew-tested) then TWO pointer jumps `label(v) := label(label(v))`.
    * Output carries (v, label, chg) where `chg` marks labels that moved —
    * the convergence signal. Shared by the production loop and the skew
    * test (FunctionsSpec's giant-star case asserts `partial_min`), so the
    * tested plan IS the shipped plan. */
  private[graft] def ccRound(labels: DataFrame, edges: DataFrame): DataFrame = {
    val prop = edges.join(labels.select(col("v").as("u"), col("label")), "u")
      .groupBy(col("v")).agg(min(col("label")).as("nlabel"))
    var cur = labels.join(prop, Seq("v"), "left")
      .select(col("v"), col("label").as("old"),
        least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
    (0 until 2).foreach { _ =>
      val hop = cur.select(col("v").as("label"), col("label").as("ll"))
      cur = cur.join(hop, Seq("label"), "left")
        .select(col("v"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
    }
    cur.select(col("v"), col("label"), (col("label") =!= col("old")).as("chg"))
  }

  /** Edge-count gate below which the closure is computed driver-side: a
    * near-dup graph this small (≤ 2^20 edges ≈ 16 MB of id pairs — the same
    * bounded-collect class as the IVF centroid matrix or the benchmark
    * decontamination model) should not pay 5-7 rounds of cluster-wide
    * fixpoint jobs whose cost is pure scheduling overhead. The distributed
    * min-label loop engages above the gate; at web scale (billions of
    * edges) it is the only path that runs. The edge COUNT is known for free:
    * persisting the edge set is the loop's own first step. */
  val SmallGraphEdges: Long = 1L << 20

  /** Driver-side min-label Ordering for the union-find fast path — defined
    * ONLY for id types where it provably matches Spark's own min/least
    * comparison (the fast path's exact-parity contract): integral types are
    * trivial; strings MUST compare as unsigned UTF-8 bytes, because Spark's
    * UTF8String orders binary — Java's String.compareTo is UTF-16 code-unit
    * order, which disagrees for supplementary code points (surrogates
    * D800–DFFF sort below U+E000.. in UTF-16 but encode as F0.. > EF.. in
    * UTF-8). Any other id type (binary, decimal, date, timestamp, ...)
    * returns None and [[connectedComponents]] routes to the distributed
    * loop, which handles every orderable type natively (ADVICE r05: the
    * fast path must never NARROW the function's type contract). */
  private def driverMinOrdering(idType: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    idType match {
      case LongType    => Some(Ordering.by[Any, Long](_.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by[Any, Int](_.asInstanceOf[Int]))
      case StringType  => Some(new Ordering[Any] {
        def compare(x: Any, y: Any): Int = java.util.Arrays.compareUnsigned(
          x.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
      case _ => None
    }
  }

  /** Connected-component labeling over a near-duplicate pair table
    * `(a, b)` → `(doc_id, component)` where `component` is the minimum
    * doc_id of the cluster. Greedy keep-first dedup ([[dropNearDuplicates]])
    * under-merges chains (a~b, b~c but a!~b candidate-wise); component
    * closure is the standard web-pipeline fix.
    *
    * Algorithm: min-label propagation WITH pointer jumping — each round
    * first takes the min over neighbor labels, then shortcuts
    * `label(v) := label(label(v))` TWICE, ~4x'ing the effective propagation
    * distance: fixpoint in O(log diameter) rounds (a bare propagate-only
    * loop needs O(diameter) rounds — measured 10x slower on this corpus's
    * long near-dup chains). This is the shortcutting idea of the
    * large-star/small-star MapReduce CC family.
    *
    * Cost discipline (VERDICT r02 #1 — the r02 version spent 44 s cold in
    * the driver bench on a 25-edge graph, ~3 driver-synchronous jobs per
    * round): each round is now exactly ONE Spark action. The round start
    * label rides along as `old`, so the convergence check is a filter-count
    * over the round's own output instead of a separate join+count job; the
    * plan is truncated with a LAZY `localCheckpoint(false)` (LogicalRDD leaf
    * — without truncation the self-referencing joins nest the plan ~4x per
    * round and driver-side analysis goes exponential) whose materialization
    * is paid inside that same convergence count, not by its own eager job.
    * Identical repeated subtrees within the round (the jump feeds both sides
    * of its own join) are deduplicated by Spark's exchange reuse. The driver
    * only ever sees a COUNT; no row data is collected. Checkpoint blocks of
    * superseded rounds are reclaimed by the ContextCleaner once the loop
    * drops its references.
    */
  def connectedComponents(pairs: DataFrame,
                          smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    val spark = pairs.sparkSession
    val driverOrd = driverMinOrdering(pairs.schema.fields.head.dataType)
    val edges = ccEdges(pairs).persist()
    val nEdges = edges.count() // also materializes the persist
    if (nEdges <= smallGraphEdges && driverOrd.isDefined) {
      // driver union-find with min-label semantics — output is EXACTLY the
      // distributed loop's (every edge vertex labeled with its component's
      // min id), verified by the same DuckDB closure oracle
      val rows = edges.collect()
      edges.unpersist()
      val parent = scala.collection.mutable.HashMap[Any, Any]()
      val ord = driverOrd.get
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      rows.foreach { e =>
        val (u, v) = (e.get(0), e.get(1))
        parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) {
          // union by min: the smaller id becomes the root, so the root IS
          // the component label
          if (ord.lt(ru, rv)) parent(rv) = ru else parent(ru) = rv
        }
      }
      val out = parent.keys.toSeq.map(v => org.apache.spark.sql.Row(v, find(v)))
      val idType = pairs.schema.fields.head.dataType
      spark.createDataFrame(
        spark.sparkContext.parallelize(out, math.max(1, out.size / 250000)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", idType),
          org.apache.spark.sql.types.StructField("component", idType))))
    } else {
      // lazy checkpoint: truncated plan, cached on first use
      var labels = ccSeed(edges).localCheckpoint(false)
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < 50) {
        val next = ccRound(labels, edges).localCheckpoint(false)
        // the round's single action: materializes the checkpoint AND returns
        // the number of vertices whose label moved this round
        changed = next.where(col("chg")).count()
        labels = next.select(col("v"), col("label"))
        rounds += 1
      }
      edges.unpersist()
      // The result rides the final round's local checkpoint: its plan is
      // truncated (cheap to reuse) and its blocks spill to disk under memory
      // pressure; blocks free automatically when the reference is dropped.
      labels.select(col("v").as("doc_id"), col("label").as("component"))
    }
  }

  /** Shared closure-drop step: collapse each near-dup component of the pair
    * table to its min-id representative — keep-min semantics live HERE, in
    * one place, for every pair source (MinHash-LSH, exact Jaccard, SimHash). */
  private def dropByComponents(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.where(col("doc_id") =!= col("component")).select(col("doc_id"))
    documents.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Production composition: component closure over MinHash-LSH candidate
    * pairs. Unlike [[dropNearDuplicatesCC]]'s exact-Jaccard pair source,
    * LSH candidacy does NOT depend on shingle document frequency, so LARGE
    * duplicate clusters (boilerplate pages copied thousands of times — the
    * primary web-dedup target, where every shingle's df equals the cluster
    * size and a df-cap would hide them) are still found and collapsed to one
    * representative. Not SQL-oracle-able (hash-dependent); recall is
    * spec-tested with planted clusters. */
  def dropNearDuplicatesCCLsh(documents: DataFrame, threshold: Double = 0.8,
                              ngram: Int = 3, maxBandBucket: Int = 1024): DataFrame =
    dropByComponents(documents, minHashNearDuplicates(documents, threshold,
      ngram = ngram, maxBandBucket = maxBandBucket))

  /** Component-closure dedup over exact n-gram Jaccard pairs: every document
    * in a near-dup component except its min-id representative is dropped.
    * (The oracle-able composition: [[ngramJaccardPairs]] is exact, so the
    * components — and hence the survivors — are DuckDB-checkable via a
    * recursive transitive closure.) */
  def dropNearDuplicatesCC(documents: DataFrame, threshold: Double = 0.8,
                           ngram: Int = 3, maxDocFreq: Int = 100): DataFrame =
    dropByComponents(documents, ngramJaccardPairs(documents, ngram, threshold, maxDocFreq))

  // ------------------------------------------------------------- MinHash

  /** Candidate pairs of one LSH banding — the hot-band guard shared by
    * MinHash, SimHash and embedding-RHP. `banded` holds one row per (band
    * bucket, member); each bucket collects its `member` values and emits
    * its candidate edges in-row as a struct column `p` of (a, b) members
    * ([[BucketPairsExpr]], a fused native loop): exhaustive
    * (least, greatest) pairs for buckets within `cap`, min-member-hub star
    * edges past it. See [[minHashNearDuplicates]] for the full scale
    * rationale and the documented recall trade.
    *
    * Hot-bucket observability (ADVICE r05: "quantify how often the recall
    * trade is actually exercised"): the bucket aggregation carries a named
    * `observe` metric `graft.<op>.bands.<seq>` — zero execution cost (the
    * aggregates ride the rows already flowing) — reporting how many buckets
    * exceeded the cap (→ star-edge synthesis), the largest bucket seen, and
    * the bucket count. Production reads it via a QueryExecutionListener;
    * tests and notebooks via `df.queryExecution.observedMetrics` after any
    * action. The sequence suffix keeps two capped ops composed into ONE
    * query (e.g. a MinHash and a SimHash pass unioned) from colliding. */
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong()
  private def bandPairs(banded: DataFrame, bucketCols: Seq[String], member: Column,
                        op: String, cap: Int): DataFrame = {
    val ms = col("ms")
    banded.groupBy(bucketCols.map(col): _*).agg(collect_list(member).as("ms"))
      .observe(s"graft.$op.bands.${obsSeq.incrementAndGet()}",
        sum(when(size(ms) > cap, 1L).otherwise(0L)).as("n_hot_buckets"),
        max(size(ms)).as("max_bucket"),
        count(lit(1)).as("n_buckets"))
      .select(explode(BucketPairsExpr(ms, cap)).as("p"))
  }

  /** The rows of `rows` whose `idCol` appears in a candidate pair table
    * `(a, b)`: a semi join against the broadcast candidate-id set, placed
    * by the caller BELOW any heavy per-row projection, so that projection
    * runs for candidates only (the optimizer's LeftSemi pushdown does not
    * dig under a projection on its own). The id broadcast is bounded by the
    * capped candidate set, and re-evaluating the banding subtree for it is
    * absorbed by exchange reuse. */
  private def candidateRows(rows: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    rows.join(broadcast(pairs.select(explode(array(col("a"), col("b"))).as(idCol)).distinct()),
      Seq(idCol), "left_semi")

  /** LSH candidate pairs: band the signature (`numBands` bands of
    * `rowsPerBand` slots), hash each band, and synthesize candidate edges
    * per band bucket. Plan discipline for scale:
    *  1. shingles are materialized ONCE per row (not re-derived per hash);
    *  2. banding shuffles ONLY (band_hash, doc_id) pairs — never the
    *     signature or shingle payloads — through a single groupBy whose
    *     buckets emit their candidate edges in-row (no self-join);
    *  3. payloads re-join onto the (small) deduped candidate set afterwards
    *     (AQE broadcasts the feature side when it fits).
    * Returns pairs (a < b) with estimated (signature-agreement) and exact
    * n-gram Jaccard, filtered at `threshold`.
    *
    * `maxBandBucket` — the HOT-band guard: a legitimate near-identical
    * cluster of k documents (viral boilerplate copied across k pages — the
    * primary web-dedup target) lands all k members in the SAME band bucket,
    * and the self-join would emit O(k²) candidate pairs per band; AQE's
    * skew split parallelizes that bucket but cannot shrink its quadratic
    * OUTPUT (10^10 pairs for a 100k cluster). Buckets larger than the cap
    * therefore switch to STAR candidates: every member paired with the
    * bucket's min-id hub — O(k) edges that keep the cluster fully connected
    * for the CC-closure drop path (the production consumer). Documented
    * recall trade for the PAIRS REPORT: member–member pairs of a hot bucket
    * are only reported transitively through the hub, so a member pair whose
    * direct Jaccard passes `threshold` while both hub Jaccards fail is
    * missed — in a bucket of LSH near-identical docs the hub is near every
    * member, so the loss is second-order (spec-tested with a planted hot
    * cluster). Small buckets are exhaustive exactly as before.
    */
  def minHashNearDuplicates(documents: DataFrame, threshold: Double = 0.8,
                            numHashes: Int = 32, numBands: Int = 8,
                            ngram: Int = 3, maxBandBucket: Int = 1024): DataFrame = {
    require(maxBandBucket >= 2, s"maxBandBucket must be >= 2, got $maxBandBucket")
    // numBands > numHashes would make rowsPerBand 0 — every band hash a
    // per-band CONSTANT shared by all documents, degenerating the band
    // self-join into the full O(N²) cross product this function exists to
    // avoid; non-divisible combos would silently ignore trailing slots
    require(numBands >= 1 && numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands ($numBands)")
    val rowsPerBand = numHashes / numBands
    // ONE fused text→(signature, shingle-hash) eval per row (a
    // CodegenFallback expression with HOF children drags those children into
    // interpreted eval, and two separate fused expressions would redo the
    // tokenize+shingle+hash sweep — both measured as dominant costs of
    // earlier formulations). Null-text docs have a null struct and are
    // EXCLUDED here: they can be near-duplicates of nothing, and their
    // null signatures would otherwise all share the constant per-band hash
    // xxhash64(lit(b)) (xxhash64 skips null arguments), turning k null docs
    // into an O(k²) band-join blowup. The unscorable pass-through contract
    // lives in the drop* wrappers (left-anti keeps non-candidates).
    // The sketch is recomputed, never cached: a MEMORY_AND_DISK
    // materialization of the (sig, shingles) arrays for the verify branches
    // measured slower at sf0.1 (warm JVM, interleaved, min-of-3: 0.693 s
    // uncached vs 0.855 s cached) — writing + reading ~4 KB of long-arrays
    // per doc through the columnar cache costs MORE than the sketch sweeps
    // it saves; and at the 10^12-doc design point the cache side collapses
    // entirely (petabytes of MEMORY_AND_DISK spill vs pure CPU on rows
    // already flowing).
    // r07: the null gate is `text IS NOT NULL` BEFORE the projection, not
    // `f IS NOT NULL` after it — the two are equivalent (the fused expr is a
    // nullSafeEval UnaryExpression: null out iff null in), but the latter
    // alias-substitutes into a Filter BELOW the sketch Project, evaluating
    // the whole tokenize+shingle+hash sweep TWICE per row in every consumer
    // branch (Filter has no cross-operator CSE with Project — PlanShapeSpec's
    // minhash hot-cluster test bounds the sketch sites) and keeps IsNotNull
    // out of the scan's PushedFilters.
    val scorableDocs = documents.where(col("text").isNotNull)
    val sigs = scorableDocs
      .select(col("doc_id"), MinHashWithShinglesExpr(col("text"), numHashes, ngram).as("f"))
      .select(col("doc_id"), col("f.sig").as("sig"))
    // band key = xxhash64 over the band's signature slots directly (slots
    // resolved at plan time) — fully codegen
    val bandHashes = (0 until numBands).map { b =>
      xxhash64((lit(b) +: (0 until rowsPerBand).map(j =>
        element_at(col("sig"), b * rowsPerBand + j + 1))): _*)
    }
    val banded = sigs.select(col("doc_id"),
      explode(array(bandHashes: _*)).as("band_hash"))
    // ONE aggregation replaces the band self-join entirely: each bucket row
    // carries its member ids and emits its candidate edges IN-ROW —
    // exhaustive (least, greatest) pairs for buckets within maxBandBucket,
    // hub (min-id) star edges past it. Structurally a single consumer of
    // the sketch subtree, so the banding phase costs exactly ONE sketch
    // sweep no matter what — an earlier window+self-join formulation had
    // three consumers whose exchanges Catalyst failed to canonicalize
    // together (column pruning differentiated the subtrees), re-evaluating
    // the interpreted sketch 5x (caught in the executed plan; PlanShapeSpec's
    // minhash hot-cluster test now bounds the sketch sites). Bucket ROW
    // size is O(members): fine through multi-million clusters (8 MB of
    // longs per 10^6 members); the quadratic OUTPUT is what the cap bounds.
    val cand = bandPairs(banded, Seq("band_hash"), col("doc_id"), "minhash", maxBandBucket)
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    // exact-Jaccard verification ONLY on the candidate set, via the
    // PRECOMPUTED per-doc arrays. The r03 shape re-ran the fused sketch AND
    // an interpreted word-shingle HOF per CANDIDATE PAIR SIDE: candidates
    // grow superlinearly with corpus size (band collisions are pairwise), so
    // at 20k bench docs that was millions of candidates × milliseconds of
    // interpreted eval each — a multi-hour stall (caught live in the r04
    // pipeline run). O(corpus) beats O(candidates × doc_len) the moment
    // candidates exceed the corpus, which is exactly the regime LSH is for.
    //
    // The verify branches re-run the sketch for candidate docs only
    // ([[candidateRows]]): a candidate-id probe above the sketch projection
    // would pay tokenize+shingle+hash for every corpus row only to fail it.
    val vf = candidateRows(scorableDocs, "doc_id", cand)
      .select(col("doc_id"), MinHashWithShinglesExpr(col("text"), numHashes, ngram).as("f"))
      .select(col("doc_id"), col("f.sig").as("sig"), col("f.sh").as("sh"))
    cand
      .join(vf.select(col("doc_id").as("a"), col("sig").as("sig_a"), col("sh").as("sh_a")), Seq("a"))
      .join(vf.select(col("doc_id").as("b"), col("sig").as("sig_b"), col("sh").as("sh_b")), Seq("b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), p => p))
          .cast("double") / lit(numHashes.toDouble))
      // Jaccard over the 8-byte shingle HASHES — identical to string-shingle
      // Jaccard up to 64-bit collisions (the same equivalence the
      // d_ngram_jaccard oracle rests on), with native long-array intersects
      // instead of interpreted string-array ops
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("est_jaccard"), 6).as("est_jaccard"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact Jaccard of two (distinct) shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)).cast("double"), lit(1.0))

  /** Word n-gram Jaccard near-dups: exact pairwise within minhash candidate
    * recall is the production path; this direct variant (shared-shingle
    * inverted-index join) is exact up to the document-frequency cap and still
    * avoids the cross product.
    *
    * `maxDocFreq` (VERDICT r01 #8): a shingle occurring in more than
    * `maxDocFreq` documents is excluded from the inverted index BEFORE the
    * self-join — without it, one high-frequency shingle creates an O(df²)
    * bucket (a full-corpus quadratic blowup on a skewed key at web scale).
    * Standard in web-dedup pipelines: ultra-common shingles carry no
    * near-duplicate signal FOR SMALL CLUSTERS; the Jaccard itself stays
    * exact over the full shingle sets. The cap must be mirrored in any
    * comparison oracle.
    *
    * KNOWN LIMIT (by construction): a duplicate CLUSTER larger than
    * `maxDocFreq` has NO rare shingles — every shared shingle's df equals
    * the cluster size — so this path generates no candidates for it. That
    * regime belongs to exact dedup (identical copies) and to the
    * MinHash-LSH path, whose banding is df-independent
    * ([[dropNearDuplicatesCCLsh]] is the production compose for it).
    */
  def ngramJaccardPairs(documents: DataFrame, n: Int = 3, threshold: Double = 0.5,
                        maxDocFreq: Int = 100): DataFrame = {
    // one-pass fused shingle hashing: every downstream shuffle/intersection
    // keys on 8-byte longs, never on shingle strings (measured ~10x at sf0.1)
    //
    // r07 restructure — THREE corpus sweeps total. The r06 shape consumed
    // the shingle subtree from SIX branches (df aggregate, self-join x/y,
    // n_hot semi join, sizes scan, fuzzy-verify a/b), which Catalyst could
    // not canonicalize together: the executed plan carried 22 parquet scans
    // of the corpus, each re-running the fused tokenize+shingle+hash
    // expression (and d_cc_components paid the whole tree twice through
    // ccEdges — 44 scans; PlanShapeSpec now bounds the scans). Now:
    //   sweep 1 — shingle document frequencies (count only, no member lists:
    //             a web-scale stop-shingle's bucket must never materialize);
    //   sweep 2 — under-cap bucket member lists (bounded by maxDocFreq) →
    //             candidate pairs + |A∩B| synthesized IN-ROW per bucket,
    //             the [[minHashNearDuplicates]] bucket-aggregation pattern —
    //             no self-join, count per (a,b) = shared under-cap shingles;
    //   sweep 3 — ONE doc-keyed aggregate carrying both the per-doc set size
    //             and the (short) hot-shingle array, so the former fuzzy-
    //             verify re-derivation of full shingle arrays is replaced by
    //             pure hash-array arithmetic on the candidate set:
    //             |A∩B|_true = ic + |hot_A ∩ hot_B| — same integers, same
    //             doubles, same rounding as the full-array Jaccard.
    // explicit (vacuously true for any sane corpus) doc_id null-gate: the
    // downstream inner joins push `isnotnull(a)`/`isnotnull(b)` into the two
    // stats branches but not into the bucket branch, de-canonicalizing the
    // three consumers of this subtree and defeating exchange reuse (the
    // Packing.packByCount bucket-gate trick). Output is unchanged either
    // way: a null doc_id never survives collect_list or the candidate joins.
    val inv = documents.where(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(ShingleHashExpr(col("text"), n)).as("g"))
    // document-frequency cap: shingle sets are distinct per doc, so count = df.
    // The cap is applied as a LEFT ANTI join against the HOT set (df > cap) —
    // the inverse of a keep-set semi join. The hot set is small by
    // construction at ANY scale (shingles shared by >maxDocFreq docs — the
    // stop-phrase tail), so it broadcasts for real, where the keep set is
    // nearly the whole vocabulary: building that broadcast hash table
    // dominated this operator's wall time (measured 8.2 → 3.4 s at sf0.1).
    // The df aggregate itself partial-aggregates map-side — hot shingles
    // combine before the shuffle, never hot-spotting one reducer.
    val hot = inv.groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq).select(col("g"), lit(true).as("ih"))
    // ONE hot-marking left join shared by both aggregations: expressing the
    // under-cap restriction as `ih IS NULL` over the SAME left join (hot g
    // is unique, so no row multiplication; exact anti-join semantics) keeps
    // the two broadcast subtrees identical, so the df-aggregate broadcast
    // builds once and is exchange-reused — the former left_anti/left pair
    // de-canonicalized under column pruning and built it twice
    val marked = inv.join(broadcast(hot), Seq("g"), "left")
    // under-cap buckets (≤ maxDocFreq members each): candidate pairs and
    // their intersection cardinality from ONE aggregation — each bucket
    // emits its (least, greatest)-ordered member pairs in-row, and the
    // count per (a, b) IS |A∩B| over the capped sets (each shared under-cap
    // shingle contributes its pair exactly once)
    val ids = col("ids")
    val ic = marked.where(col("ih").isNull)
      .groupBy(col("g")).agg(collect_list(col("doc_id")).as("ids"))
      .where(size(ids) > 1)
      // uncapped (maxDocFreq bounds every bucket) fused pair synthesis —
      // same (least, greatest) pair stream, native loop instead of the
      // interpreted nested-transform HOF chain ([[BucketPairsExpr]])
      .select(explode(BucketPairsExpr(ids, Int.MaxValue)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("ic"))
    // per-doc stats in ONE aggregate: total distinct-shingle count (inv rows
    // per doc) + the doc's hot shingles (collect_list skips the nulls the
    // `when` leaves for under-cap rows; bounded by the doc's own length)
    val stats = marked
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_all"),
        collect_list(when(col("ih"), col("g"))).as("hg"))
    val cand = ic
      .join(stats.select(col("doc_id").as("a"), col("n_all").as("na"), col("hg").as("ha")), Seq("a"))
      .join(stats.select(col("doc_id").as("b"), col("n_all").as("nb"), col("hg").as("hb")), Seq("b"))
    // true intersection = shared under-cap (ic) + shared hot (array work on
    // the SHORT per-doc hot arrays only — both empty for the common case);
    // Jaccard = |A∩B| / (|A| + |B| − |A∩B|), identical integer arithmetic —
    // hence bit-identical doubles — to the former full-array verify
    cand
      .withColumn("it", col("ic") + size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard",
        round(col("it").cast("double") / (col("na") + col("nb") - col("it")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  // ----------------------------------------------------- decontamination

  /** Benchmark decontamination (the GPT-3/PaLM n-gram collision method):
    * count, per training document, its collisions with an evaluation set. A
    * training corpus must not contain eval data — leaked benchmark text
    * inflates measured model quality — so this stage is as standard in a
    * training pipeline as dedup itself.
    *
    * Benchmark items route disjointly by length (so nothing double-counts):
    *  - items LONGER than `ngram` tokens → distinct shared word n-grams,
    *    hashed to 8-byte longs map-side (fused [[ShingleHashExpr]], same
    *    discipline as [[ngramJaccardPairs]]) and joined against the doc
    *    shingles;
    *  - items of `ngram` tokens or fewer — a 10-token eval question has NO
    *    13-gram, so the hash path is structurally blind to it — → exact
    *    token-boundary containment (`' item '` inside the space-padded
    *    normalized doc), each matched item counting as one collision.
    *
    * Plan shape for 100 TB training vs KB-GB benchmark: the n-gram
    * vocabulary and the short-item list both broadcast; the training
    * corpus never shuffles — its only Exchange is the final per-doc count.
    * The short-item pass costs a second corpus scan; it exists because
    * correctness beats scan count here — a decontamination stage that
    * silently passes short eval items is worse than a slower one.
    * Documents sharing nothing produce no row (the common case; compose
    * with [[dropContaminated]] for the filter form).
    */
  def contaminationReport(documents: DataFrame, benchmark: DataFrame,
                          ngram: Int = 13): DataFrame = {
    require(ngram >= 1, s"ngram must be >= 1, got $ngram")
    val bnorm = benchmark.select(TextAnalysis.normalized(col("text")).as("item"))
      .where(col("item") =!= "")
      .withColumn("n_tok", size(split(col("item"), " ")))
    val benchSh = bnorm.where(col("n_tok") > ngram)
      .select(explode(ShingleHashExpr(col("item"), ngram)).as("g")).distinct()
    val shortItems = bnorm.where(col("n_tok") <= ngram).select(col("item")).distinct()
    val docSh = documents.select(col("doc_id"),
      explode(ShingleHashExpr(col("text"), ngram)).as("g"))
    val ngramHits = docSh.join(broadcast(benchSh), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_collisions"))
    val shortHits = documents
      .select(col("doc_id"),
        concat(lit(" "), TextAnalysis.normalized(col("text")), lit(" ")).as("padded"))
      .join(broadcast(shortItems), expr("instr(padded, concat(' ', item, ' ')) > 0"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_collisions"))
    ngramHits.unionByName(shortHits)
      .groupBy("doc_id").agg(sum(col("n_collisions")).as("n_collisions"))
  }

  /** Filter form: drop every training document with at least `minCollisions`
    * benchmark collisions (shared n-grams + matched short items). */
  def dropContaminated(documents: DataFrame, benchmark: DataFrame,
                       ngram: Int = 13, minCollisions: Int = 1): DataFrame = {
    require(minCollisions >= 1, s"minCollisions must be >= 1, got $minCollisions")
    val flagged = contaminationReport(documents, benchmark, ngram)
      .where(col("n_collisions") >= minCollisions).select(col("doc_id"))
    documents.join(flagged, Seq("doc_id"), "left_anti")
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token multiset: per-bit majority vote of token
    * hashes, as a fused one-pass native expression (tokenize + hash + vote —
    * see [[SimHashTextExpr]]; a fallback expression with HOF children would
    * drag them into interpreted eval). */
  def simHash(text: Column): Column = SimHashTextExpr(text)

  /** SimHash near-dups: band the 64-bit signature into `maxHamming + 1`
    * chunks — the pigeonhole bound: ≤ maxHamming differing bits cannot touch
    * every chunk, so a true near-dup pair always shares one verbatim — group
    * on chunks, verify the exact hamming distance. (The chunk count was
    * previously hardcoded to 4, silently losing recall for any radius > 3.)
    * Default radius 3 keeps the classic 4×16-bit layout. Wider radii mean
    * narrower chunks and hotter buckets — the usual LSH recall/cost dial.
    *
    * `maxBandBucket` — the same hot-band guard as [[minHashNearDuplicates]],
    * and MORE load-bearing here (VERDICT r05 #1): a 16-bit chunk is far
    * coarser than a MinHash band hash, so a near-identical cluster of k
    * documents (the viral-boilerplate case) shares EVERY chunk verbatim and
    * the former band self-join emitted O(k²) candidates per band — this was
    * the first path to hit the quadratic wall at scale. The banding is now
    * ONE aggregation per (band, chunk) bucket whose row carries
    * (doc_id, sig) members — the signature is 8 bytes, so the Hamming
    * verify happens IN-ROW on the synthesized pairs with no join back:
    * exhaustive pairs within `maxBandBucket`, min-id-hub star edges past
    * it. Same documented recall trade as MinHash: a hot bucket's member
    * pairs are reported transitively through the hub, so a member pair
    * within `maxHamming` whose hub distances both exceed it is missed —
    * second-order for a bucket of chunk-identical docs (the hub shares the
    * chunk with every member; planted-cluster spec). Buckets report
    * cap-exceedance via [[bandPairs]].
    *
    * Null-text docs have a null signature and are EXCLUDED before banding
    * (unchanged semantics: the former join's non-null-safe equality already
    * never paired them, but a groupBy treats null chunks as a REAL group,
    * which would clique k null docs together). */
  def simHashNearDuplicates(documents: DataFrame, maxHamming: Int = 3,
                            maxBandBucket: Int = 1024): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    require(maxBandBucket >= 2, s"maxBandBucket must be >= 2, got $maxBandBucket")
    val numChunks = maxHamming + 1
    val starts = (0 to numChunks).map(i => i * 64 / numChunks)
    val chunks = (0 until numChunks).map { i =>
      val width = starts(i + 1) - starts(i)
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftright(col("sig"), starts(i)).bitwiseAND(lit(mask))
    }
    // null gate on text BEFORE the projection (equivalent: the fused sig is
    // null iff text is null) — the post-projection `sig IS NOT NULL` form
    // alias-substituted into a Filter that re-ran the whole SimHash sweep
    // per row below the Project (same r07 fix as [[minHashNearDuplicates]])
    val sigs = documents.where(col("text").isNotNull)
      .select(col("doc_id"), simHash(col("text")).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array(chunks: _*)).as(Seq("band_idx", "chunk")))
    // fused pair synthesis over the (doc_id, sig) member structs
    // ([[BucketPairsExpr]], r07): struct ordering is lexicographic and
    // doc_id — unique within a bucket — leads, so pairs come out
    // (a < b)-ordered and the star hub is the min-id member exactly as the
    // former sort_array + positional-slice HOF chain produced (the sort
    // itself is no longer needed; the expression orders each pair and finds
    // the hub in one native loop instead of interpreted per-element lambdas)
    bandPairs(banded, Seq("band_idx", "chunk"), struct(col("doc_id"), col("sig")),
        "simhash", maxBandBucket)
      .select(col("p.a.doc_id").as("a"), col("p.b.doc_id").as("b"),
        col("p.a.sig").as("sig_a"), col("p.b.sig").as("sig_b"))
      .dropDuplicates("a", "b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Component-closure drop over SimHash pairs — completes the drop-form
    * matrix (exact / MinHash-LSH / n-gram-Jaccard / SimHash each have both a
    * pair REPORT and a survivors DROP): near-identical documents by Hamming
    * distance collapse to their min-id representative. Same CC machinery,
    * same keep-min semantics as [[dropNearDuplicatesCCLsh]]. */
  def dropNearDuplicatesSimHash(documents: DataFrame, maxHamming: Int = 3,
                                maxBandBucket: Int = 1024): DataFrame =
    dropByComponents(documents, simHashNearDuplicates(documents, maxHamming, maxBandBucket))

  // -------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicates, LSH-bucketed (the 100 TB path): pairs
    * must share at least one random-hyperplane signature band to be scored —
    * a bucket self-join instead of the cross product. High-cosine pairs have
    * near-identical sign patterns, so recall at near-dup thresholds is high
    * (verified against [[embeddingNearDuplicates]] in tests).
    *
    * Band geometry is the SCALE dial (round 6; previously 32 bits / 8 bands
    * = 4-bit keys): a random pair collides in a w-bit band with probability
    * ≈ 2^-w, so expected bucket size is n·2^-w — 4-bit keys fill every
    * bucket once n passes ~16k, making the candidate set quadratic in n for
    * UNRELATED vectors (and the cap would then cost real recall). Choose
    * w ≳ log2(n / target bucket). The defaults — 256 hyperplanes
    * ([[graft.functions.RhpMultiSigExpr]], multi-word signature), 16 bands
    * of 16-bit keys — keep random buckets ≈ n/65536 (tens at 10^6 vectors;
    * raise `bits` again past ~10^8). Recall: per-plane agreement at cosine s
    * is q = 1 − arccos(s)/π; a band matches with q^w and some band matches
    * with 1 − (1 − q^w)^numBands ≈ 0.96 at s = 0.95, ≈ 0.999 at s = 0.98
    * (the recall spec's regime).
    *
    * `maxBandBucket` (VERDICT r05 #2) — the same hot-band guard as
    * [[minHashNearDuplicates]], now guarding TRUE near-identical clusters
    * rather than random pileups: k re-encoded copies of one viral page share
    * every sign pattern, so an uncapped band join emits O(k²) candidates.
    * Buckets over the cap emit min-id-hub star edges instead — O(k), cluster
    * stays connected for a downstream CC drop. Recall trade mirrors the
    * MinHash note: hot-bucket member pairs are reported only transitively
    * through the hub, and in a bucket of sign-identical embeddings the hub's
    * cosine to every member is as high as any member pair's — second-order
    * loss, planted-cluster spec. Cap exceedance is observable via the
    * `graft.embed_lsh.bands.*` metric ([[bandPairs]]). */
  def embeddingNearDuplicatesLsh(embeddings: DataFrame, threshold: Double = 0.95,
                                 bits: Int = 256, numBands: Int = 16,
                                 maxBandBucket: Int = 1024): DataFrame = {
    require(maxBandBucket >= 2, s"maxBandBucket must be >= 2, got $maxBandBucket")
    // per-row one-pass packed signature banded into bits/numBands-bit
    // chunks; the band aggregation ships (band, id) only
    val cand = bandPairs(Similarity.rhpBands(embeddings, "vec_id", bits, numBands),
        Seq("band_idx", "band_key"), col("vec_id"), "embed_lsh", maxBandBucket)
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    // norms computed ONCE per row here, never per candidate pair, and only
    // for candidate vectors: the candidate-id semi join sits BELOW the norm
    // projection ([[candidateRows]]; PlanShapeSpec asserts it)
    val feats = candidateRows(embeddings, "vec_id", cand)
      .select(col("vec_id"), col("embedding"),
        graft.functions.L2NormExpr(col("embedding")).as("norm"))
    val fa = feats.select(col("vec_id").as("a"), col("embedding").as("va"), col("norm").as("na"))
    val fb = feats.select(col("vec_id").as("b"), col("embedding").as("vb"), col("norm").as("nb"))
    cand.join(fa, "a").join(fb, "b")
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Embedding-cosine near-duplicates over `embeddings(vec_id, embedding)`:
    * exact pairwise cosine above threshold. [[embeddingNearDuplicatesLsh]]
    * is the scale path; this exact form serves as its recall
    * oracle at test scale. */
  def embeddingNearDuplicates(embeddings: DataFrame, threshold: Double = 0.95): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"),
      Similarity.l2Norm(col("embedding")).as("norm"))
    val a = e.select(col("vec_id").as("a"), col("embedding").as("va"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("b"), col("embedding").as("vb"), col("norm").as("nb"))
    a.crossJoin(b).where(col("a") < col("b"))
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): remove every duplicated `windowTokens`-token
    * span from all but its CANONICAL occurrence — the min (doc_id, pos)
    * across the corpus. Exact duplicate docs collapse to one copy as a
    * special case (the non-canonical copy is fully covered and drops), but
    * the operator's real target is PARTIAL duplication the doc-level
    * dedups cannot see: boilerplate paragraphs, licence blocks, quoted
    * chunks — memorization fuel that survives doc-granularity dedup.
    *
    * Semantics (deterministic, engine-independent): tokens are the
    * whitespace split of trimmed text; a token position is removed iff
    * some window covering it is a non-canonical occurrence of a key shared
    * by ≥ 2 (doc, pos) sites. A doc with a removed token becomes its KEPT
    * token stream joined by single spaces (whitespace-normalized — the
    * token stream is what a trainer consumes); a doc with no removed token
    * keeps its text byte-for-byte; docs left with zero tokens drop;
    * null/blank-text docs pass unchanged (the unscorable-rows-pass
    * contract). Window keys are md5 of the joined window (16 bytes through
    * the shuffle instead of a W-token string; both engines compute
    * identical md5); the canonical occurrence is `min(struct(doc_id,
    * pos))` — lexicographic struct ordering, so any orderable id type
    * (long, string, binary) works and no doc-length bound is assumed.
    *
    * Plan shape at 100 TB — the honest cost of exact-substring dedup is
    * one (key, doc, pos) row PER TOKEN through a shuffle (the single-node
    * reference design is a suffix array; a corpus-wide suffix array does
    * not distribute, window-hash inversion does):
    *  1. Windows pass: corpus scan → per-row window synthesis (HOF
    *     transform, no explode of the heavy text) → partial/final
    *     count+min aggregate on the 16-byte key. Map-side combine absorbs
    *     hot boilerplate keys; only keys, never text, shuffle.
    *  2. Duplicated-window occurrences re-derive on a second scan and join
    *     the |dup-keys|-sized canon table (AQE broadcasts when small), then
    *     collapse to per-doc COVERAGE INTERVALS: overlapping/adjacent
    *     removal windows merge (lag + running block id + min/max per
    *     block), so a contiguous duplicated block of any length costs ONE
    *     (start, end) struct, not one entry per window — the payload and
    *     the rewrite filter scale with duplicated BLOCKS, not tokens. The
    *     window function, the block aggregate, and the per-doc collect all
    *     cluster on doc_id, so the merge rides the single removals shuffle
    *     (hashpartitioning(doc_id) satisfies every downstream clustering).
    *  3. Rewrite pass: third corpus scan joins the per-doc interval lists
    *     (small side) and filters tokens IN-ROW with an index HOF — no
    *     token explode, no regroup shuffle of the corpus.
    */
  def dropDuplicatedSubstrings(documents: DataFrame,
                               windowTokens: Int = 10): DataFrame = {
    val W = windowTokens
    require(W >= 2, s"windowTokens must be >= 2, got $W")
    val scorable = col("text").isNotNull && length(trim(col("text"))) > 0
    val toks = documents.where(scorable)
      .withColumn("t", split(trim(col("text")), "[ \t\n\f\r]+"))
    // window keys synthesized in-row (transform over start positions), so
    // the corpus text never explodes; posexplode_outer + pos filter keeps
    // InferFiltersFromGenerate from re-evaluating the synthesis (r02 fix)
    def windows(df: DataFrame): DataFrame = df
      .where(size(col("t")) >= W)
      .select(col("doc_id"), posexplode_outer(
        transform(sequence(lit(0), size(col("t")) - W),
          p => md5(concat_ws(" ", slice(col("t"), p + 1, lit(W)))))
      ).as(Seq("pos", "key")))
      .where(col("pos").isNotNull)
    val canon = windows(toks)
      .groupBy("key")
      .agg(count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("pos"))).as("c"))
      .where(col("n") > 1)
      .select(col("key"), col("c"))
    val removals = windows(toks).join(canon, Seq("key"))
      .where(struct(col("doc_id"), col("pos")) =!= col("c"))
      .select(col("doc_id"), col("pos"))
    // merge overlapping/adjacent windows into coverage intervals: sorted
    // within doc, a start opens a new block iff it clears the previous
    // window entirely (pos > prev + W ⇒ a ≥1-token gap survives between)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val intervals = removals
      .withColumn("nb", when(col("pos") >
        lag(col("pos"), 1, Int.MinValue).over(byDoc) + W, 1).otherwise(0))
      .withColumn("blk", sum(col("nb")).over(byDoc))
      .groupBy(col("doc_id"), col("blk"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + W).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("riv"))
    val rewritten = toks.join(intervals, Seq("doc_id"), "left")
      .withColumn("kept", when(col("riv").isNull, col("t")).otherwise(
        filter(col("t"), (_, i) =>
          !exists(col("riv"), iv =>
            iv.getField("s") <= i && i < iv.getField("e")))))
      .where(size(col("kept")) > 0)
    val out = rewritten
      .withColumn("text", when(col("riv").isNull, col("text"))
        .otherwise(concat_ws(" ", col("kept"))))
      .drop("t", "riv", "kept")
    out.unionByName(documents.where(!scorable))
  }
}
