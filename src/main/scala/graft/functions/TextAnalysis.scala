package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over a
  * `documents(doc_id, text, lang, source, n_chars)` table. All are pure
  * Catalyst column expressions (codegen'd, no UDFs) so they run inside
  * whole-stage codegen at 100 TB and push down through the parquet scan.
  */
object TextAnalysis {

  /** The whitespace class, written out EXPLICITLY rather than as `\s`:
    * Java's `\s` additionally matches U+000B (vertical tab) while the
    * DuckDB oracle's RE2 `\s` does not — an implicit-class regex silently
    * diverges across the two engines on such text. This explicit class is
    * also exactly `SketchTokens.isWs`, so the HOF ops and the fused sketch
    * expressions tokenize identically. */
  private[graft] val wsClass = "[ \\t\\n\\f\\r]+"

  /** Whitespace-collapse + lowercase normalization (shared by fingerprint +
    * dedup; deterministic and engine-portable). */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), wsClass, " "))

  /** Content fingerprint = md5 of the normalized text — exact-dup key. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), wsClass)))

  /** BPE-ish subword count estimate: word-piece regex split — counts runs of
    * letters, digits, and single punctuation marks the way byte-pair
    * tokenizers fragment text (upper bound of the true BPE length). The
    * zero-width split leaves a phantom empty string when the text ends at a
    * boundary (Java split keeps trailing empties under a lookaround
    * pattern); only non-empty pieces count. */
  def subwordCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(array_remove(
        split(trim(text), "(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])"), "")))

  private val enStop = Seq("the", "of", "and", "to", "a", "in", "is", "it", "that", "was")
  private val deStop = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "sich")
  private val frStop = Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour")
  private val esStop = Seq("el", "los", "y", "es", "en", "un", "una", "por", "con", "para")

  private[graft] def tokens(text: Column): Column = split(normalized(text), " ")

  private def stopHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit): _*)))

  /** N-gram/stopword-heuristic language ID over {en, de, fr, es}: argmax of
    * per-language stopword hits, `und` (unknown) when no list scores.
    * Tie-break by fixed language order (deterministic).
    */
  def langGuess(text: Column): Column = {
    val en = stopHits(text, enStop); val de = stopHits(text, deStop)
    val fr = stopHits(text, frStop); val es = stopHits(text, esStop)
    val m = greatest(en, de, fr, es)
    // null text → null hits → every condition below is null (skipped) → the
    // otherwise() would confidently label a null doc "es"; gate it first
    when(text.isNull, lit("und"))
      .when(m === 0, lit("und"))
      .when(en === m, lit("en")).when(de === m, lit("de"))
      .when(fr === m, lit("fr")).otherwise(lit("es"))
  }

  /** Quality score in [0,1]: blend of alphabetic ratio, stopword ratio and a
    * length prior — the standard cheap pre-filters of web-corpus pipelines.
    * Integer-count arithmetic + one final round → bit-identical across
    * engines.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val alpha = (length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
      greatest(len, lit(1.0)))
    val nTok = tokenCount(text).cast("double")
    val stop = stopHits(text, enStop).cast("double") / greatest(nTok, lit(1.0))
    val lenScore = least(len / lit(500.0), lit(1.0))
    round(alpha * 0.4 + least(stop * lit(3.0), lit(1.0)) * 0.3 + lenScore * 0.3, 6)
  }

  /** Gopher-style heuristic quality rules (Rae et al. 2021 §A1.1, the
    * standard web-pipeline repetition/format gate, thresholds adapted to
    * this corpus's scale): per-document rule measurements plus the composite
    * `keep` verdict. All pure codegen column expressions over ONE scan — at
    * 100 TB this runs inside the parquet scan's WholeStageCodegen with no
    * shuffle at all (the filter form is `where(keep)`).
    *
    *  - token count within [minTokens, maxTokens]
    *  - mean word length within [minMeanWordLen, maxMeanWordLen]
    *    (normalized text has single spaces, so mean = (len − (n−1)) / n)
    *  - symbol ratio (chars outside [a-z0-9 space] in the normalized text)
    *    at most maxSymbolRatio
    *  - fraction of tokens containing a letter at least minAlphaTokenFrac
    *  - at least minStopHits English stopword hits (the Gopher "stop word"
    *    rule; non-English docs fail it by design — run per-language lists
    *    upstream of this gate if the corpus is multilingual and that is not
    *    intended)
    *
    * Null-text docs are unscorable: measurement columns stay null and
    * `keep` is false (same contract as quality ranking). */
  /** The five rule measurement expressions + the composite keep predicate
    * over a `text` column — one construction shared by the report form
    * ([[gopherRules]]) and the filter form ([[gopherKeep]]). */
  private def gopherExprs(minTokens: Int, maxTokens: Int,
                          minMeanWordLen: Double, maxMeanWordLen: Double,
                          maxSymbolRatio: Double, minAlphaTokenFrac: Double,
                          minStopHits: Int): (Column, Column, Column, Column, Column, Column) = {
    val norm = normalized(col("text"))
    val n = tokenCount(col("text")).cast("double")
    val meanLen = when(n === 0, lit(0.0))
      .otherwise((length(norm) - (n - 1)) / n)
    val symbolRatio = when(length(norm) === 0, lit(0.0))
      .otherwise(length(regexp_replace(norm, "[a-z0-9 ]", "")).cast("double") /
        length(norm).cast("double"))
    val alphaFrac = when(n === 0, lit(0.0))
      .otherwise(size(filter(tokens(col("text")), t => t.rlike("[a-z]"))).cast("double") / n)
    val stops = stopHits(col("text"), enStop)
    val keep = coalesce(
      n >= minTokens && n <= maxTokens &&
        meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen &&
        symbolRatio <= maxSymbolRatio &&
        alphaFrac >= minAlphaTokenFrac &&
        stops >= minStopHits,
      lit(false))
    (n, meanLen, symbolRatio, alphaFrac, stops, keep)
  }

  /** The composite keep PREDICATE alone — for `documents.where(gopherKeep())`
    * pipelines: a purely row-local gate, so the filter form is a single scan
    * with zero shuffle (the report form or a self-join would scan twice). */
  def gopherKeep(minTokens: Int = 10, maxTokens: Int = 100000,
                 minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 12.0,
                 maxSymbolRatio: Double = 0.2, minAlphaTokenFrac: Double = 0.7,
                 minStopHits: Int = 2): Column =
    gopherExprs(minTokens, maxTokens, minMeanWordLen, maxMeanWordLen,
      maxSymbolRatio, minAlphaTokenFrac, minStopHits)._6

  def gopherRules(documents: DataFrame,
                  minTokens: Int = 10, maxTokens: Int = 100000,
                  minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 12.0,
                  maxSymbolRatio: Double = 0.2, minAlphaTokenFrac: Double = 0.7,
                  minStopHits: Int = 2): DataFrame = {
    val (n, meanLen, symbolRatio, alphaFrac, stops, keep) =
      gopherExprs(minTokens, maxTokens, minMeanWordLen, maxMeanWordLen,
        maxSymbolRatio, minAlphaTokenFrac, minStopHits)
    documents.select(
      col("doc_id"),
      n.cast("long").as("n_tokens"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(alphaFrac, 6).as("alpha_token_frac"),
      stops.cast("long").as("stop_hits"),
      keep.as("keep"))
  }

  /** Word n-gram shingles (distinct) — token-level Jaccard input. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(normalized(text), " ")
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  // ------------------------------------------------------ pipeline stages

  /** PII redaction — the standard pre-training scrub pass: emails, then
    * IPv4s, then phone-shaped number groups, replaced with typed placeholder
    * tags. Order matters twice: emails first (they contain digit/dot runs),
    * and IPv4 BEFORE phones — the phone pattern accepts '.' separators, so
    * run the other way it would eat the first three octets of a dotted quad.
    * Pure codegen `regexp_replace` chain — replace-ALL semantics on both
    * engines (DuckDB needs the 'g' flag; the oracle mirrors that). */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>")
    regexp_replace(ip,
      "\\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3,4}([- .][0-9]{2,4})?", "<PHONE>")
  }

  /** Gopher-style repetition ratio: 1 − distinct_words/words ∈ [0,1] — the
    * cheap intra-document duplication signal (boilerplate and keyword-stuffed
    * pages score high and get filtered before training). */
  def repetitionRatio(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    when(length(normalized(text)) === 0, lit(0.0))
      .otherwise(round(lit(1.0) - size(array_distinct(toks)).cast("double") /
        greatest(n, lit(1.0)), 6))
  }

  /** Deterministic hash-sampling predicate: keep a row iff the first 4 hex
    * digits of `md5(key)` fall below `fraction * 65536` (the unsalted
    * [[inHashBuckets]] rule). Properties a 100 TB pipeline needs that
    * `df.sample()` lacks: (a) stable under any partitioning, retries, and
    * re-runs (a document is in or out forever —
    * resumable jobs must not resample); (b) engine-portable (md5 hex is
    * identical everywhere, so downstream systems can reproduce the split);
    * (c) a pure codegen predicate evaluated in the scan's whole-stage-codegen
    * filter — no shuffle, no state (it computes per row, so it cannot prune
    * row groups; at 100 TB persist the bucket as a column if the same split
    * is re-read often). */
  def sampleHash(key: Column, fraction: Double): Column = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction=$fraction")
    // the ROUNDED bucket count goes through the rule's keep-all guard: a
    // fraction like 0.999995 also rounds to 65536
    inHashBuckets(key, "", lit(math.round(fraction * 65536)))
  }

  /** The one salted-hash rule behind every hash-selection stage: a stage
    * hashes its key as `md5(cast(key as string) || salt)`, and
    * [[inHashBuckets]] keeps a row iff the first 4 hex digits of that hash
    * fall below `buckets` of 65536. Membership is then a pure function of
    * the key, and md5 hex is identical on every engine, so the DuckDB
    * oracles hash the same strings.
    *
    * Why each stage has its own salt: two stages that select by the SAME
    * hash of the same key are fully correlated, not independent. Unsalted,
    * the domain cap keeps precisely the LOW-md5 docs of each domain, and the
    * stratified sampler's keep predicate then keeps all of them (observed as
    * a 0.4-fraction sample keeping 16/16 cap survivors); an unsalted split
    * would likewise make "test" the sampler's drop set. The salts:
    *  - `""`: [[sampleHash]] and [[sampleStratified]] (the packing order key
    *    of [[Packing.packSequences]] is the same unsalted md5);
    *  - `"|split"`: [[assignSplit]];
    *  - `":domain-cap"`: the priority of [[Domains.domainFrequencyCap]]
    *    (the whole hash, as a sort key);
    *  - `":token-mix"`: [[Domains.tokenBudgetMix]];
    *  - `":mix-epoch"`: the remainder epoch of
    *    [[Domains.tokenBudgetMixEpochs]].
    * A salt is part of its operator's output contract: changing one moves
    * every row that stage selects. */
  private[functions] def saltedHash(key: Column, salt: String): Column =
    md5(concat(key.cast("string"), lit(salt)))

  /** Keep iff the 4-hex-digit prefix of [[saltedHash]] is below `buckets`:
    * hex strings of equal length sort lexicographically in numeric order,
    * so the compare keeps exactly `buckets` of the 65536. `buckets` ≥ 65536
    * keeps everything: its %04x rendering would be the 5-char "10000" and
    * break the equal-length compare. A literal `buckets` constant-folds. */
  private[functions] def inHashBuckets(key: Column, salt: String, buckets: Column): Column =
    buckets >= 65536 ||
      substring(saltedHash(key, salt), 1, 4) < format_string("%04x", buckets)

  /** Stratified deterministic downsampling: per-stratum keep fractions
    * (e.g. cap the dominant language while keeping the long tail whole) —
    * the corpus-rebalancing stage of a training-data pipeline. Rows in
    * strata absent from `fractions` keep `defaultFraction`. One scan, no
    * shuffle, no state: the predicate is [[sampleHash]] per stratum. */
  def sampleStratified(df: DataFrame, stratumCol: String,
                       fractions: Map[String, Double],
                       keyCol: String = "doc_id",
                       defaultFraction: Double = 1.0): DataFrame = {
    val keep = fractions.foldLeft(sampleHash(col(keyCol), defaultFraction): Column) {
      case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, sampleHash(col(keyCol), f)).otherwise(acc)
    }
    df.where(keep)
  }

  /** Deterministic train/validation/test split assignment: each row gets a
    * `split` label by hashing its key into the same 65536-bucket space as
    * [[sampleHash]] and comparing against the weights' cumulative bucket
    * thresholds. Properties a training pipeline needs and random split()
    * does not give: stable under retries/resume/reshuffling (a doc's split
    * is a pure function of its id), disjoint and exhaustive by
    * construction, and new data lands in splits at the same proportions
    * without moving any existing row. The hash is salted `"|split"` (see
    * [[saltedHash]]). One scan, zero shuffle, pure codegen predicate.
    * Weights must sum to 1 (±1e-9); the last split absorbs the rounding
    * remainder buckets. */
  def assignSplit(df: DataFrame, weights: Seq[(String, Double)],
                  keyCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0.0),
      s"weights must be non-empty and non-negative: $weights")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"weights must sum to 1, got ${weights.map(_._2).sum}")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate split names: $weights")
    val ends = weights.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.min(math.round(c * 65536).toInt, 65536))
    val label = weights.zip(ends).init.foldRight(lit(weights.last._1): Column) {
      case (((name, _), end), acc) =>
        when(inHashBuckets(col(keyCol), "|split", lit(end)), lit(name)).otherwise(acc)
    }
    // a null key hashes to null, every threshold compare is null-false, and
    // the row would silently land in the LAST split — label it null instead
    // (callers decide; silent membership is the one wrong default)
    df.withColumn("split",
      when(col(keyCol).isNull, lit(null).cast("string")).otherwise(label))
  }

  /** Top-k most frequent tokens per language — corpus vocabulary QA (spot
    * tokenizer damage, boilerplate takeover, language mislabels). Plan: one
    * explode + partial/final count aggregate (map-side combine absorbs the
    * Zipf skew of hot tokens), then a per-language top-k window over the
    * (languages × vocab)-sized aggregate — tiny relative to the corpus. */
  /** CCNet-style language-model quality signal without an external model:
    * per-document mean negative log2-probability of its tokens under the
    * corpus's OWN unigram distribution (the corpus as its own LM). High nll
    * = tokens the corpus rarely produces — gibberish, encoding damage, rare
    * boilerplate; low nll = fluent-for-this-corpus text. The real CCNet
    * scores against a Wikipedia KenLM; a self-unigram model is the honest
    * sandbox analog and already separates damaged docs from clean ones.
    *
    * Model: p(w) = count(w)/N over the whole corpus, restricted to the
    * `vocabSize` most frequent tokens (ties broken lexicographically);
    * out-of-vocab tokens get the 1/N floor. Documents with zero tokens are
    * unscorable and produce no row.
    *
    * Plan shape at 100 TB: pass 1 is one explode + partial/final count
    * (map-side combine absorbs Zipf skew) and a distributed top-V
    * (TakeOrdered) over the vocab-sized aggregate — the "model" is a few MB
    * and broadcasts, N is a 1-row broadcast cross join; pass 2 re-scans the
    * corpus, joins tokens against the broadcast vocab and averages per doc
    * — its only Exchange is the final per-doc agg. Nothing collects. */
  def unigramLogProb(documents: DataFrame, vocabSize: Int = 65536): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val toks = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val vocab = counts.orderBy(col("c").desc, col("tok").asc).limit(vocabSize)
    val total = counts.agg(sum(col("c")).as("n"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(-avg(log2(coalesce(col("c"), lit(1L)).cast("double") /
        col("n").cast("double"))), 6).as("nll"))
  }

  /** Top-k terms per language via PARTIAL top-k: a web-scale language's
    * distinct-token vocabulary is billions of rows (typo/noise tail), so a
    * single `row_number() OVER (PARTITION BY lang)` window is a one-task
    * straggler. Instead the vocab aggregate is salted on `xxhash64(term)`,
    * each `(lang, salt)` shard keeps its local top-k under the SAME ordering
    * (n desc, term asc — every global top-k row is by construction in its
    * shard's local top-k), and the final window ranks only the
    * `langs × salts × k` survivors. */
  def topTermsPerLang(documents: DataFrame, k: Int, salts: Int = 64): DataFrame = {
    val terms = documents
      .select(col("lang"), explode(tokens(col("text"))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("lang", "term").agg(count(lit(1)).as("n"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), pmod(xxhash64(col("term")), lit(salts)))
      .orderBy(col("n").desc, col("term").asc)
    val wFinal = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("term").asc)
    terms.withColumn("lr", row_number().over(wLocal)).where(col("lr") <= k)
      .withColumn("rank", row_number().over(wFinal)).where(col("rank") <= k)
      .select(col("lang"), col("rank").cast("int").as("rank"), col("term"), col("n"))
  }
}
