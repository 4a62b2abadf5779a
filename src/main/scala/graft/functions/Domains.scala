package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Domain-level corpus balancing — the crawl-pipeline operator family that
  * runs on PROVENANCE rather than content: a handful of mega-domains
  * (link farms, mirror networks, viral boilerplate hosts) otherwise dominate
  * the corpus mix before any text-level filter sees a byte. Per-domain
  * aggregate stats are `t_source_stats` (SparkEntry); domain-stratified
  * sampling is [[TextAnalysis.sampleStratified]] over the domain column;
  * this file adds the frequency CAP, the one that needs real distributed
  * machinery.
  */
object Domains {

  /** Keep at most `cap` documents per domain, chosen by a deterministic
    * md5-hash priority over `keyCol` — a stable uniform sample of each
    * over-cap domain (the C4-style mega-domain defense). Hash priority, not
    * arrival order: membership is a pure function of the key, so it is
    * stable under retries, resume, and re-partitioning, exactly like
    * [[TextAnalysis.sampleStratified]]'s split. The priority hash is salted
    * `:domain-cap` ([[TextAnalysis.saltedHash]] says why every hash-selection
    * stage salts its own). Docs with a NULL domain are never capped
    * (unattributable provenance passes through — the same
    * unscorable-rows-pass contract as the dedup drops).
    *
    * Scale design (the point — a viral domain can hold 10^9 docs):
    *  1. Per-domain counts: one partial/final aggregate over the narrow
    *     domain column. The over-cap set is the Zipf HEAD — small — and
    *     broadcasts.
    *  2. Docs of under-cap domains pass through a broadcast LEFT ANTI join:
    *     the corpus bulk is never shuffled at all.
    *  3. Over-cap docs ship ONLY (key, domain, priority) through
    *     [[Packing.keepRanked]] grouped by domain and ordered by (priority,
    *     key): its range-partition shuffle makes a mega-domain SPAN
    *     partitions instead of landing in one hot window partition, and it
    *     returns the exact per-domain top `cap`.
    *  4. The kept keys semi-join back to the full rows (≤ cap × hot-domains
    *     keys; AQE broadcasts when small).
    */
  def domainFrequencyCap(df: DataFrame, domainCol: String, cap: Long,
                         keyCol: String = "doc_id"): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val domain = col(domainCol)
    // the Zipf head, materialized EAGERLY (tiny, but not driver-small at
    // 10^12 docs — checkpoint blocks, not a collect): lazy, this aggregate
    // is a whole-corpus scan that would re-execute under EVERY consumer
    // below (both join builds and the rank branch — the executed plan
    // showed 3 copies before this)
    val hot = df.groupBy(domain.as("d")).agg(count(lit(1)).as("n"))
      .where(col("n") > cap).select(col("d")).localCheckpoint(true)
    val cold = df.join(broadcast(hot), domain === col("d"), "left_anti")
    val hotDocs = df.join(broadcast(hot), domain === col("d"), "left_semi")
    // narrow projection through the only corpus-sized shuffle
    val pri = hotDocs.select(col(keyCol).as("k_key"), domain.as("k_dom"),
      TextAnalysis.saltedHash(col(keyCol), ":domain-cap").as("k_pri"))
    // ≤ cap × hot-domains rows, eager (keepRanked checkpoints them, which
    // keeps the duplicated rank subtree out of the final union's plan)
    val keptKeys = Packing.keepRanked(pri, Seq("k_dom"),
      Seq(col("k_pri"), col("k_key")), cap).select(col("k_key"))
    val keptHot = hotDocs.join(keptKeys, col(keyCol) === col("k_key"), "left_semi")
    cold.unionByName(keptHot)
  }

  /** Token-budget domain mixer — the mix-SHAPING stage that runs after the
    * cap/dedup/filter stages: given target token SHARES per domain and a
    * total token budget, keep a deterministic per-domain sample whose
    * expected token mass hits each domain's share of the budget. This is
    * the "data mixture" knob of a training-data pipeline (DoReMi/Pile-style
    * domain weights) expressed as a corpus operator: `share_d × budget`
    * tokens wanted from domain d, `min(1, wanted / actual)` as the keep
    * fraction, applied with the same md5-bucket predicate as
    * [[TextAnalysis.sampleHash]] so membership is a pure function of the
    * key (stable under retries/resume/repartitioning). Domains absent from
    * `targets` are excluded — a mixer defines the whole mix, unlike the
    * cap/sample operators whose untargeted rows pass through. The priority
    * hash is salted `:token-mix`, independent of every other hash-selection
    * stage ([[TextAnalysis.saltedHash]]).
    *
    * Plan shape at 100 TB (two scans, which is the floor — the keep
    * fraction depends on a global per-domain aggregate):
    *  1. Pass 1 aggregates (domain → Σ tokens) over the target domains
    *     only; partial/final combine absorbs domain skew and the result is
    *     |targets| rows.
    *  2. The per-domain bucket thresholds derive from that aggregate and
    *     BROADCAST-join back onto the corpus — the corpus itself never
    *     shuffles; the keep predicate evaluates inside the probe scan.
    * Expected (not exact) token mass per domain: doc-level hash sampling
    * is the standard trade — an exact token cutoff would need the
    * per-domain exact-rank machinery of [[domainFrequencyCap]] over token
    * prefix sums, serving no training purpose (the mix target is
    * statistical). Domains whose actual mass is under their want keep
    * everything (fraction capped at 1); the mixer under-fills rather than
    * up-samples — repetition policy is a separate concern.
    */
  def tokenBudgetMix(df: DataFrame, domainCol: String,
                     targets: Map[String, Double], budgetTokens: Long,
                     keyCol: String = "doc_id",
                     tokenCount: Column => Column =
                       TextAnalysis.tokenCount(_).cast("long")): DataFrame = {
    // floor, not round: floor() is bit-identical across engines while
    // round() half-way semantics differ (Spark HALF_UP vs DuckDB's banker-
    // leaning doubles) — the oracle compares hashes, not approximations
    val thresholds = domainMass(df, domainCol, targets, budgetTokens, tokenCount)
      .withColumn("mx_bucket",
        floor(least(lit(1.0), col("mx_q")) * lit(65536.0)).cast("long"))
      .select(col("mx_dom"), col("mx_bucket"))
    df.join(broadcast(thresholds), col(domainCol) === col("mx_dom"))
      .where(TextAnalysis.inHashBuckets(col(keyCol), ":token-mix", col("mx_bucket")))
      .drop("mx_dom", "mx_bucket")
  }

  /** Repetition-aware token-budget mixer — the up-sampling counterpart of
    * [[tokenBudgetMix]]: where that operator under-fills a domain whose
    * actual token mass is below its share of the budget, this one emits
    * REPEATED epochs (the standard practice for high-value domains —
    * up-sample rather than under-fill). Per domain with
    * `q = share × budget / actual`: each doc appears at epochs
    * `0 .. floor(q)-1` unconditionally (full passes over the domain), plus
    * a final partial epoch containing the deterministic hash-sample at the
    * remainder fraction `q - floor(q)` — so expected token mass is exactly
    * `share × budget`. `q ≤ 1` degenerates to the plain mixer's sampling
    * with every kept doc at epoch 0. The output adds an `epoch` int column
    * (training shards key on it); untargeted domains drop as in the plain
    * mixer. The remainder sample is salted `:mix-epoch`, independent of
    * every other hash-selection stage ([[TextAnalysis.saltedHash]]).
    *
    * Plan shape: identical to [[tokenBudgetMix]] (one narrow aggregate
    * pass, |targets|-row broadcast back, corpus never shuffles) — the
    * epoch fan-out is a per-row generator (`explode(sequence(...))`)
    * inside the probe scan, output-proportional only. `maxEpochs` caps the
    * fan-out: a domain whose `q` reaches the cap gets exactly `maxEpochs`
    * full epochs and no remainder (a misconfigured budget against a tiny
    * domain must not explode the corpus); the cap is part of the operator
    * contract, mirrored by the oracle.
    */
  def tokenBudgetMixEpochs(df: DataFrame, domainCol: String,
                           targets: Map[String, Double], budgetTokens: Long,
                           keyCol: String = "doc_id", maxEpochs: Int = 50,
                           tokenCount: Column => Column =
                             TextAnalysis.tokenCount(_).cast("long")): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    // the actual = 0 guard comes first: there q is null, and the null
    // mx_full of the other branches would drop the domain's docs
    val thresholds = domainMass(df, domainCol, targets, budgetTokens, tokenCount)
      .withColumn("mx_full",
        when(col("mx_actual") === 0, lit(0L))
          .when(col("mx_q") >= maxEpochs, lit(maxEpochs.toLong))
          .otherwise(floor(col("mx_q"))))
      .withColumn("mx_bucket",
        when(col("mx_actual") === 0, lit(65536L))
          .when(col("mx_q") >= maxEpochs, lit(0L))
          .otherwise(floor((col("mx_q") - floor(col("mx_q")).cast("double")) *
            lit(65536.0))))
      .select(col("mx_dom"), col("mx_full"), col("mx_bucket"))
    df.join(broadcast(thresholds), col(domainCol) === col("mx_dom"))
      .withColumn("epoch", explode(sequence(lit(0L), col("mx_full"))))
      .where(col("epoch") < col("mx_full") ||
        TextAnalysis.inHashBuckets(col(keyCol), ":mix-epoch", col("mx_bucket")))
      .withColumn("epoch", col("epoch").cast("int"))
      .drop("mx_dom", "mx_full", "mx_bucket")
  }

  /** What both mixers share: the argument checks, the target filter and
    * pass 1 — the actual token mass per target domain, `(mx_dom,
    * mx_actual)`, |targets| rows — plus each domain's ratio of wanted to
    * actual mass, `mx_q = share × budget / actual` (null when actual is 0). */
  private def domainMass(df: DataFrame, domainCol: String,
                         targets: Map[String, Double], budgetTokens: Long,
                         tokenCount: Column => Column): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(targets.nonEmpty, "targets must be non-empty")
    targets.foreach { case (d, s) =>
      require(s > 0.0 && s <= 1.0, s"share for domain '$d' must be in (0,1], got $s") }
    val shareSum = targets.values.sum
    require(shareSum <= 1.0 + 1e-9, s"target shares sum to $shareSum > 1")
    val domain = col(domainCol)
    // pass 1: actual token mass per target domain (|targets| rows)
    val sums = df.where(domain.isin(targets.keys.toSeq: _*))
      .groupBy(domain.as("mx_dom"))
      .agg(sum(tokenCount(col("text"))).as("mx_actual"))
    // share lookup as a literal CASE chain (targets is an explicit API map,
    // driver-small by construction)
    val share = targets.foldLeft(lit(null).cast("double")) {
      case (acc, (d, s)) => when(col("mx_dom") === d, lit(s)).otherwise(acc)
    }
    // try_divide: a targeted domain whose text is all blank has mx_actual
    // 0, and ANSI division by zero throws; its null mx_q makes both mixers
    // keep the domain whole, once (0 tokens are under any want)
    sums.withColumn("mx_q",
      try_divide(share * lit(budgetTokens.toDouble), col("mx_actual").cast("double")))
  }
}
