package graft

import graft.functions.{Dedup, Packing, RollingHash64, Similarity, TextAnalysis}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data operators: planted near-duplicates must be found, the ANN
  * paths must agree on planted neighbors, the custom codegen expression must
  * match its reference implementation.
  */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private val base = "the quick brown fox jumps over the lazy dog and then runs far away into the deep green forest to hide from the loud hunters"

  test("exact dedup groups identical normalized texts") {
    val df = docsDf(1L -> base, 2L -> (base.toUpperCase), 3L -> "totally different content here",
      4L -> ("  " + base.replaceAll(" ", "   ") + " "))
    val dups = Dedup.exactDuplicates(df).collect()
    assert(dups.length == 1)
    assert(dups.head.getLong(1) == 3) // docs 1,2,4 share a fingerprint
    assert(dups.head.getLong(2) == 1)
    assert(Dedup.dropExactDuplicates(df).count() == 2)
  }

  test("null-text docs: kept by drop-dedup, excluded from dup reports, lang und, no phantom subwords") {
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, base), Row(2L, base), Row(3L, null)), schema)
    // doc 3 is unscorable: not reported as a duplicate, not dropped either
    assert(Dedup.exactDuplicates(df).count() == 1)
    assert(Dedup.dropExactDuplicates(df).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(Dedup.dropSeen(df, df.where(col("doc_id") === 1L)).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(3L)) // null doc passes through
    assert(df.where(col("doc_id") === 3L)
      .select(TextAnalysis.langGuess(col("text"))).head.getString(0) == "und")
    // Java split keeps a trailing empty under lookaround patterns: "Hello
    // world." must be 4 pieces (Hello, ' ', world, '.'), not 5
    assert(docsDf(1L -> "Hello world.")
      .select(TextAnalysis.subwordCount(col("text"))).head.getInt(0) == 4)
  }

  test("minhash LSH finds a planted near-duplicate and skips unrelated text") {
    val nearDup = base.replace("lazy", "sleepy") // one-token edit
    val other = "completely unrelated sentence about spark catalyst optimizer rules and physical plans at scale"
    // null-text docs must be excluded BEFORE banding: a null signature's
    // band hash is the constant xxhash64(lit(b)), so k null docs would
    // otherwise form an O(k²) candidate clique
    val df = docsDf(1L -> base, 2L -> nearDup, 3L -> other,
      10L -> null, 11L -> null, 12L -> null)
    val pairs = Dedup.minHashNearDuplicates(df, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val j = pairs.head.getDouble(3)
    assert(j > 0.5 && j < 1.0)
    // and the drop wrapper still passes the unscorable rows through
    val kept = Dedup.dropNearDuplicates(df, 0.5).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(Set(10L, 11L, 12L).subsetOf(kept))
  }

  test("CC small-graph fast path equals the distributed min-label loop on chains, stars, and singleton edges") {
    import spark.implicits._
    // chain 1-2-3-4, star 10-{11,12,13}, isolated pair 20-21 — chains are
    // the case greedy dedup gets wrong and the loop needs multiple rounds for
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (12L, 13L), (20L, 21L)).toDF("a", "b")
    val fast = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // smallGraphEdges = 0 forces the distributed fixpoint on the same input
    val loop = Dedup.connectedComponents(pairs, smallGraphEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop)
    assert(fast == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
    // string ids route through the same ordering as Spark's min
    val spairs = Seq(("b", "c"), ("a", "b")).toDF("a", "b")
    val sfast = Dedup.connectedComponents(spairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val sloop = Dedup.connectedComponents(spairs, smallGraphEdges = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sfast == sloop && sfast == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("CC fast path: UTF-8 byte order for strings; unsupported id types fall back to the loop") {
    import spark.implicits._
    // U+E000 encodes EE 80 80; U+1F600 encodes F0 9F 98 80 — UTF-8 (and
    // Spark's UTF8String min) orders U+E000 FIRST, while Java's UTF-16
    // compareTo orders the surrogate pair first. The fast path must agree
    // with the distributed loop's Spark-side min (ADVICE r05).
    val pua = ""
    val emoji = "😀"
    assert(pua.compareTo(emoji) > 0) // UTF-16 disagrees — the trap is real
    val spairs = Seq((pua, emoji)).toDF("a", "b")
    val fast = Dedup.connectedComponents(spairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val loop = Dedup.connectedComponents(spairs, smallGraphEdges = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fast == loop && fast == Map(pua -> pua, emoji -> pua))
    // binary ids have no driver ordering → the small-graph gate must route
    // to the distributed loop (which handles any orderable type), not throw
    val bpairs = Seq((Array[Byte](2, 1), Array[Byte](1, 9)), (Array[Byte](1, 9), Array[Byte](3)))
      .toDF("a", "b")
    val bres = Dedup.connectedComponents(bpairs).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(bres == Map(
      Seq[Byte](2, 1) -> Seq[Byte](1, 9),
      Seq[Byte](1, 9) -> Seq[Byte](1, 9),
      Seq[Byte](3)    -> Seq[Byte](1, 9)))
  }

  test("hot LSH band bucket: planted near-identical cluster is capped to star edges, still fully collapsed") {
    // k near-identical docs (tiny distinct suffixes) all but guarantee
    // identical signatures → ONE band bucket per band holding the whole
    // cluster: the uncapped self-join would emit O(k²) candidates here
    val k = 120
    val cluster = (0L until k.toLong).map(i => i -> (base + s" v$i"))
    val others = Seq(900L -> "completely unrelated text about catalyst optimizer rules and shuffles",
      901L -> "another unrelated document mentioning parquet row groups and bloom filters")
    val df = docsDf((cluster ++ others): _*)
    // capped: candidate volume is LINEAR in the cluster (star edges via the
    // bucket hub), not quadratic
    val capped = Dedup.minHashNearDuplicates(df, threshold = 0.5, maxBandBucket = 50)
    val cappedPairs = capped.collect()
    assert(cappedPairs.length < 3 * k,
      s"cap must bound the hot bucket to O(k) edges, got ${cappedPairs.length}")
    // star edges anchor at each hot BUCKET's hub (the cluster's variants
    // spread over a few band buckets): a handful of distinct anchors, never
    // the quadratic member×member fan-out
    val anchors = cappedPairs.map(_.getLong(0)).toSet
    assert(cappedPairs.nonEmpty && anchors.size <= 10,
      s"expected few hub anchors, got ${anchors.size}")
    assert(cappedPairs.forall(r => r.getLong(0) < r.getLong(1)))
    // connectivity is preserved: the CC drop collapses the whole cluster to
    // its min-id representative, unrelated docs untouched
    val kept = Dedup.dropNearDuplicatesCCLsh(df, threshold = 0.5, maxBandBucket = 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 900L, 901L))
    // and with the cap above the cluster size the exhaustive path is
    // unchanged: same survivors, quadratically many verified pairs
    val uncapped = Dedup.minHashNearDuplicates(df, threshold = 0.5, maxBandBucket = 100000)
    assert(uncapped.count() > cappedPairs.length.toLong)
    val keptU = Dedup.dropNearDuplicatesCCLsh(df, threshold = 0.5, maxBandBucket = 100000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptU == kept)
  }

  test("simhash near-dup by hamming distance") {
    val nearDup = base.replace("dog", "cat")
    val other = "absolutely nothing in common with that text whatsoever just noise tokens qwerty asdf zxcv plumbus"
    val df = docsDf(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.simHashNearDuplicates(df, maxHamming = 10).collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 2L)))
    assert(!ids.contains((1L, 3L)) && !ids.contains((2L, 3L)))
    // drop form: the near-dup cluster collapses to its min id, others kept
    val kept = Dedup.dropNearDuplicatesSimHash(df, maxHamming = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("simhash hot band bucket: planted chunk-identical cluster is capped to star edges, same drop survivors") {
    import org.apache.spark.sql.Row
    // k docs with IDENTICAL text → identical 64-bit signatures → every
    // 16-bit chunk equal → ONE bucket per band holding the whole cluster:
    // the former band self-join emitted k(k-1)/2 candidates per band here
    val k = 120
    val cluster = (0L until k.toLong).map(i => i -> base)
    val others = Seq(900L -> "completely unrelated text about catalyst optimizer rules and shuffles",
      901L -> "another unrelated document mentioning parquet row groups and bloom filters")
    // null-text docs must be excluded BEFORE the bucket aggregation: a
    // groupBy treats a null chunk as a REAL group, so k null docs would
    // otherwise clique together (the join's non-null-safe equality never did)
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val withNulls = spark.createDataFrame(java.util.Arrays.asList(
      (cluster ++ others).map { case (i, t) => Row(i, t) } :+ Row(950L, null) :+ Row(951L, null): _*), schema)
    val capped = Dedup.simHashNearDuplicates(withNulls, maxHamming = 3, maxBandBucket = 50)
    val cappedPairs = capped.collect()
    // star edges: one hub (doc 0) per hot bucket, every bucket yields the
    // same 119 hub edges → LINEAR volume after the distinct
    assert(cappedPairs.length == k - 1,
      s"cap must bound the hot bucket to k-1 star edges, got ${cappedPairs.length}")
    assert(cappedPairs.forall(r => r.getLong(0) == 0L && r.getInt(2) == 0))
    assert(!cappedPairs.exists(r => r.getLong(1) >= 950L), "null docs must not pair")
    // survivors are IDENTICAL to the uncapped exhaustive path
    val kept = Dedup.dropNearDuplicatesSimHash(withNulls, maxHamming = 3, maxBandBucket = 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptU = Dedup.dropNearDuplicatesSimHash(withNulls, maxHamming = 3, maxBandBucket = 100000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == keptU && kept == Set(0L, 900L, 901L, 950L, 951L))
    // the uncapped form really is quadratic on this input
    val uncapped = Dedup.simHashNearDuplicates(withNulls, maxHamming = 3, maxBandBucket = 100000)
    assert(uncapped.count() == k.toLong * (k - 1) / 2)
    // hot-band observability: 4 bands × 1 hot bucket each over the cap
    val obs = capped.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.contains("simhash") => row }.get
    assert(obs.getLong(0) == 4L && obs.getInt(1) == k)
  }

  test("embedding LSH hot bucket: planted identical-vector cluster is capped to star edges, all verified") {
    val r = new java.util.Random(7)
    val k = 120
    // k identical embeddings (re-encoded copies of one page) + unrelated noise
    val one = Seq.fill(16)(r.nextFloat() * 2 - 1)
    val cluster = (0L until k.toLong).map(i => i -> one)
    val noise = (900L until 905L).map(i => i -> Seq.fill(16)(r.nextFloat() * 2 - 1))
    val df = embDf((cluster ++ noise): _*)
    val capped = Dedup.embeddingNearDuplicatesLsh(df, 0.95, maxBandBucket = 50)
    val cappedPairs = capped.collect()
    // every band bucket holds the whole cluster → star edges from hub 0;
    // cosine of identical vectors is 1.0 so all k-1 verify
    assert(cappedPairs.length == k - 1,
      s"cap must bound the hot bucket to k-1 star edges, got ${cappedPairs.length}")
    assert(cappedPairs.forall(r => r.getLong(0) == 0L && r.getDouble(2) > 0.999))
    val uncapped = Dedup.embeddingNearDuplicatesLsh(df, 0.95, maxBandBucket = 100000)
    assert(uncapped.count() == k.toLong * (k - 1) / 2)
    val obs = capped.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.contains("embed_lsh") => row }.get
    // a noise vector can collide into a cluster bucket (4-bit band keys),
    // so max_bucket is AT LEAST the cluster size
    assert(obs.getLong(0) >= 1L && obs.getInt(1) >= k)
  }

  test("domain frequency cap: viral domain capped by hash priority, small domains untouched, nulls pass") {
    import graft.functions.Domains
    import org.apache.spark.sql.Row
    // viral domain with 300 docs, two small domains, one null-domain doc
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("dom", StringType), StructField("text", StringType)))
    val rows = (0L until 300L).map(i => Row(i, "viral.example", s"doc $i")) ++
      Seq(Row(900L, "tiny.example", "t1"), Row(901L, "tiny.example", "t2"),
        Row(902L, "mid.example", "m1"), Row(903L, null, "unattributed"))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val capped = Domains.domainFrequencyCap(df, "dom", cap = 10)
    val got = capped.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    // the naive oracle: global per-domain rank by (md5(doc_id), doc_id)
    val naive = df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("dom"))
          .orderBy(md5(concat(col("doc_id").cast("string"), lit(":domain-cap"))),
            col("doc_id"))).cast("long"))
      .where(col("rn") <= 10 || col("dom").isNull)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got == naive)
    assert(got.count(_._2.contains("viral.example")) == 10)
    assert(got.count(_._2.contains("tiny.example")) == 2) // under cap: all kept
    assert(got.exists(_._1 == 903L)) // null domain never capped
    // full schema survives
    assert(capped.columns.toSeq == Seq("doc_id", "dom", "text"))
    // determinism under repartitioning (hash priority, not arrival order)
    val again = Domains.domainFrequencyCap(df.repartition(7), "dom", cap = 10)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(again == got)
    // cap above every domain: identity
    assert(Domains.domainFrequencyCap(df, "dom", cap = 1000).count() == df.count())
  }

  test("token-budget mix: over-budget domain sampled to fraction, under-budget whole, untargeted dropped") {
    import graft.functions.Domains
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("dom", StringType), StructField("text", StringType)))
    // domA: 200 docs x 5 tokens = 1000; share 0.5 of budget 500 -> want 250 -> f=0.25
    // domB: 10 docs x 2 tokens = 20; share 0.25 -> want 125 > 20 -> f=1 (keep all)
    // domC: untargeted -> dropped
    val rows = (0L until 200L).map(i => Row(i, "domA", "a b c d e")) ++
      (500L until 510L).map(i => Row(i, "domB", "x y")) ++
      (900L until 905L).map(i => Row(i, "domC", "z z z"))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val targets = Map("domA" -> 0.5, "domB" -> 0.25)
    val mixed = Domains.tokenBudgetMix(df, "dom", targets, 500)
    val got = mixed.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(mixed.columns.toSeq == Seq("doc_id", "dom", "text")) // schema survives
    assert(!got.exists(_._2 == "domC")) // mixer defines the whole mix
    assert(got.count(_._2 == "domB") == 10) // under-budget: whole
    // domA kept set == the naive hash-threshold oracle computed directly
    val bucket = math.floor(math.min(1.0, 0.5 * 500.0 / 1000.0) * 65536.0).toLong
    assert(bucket == 16384L)
    def md5hex4(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(2).map(b => f"${b & 0xff}%02x").mkString
    val expA = (0L until 200L).filter(i =>
      md5hex4(s"$i:token-mix") < f"$bucket%04x").map(i => (i, "domA")).toSet
    assert(got.filter(_._2 == "domA") == expA)
    // the sample is statistically near the target fraction (0.25 of 200)
    assert(expA.size > 25 && expA.size < 75)
    // determinism under repartitioning (hash membership, not arrival order)
    val again = Domains.tokenBudgetMix(df.repartition(7), "dom", targets, 500)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == got)
    // zero budget drops every targeted doc
    assert(Domains.tokenBudgetMix(df, "dom", targets, 0).count() == 0)
    // share validation
    intercept[IllegalArgumentException] {
      Domains.tokenBudgetMix(df, "dom", Map("domA" -> 0.9, "domB" -> 0.2), 500) }
    intercept[IllegalArgumentException] {
      Domains.tokenBudgetMix(df, "dom", Map("domA" -> 0.0), 500) }
  }

  test("token-budget mix epochs: full passes + hash-sampled remainder, epoch cap, q<=1 degeneracy") {
    import graft.functions.Domains
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("dom", StringType), StructField("text", StringType)))
    // domA: 200 x 5 tok = 1000; domB: 10 x 2 tok = 20; domC untargeted
    val rows = (0L until 200L).map(i => Row(i, "domA", "a b c d e")) ++
      (500L until 510L).map(i => Row(i, "domB", "x y")) ++
      (900L until 905L).map(i => Row(i, "domC", "z z z"))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    // budget 4500: domA want 2250/1000 -> q=2.25: epochs {0,1} for all +
    // remainder epoch 2 at fraction 0.25; domB want 2250/20 -> q=112.5 >=
    // maxEpochs=5 -> exactly 5 full epochs, no remainder
    val targets = Map("domA" -> 0.5, "domB" -> 0.5)
    val out = Domains.tokenBudgetMixEpochs(df, "dom", targets, 4500, maxEpochs = 5)
    assert(out.columns.toSeq == Seq("doc_id", "dom", "text", "epoch"))
    val got = out.select("doc_id", "dom", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(!got.exists(_._2 == "domC"))
    // domB: every doc at exactly epochs 0..4 (capped, no remainder epoch)
    val bByDoc = got.filter(_._2 == "domB").groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._3).sorted.toSeq }
    assert(bByDoc.size == 10 && bByDoc.values.forall(_ == Seq(0, 1, 2, 3, 4)))
    // domA: all docs at epochs 0 and 1; remainder epoch 2 = md5 oracle
    val aEpochs = got.filter(_._2 == "domA")
    assert(aEpochs.count(_._3 == 0) == 200 && aEpochs.count(_._3 == 1) == 200)
    def md5hex4(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(2).map(b => f"${b & 0xff}%02x").mkString
    val bucket = math.floor(0.25 * 65536.0).toLong // rem fraction 0.25 exact
    val expRem = (0L until 200L).filter(i =>
      md5hex4(s"$i:mix-epoch") < f"$bucket%04x").toSet
    assert(aEpochs.filter(_._3 == 2).map(_._1).toSet == expRem)
    assert(expRem.size > 25 && expRem.size < 75) // ~0.25 of 200
    // expected token mass ~= share x budget: 2.25 passes of 1000 tokens
    val aMass = aEpochs.length * 5
    assert(aMass == 2000 + expRem.size * 5)
    // q <= 1 degenerates to plain-mixer sampling at epoch 0
    val small = Domains.tokenBudgetMixEpochs(df, "dom", Map("domA" -> 0.25), 1000)
      .select("epoch").collect().map(_.getInt(0))
    assert(small.nonEmpty && small.forall(_ == 0))
  }

  test("token-budget mixers keep a targeted zero-token domain whole instead of dividing by zero") {
    import graft.functions.Domains
    import spark.implicits._
    // domZ's text is all blank: its token mass is 0, under any want
    val df = Seq((1L, "domZ", ""), (2L, "domZ", "  "), (3L, "domA", "a b c d"))
      .toDF("doc_id", "dom", "text")
    val targets = Map("domZ" -> 0.5, "domA" -> 0.5)
    val mixed = Domains.tokenBudgetMix(df, "dom", targets, 100)
      .collect().map(_.getLong(0)).toSet
    assert(mixed == Set(1L, 2L, 3L)) // domA: want 50 > 4 tokens, kept whole too
    val epochs = Domains.tokenBudgetMixEpochs(df, "dom", targets, 100, maxEpochs = 5)
      .where(col("dom") === "domZ").select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(epochs == Set((1L, 0), (2L, 0)))
    // domN's text is all NULL: its token sum is NULL, which must count as 0
    // too — both mixers keep it whole, once
    val withNull = df.unionByName(Seq((4L, "domN", null: String), (5L, "domN", null: String))
      .toDF("doc_id", "dom", "text"))
    val nTargets = Map("domZ" -> 0.25, "domN" -> 0.25, "domA" -> 0.5)
    assert(Domains.tokenBudgetMix(withNull, "dom", nTargets, 100)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    val nEpochs = Domains.tokenBudgetMixEpochs(withNull, "dom", nTargets, 100, maxEpochs = 5)
      .where(col("dom").isin("domZ", "domN")).select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(nEpochs == Set((1L, 0), (2L, 0), (4L, 0), (5L, 0)))
  }

  test("exact-substring dedup: copies drop, shared blocks strip from non-canonical docs, short/null pass") {
    val a = (1 to 20).map(i => s"a$i").mkString(" ")           // canonical content
    val cUnique = "c1 c2 " + (1 to 10).map(i => s"a$i").mkString(" ") + " c3"
    val selfRep = (1 to 10).map(i => s"s$i").mkString(" ") + " filler " +
      (1 to 10).map(i => s"s$i").mkString(" ")
    val df = docsDf(1L -> a, 2L -> a /* exact copy */, 3L -> cUnique,
      4L -> "short doc only", 5L -> selfRep)
      .unionByName(spark.createDataFrame(
        java.util.Arrays.asList(Row(6L, null: String)),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))))
    val out = Dedup.dropDuplicatedSubstrings(df, 10).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L).contains(a))                 // canonical doc untouched
    assert(!out.contains(2L))                   // exact copy fully covered -> dropped
    assert(out(3L).contains("c1 c2 c3"))        // shared block stripped, unique kept
    assert(out(4L).contains("short doc only"))  // n < W: no windows, passes
    assert(out(5L).contains((1 to 10).map(i => s"s$i").mkString(" ") + " filler"))
    assert(out(6L).isEmpty)                     // null text passes unchanged
    // determinism under repartitioning (canonical = global min (doc, pos))
    val again = Dedup.dropDuplicatedSubstrings(df.repartition(7), 10).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(again == out)
  }

  test("paragraph dedup keep-first: canonical copy survives, later copies drop, blanks preserved, all-dup docs vanish") {
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "shared para\nunique one"),
      Row(2L, "shared para\nunique two\n\nshared tail"),
      Row(3L, "shared para\nshared tail"), // all content duplicated -> vanishes
      Row(4L, null: String)),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val got = Dedup.dropDuplicateParagraphs(df).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L).contains("shared para\nunique one"))      // canonical kept
    assert(got(2L).contains("unique two\n\nshared tail"))    // copy dropped, blank + canonical tail kept
    assert(!got.contains(3L))                                // nothing left
    assert(got(4L).isEmpty)                                  // null passes
    // determinism under repartitioning (canonical = global min (doc, pos))
    val again = Dedup.dropDuplicateParagraphs(df.repartition(5)).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(again == got)
    // the input's other columns come through unchanged, null-text rows too
    val tagged = Dedup.dropDuplicateParagraphs(df.withColumn("tag", col("doc_id") * 10))
    assert(tagged.columns.toSeq == Seq("doc_id", "text", "tag"))
    assert(tagged.collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet ==
      got.map { case (id, text) => (id, text, id * 10) }.toSet)
  }

  test("context-window chunking: full coverage, stride overlap, no sub-range chunks, short/null docs") {
    val doc100 = (1 to 100).map(i => s"w$i").mkString(" ")
    val df = docsDf(1L -> doc100, 2L -> "tiny doc", 3L -> ("  " + "x " * 64).trim)
      .unionByName(spark.createDataFrame(
        java.util.Arrays.asList(Row(4L, null: String)),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))))
    val got = Packing.chunkTokens(df, 64, 48).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getString(3))).toMap
    // doc 1 (100 tokens): starts 0 (full) and 36 (=100-64 tail), NOT 48
    // (48+64 > 100 — a start there would be a sub-range of the tail chunk)
    assert(got.keySet.filter(_._1 == 1L) == Set(1L -> 0, 1L -> 1))
    assert(got(1L -> 0)._2 == (1 to 64).map(i => s"w$i").mkString(" "))
    assert(got(1L -> 1)._2 == (37 to 100).map(i => s"w$i").mkString(" "))
    assert(got(1L -> 0)._1 == 64 && got(1L -> 1)._1 == 64)
    // doc 2 under the chunk size: one whole-doc chunk with its true count
    assert(got(2L -> 0) == (2, "tiny doc"))
    // doc 3 exactly 64 tokens: one chunk, no empty second window
    assert(got.keySet.filter(_._1 == 3L) == Set(3L -> 0))
    // null-text doc has no token stream: dropped
    assert(!got.keySet.exists(_._1 == 4L))
    // every token of doc 1 appears in some chunk (coverage)
    val covered = got.collect { case ((1L, _), (_, txt)) => txt.split(" ") }.flatten.toSet
    assert((1 to 100).forall(i => covered.contains(s"w$i")))
  }

  test("chunking matches the reference model across the full geometry grid") {
    // plain-Scala model of the documented start rule
    def refChunks(n: Int, size: Int, stride: Int): Seq[Seq[Int]] = {
      val starts = if (n <= size) Seq(0)
      else ((0 to (n - size) / stride).map(_ * stride) :+ (n - size)).distinct
      starts.map(s => (s until math.min(s + size, n)))
    }
    for ((size, stride) <- Seq((8, 8), (8, 5), (16, 3))) {
      val docs = docsDf((1 to 40).map(n =>
        n.toLong -> (0 until n).map(i => s"t$i").mkString(" ")): _*)
      val got = Packing.chunkTokens(docs, size, stride).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))
          .map(_.getString(3)).toSeq).toMap
      (1 to 40).foreach { n =>
        val want = refChunks(n, size, stride)
          .map(_.map(i => s"t$i").mkString(" "))
        assert(got(n.toLong) == want, s"n=$n size=$size stride=$stride")
      }
    }
  }

  test("split assignment: disjoint, exhaustive, deterministic, independent of the sampler hash") {
    val df = docsDf((1L to 2000L).map(i => i -> s"doc $i content"): _*)
    val w = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val got = TextAnalysis.assignSplit(df, w).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 2000) // exhaustive: every row labeled
    val bySplit = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    // proportions near the weights (binomial tolerance at n=2000)
    assert(bySplit("train") > 1700 && bySplit("val") > 50 && bySplit("test") > 50)
    // stable under repartition
    val again = TextAnalysis.assignSplit(df.repartition(13), w)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == got)
    // salted: test-split membership is NOT the sampler's drop set (the
    // same-hash-correlation trap) — at fraction 0.95 the sampler keeps
    // most of val+test rather than dropping exactly them
    val kept = TextAnalysis.sampleStratified(df.withColumn("lang", lit("en")),
      "lang", Map("en" -> 0.95)).select("doc_id").collect().map(_.getLong(0)).toSet
    val nonTrain = got.collect { case (id, s) if s != "train" => id }.toSet
    assert(nonTrain.count(kept.contains).toDouble / nonTrain.size > 0.8)
    // null key -> null label, never silent membership in the last split
    val nulled = spark.createDataFrame(
      java.util.Arrays.asList(Row(null.asInstanceOf[java.lang.Long], "x")),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    assert(TextAnalysis.assignSplit(nulled, w).select("split").head.isNullAt(0))
  }

  test("ngram jaccard pairs agree with direct computation") {
    val df = docsDf(1L -> base, 2L -> base.replace("lazy", "sleepy"), 3L -> "other words entirely")
    val got = Dedup.ngramJaccardPairs(df, 3, 0.3).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    def sh(t: String) = t.toLowerCase.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val exp = sh(base).intersect(sh(base.replace("lazy", "sleepy"))).size.toDouble /
      sh(base).union(sh(base.replace("lazy", "sleepy"))).size
    assert(math.abs(got.head.getDouble(2) - exp) < 1e-6)
  }

  test("ngram jaccard df-cap bounds a hot shingle's bucket without losing true dups") {
    // 40 docs share one hot trigram but are pairwise unrelated; one true
    // near-dup pair shares many RARE shingles
    val hot = "alpha beta gamma"
    val unrelated = (0L until 40L).map(i => i -> s"$hot unique$i filler$i token$i words$i")
    val dupA = 100L -> (base + " extra tail")
    val dupB = 101L -> (base + " extra tail tweak")
    val df = docsDf((unrelated ++ Seq(dupA, dupB)): _*)
    // cap below the hot shingle's df: the hot bucket is excluded entirely
    val capped = Dedup.ngramJaccardPairs(df, 3, 0.3, maxDocFreq = 10).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((100L, 101L)))
    // and the surviving pair's jaccard is EXACT over the full shingle sets
    val uncapped = Dedup.ngramJaccardPairs(df, 3, 0.3, maxDocFreq = 1000000).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val cappedJ = capped.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cappedJ((100L, 101L)) == uncapped((100L, 101L)))
    // without the cap the hot shingle creates the quadratic candidate bucket
    assert(uncapped.size == 1 || uncapped.keys.exists(p => p._1 < 40L)) // hot pairs exist pre-threshold
  }

  test("contamination report counts distinct shared 13-grams; drop keeps clean docs") {
    val b13 = base.split(" ").take(13).mkString(" ") // == whole-text shingle of doc 3
    val b15 = base.split(" ").take(15).mkString(" ") // 15 tokens -> three 13-grams
    val docs = docsDf(
      1L -> base, // shares all three benchmark 13-grams
      2L -> "completely unrelated corpus line with no overlap at all whatsoever in any window",
      3L -> b13)  // short doc: whole-text fallback shingle == benchmark 13-gram #1
    val bench = docsDf(10L -> b15).select(col("text"))
    val rep = Dedup.contaminationReport(docs, bench, 13).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(1L -> 3L, 3L -> 1L))
    val kept = Dedup.dropContaminated(docs, bench, 13)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("contamination short-item route: a <=13-token eval item inside a LONG doc is caught at token boundaries") {
    val item = "what is the capital of france" // 6 tokens: no 13-gram exists
    val docs = docsDf(
      1L -> s"padding words before the question $item and padding words after it too yes", // contains item
      2L -> "the capital city of francesco is not a question about france at all here", // no boundary match
      3L -> s"prefix-$item", // 'prefix-what' is one token: leading boundary fails, no hit
      4L -> item) // exact equality is also a containment hit
    val bench = docsDf(10L -> item).select(col("text"))
    val rep = Dedup.contaminationReport(docs, bench, 13).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(1L -> 1L, 4L -> 1L))
    val kept = Dedup.dropContaminated(docs, bench, 13)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("unigram nll: matches hand computation, OOV floor applies, empty docs unscored") {
    // corpus tokens: a a a b b c  -> N=6; vocabSize=2 keeps {a:3, b:2}; c is OOV (p=1/6)
    val docs = docsDf(1L -> "a a a", 2L -> "b b c", 3L -> "")
    val got = TextAnalysis.unigramLogProb(docs, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val lg = (x: Double) => math.log(x) / math.log(2.0)
    assert(got.keySet == Set(1L, 2L)) // doc 3 has no tokens
    assert(got(1L) == r6(-(3 * lg(3.0 / 6.0)) / 3))
    assert(got(2L) == r6(-(2 * lg(2.0 / 6.0) + lg(1.0 / 6.0)) / 3))
    // rarer content scores strictly worse
    assert(got(2L) > got(1L))
  }

  test("line dedup: boilerplate above the cap drops, blanks and rare lines survive, all-boilerplate docs vanish") {
    val header = "nav menu home about contact"
    val docs = docsDf(
      1L -> s"$header\nalpha body line",
      2L -> s"$header\nbeta body line",
      3L -> s"$header\ngamma body line",
      4L -> s"$header\nshared rare line\ndelta body line",
      5L -> s"shared rare line\n\nepsilon body line",
      6L -> header, // nothing but boilerplate
      7L -> null) // null text: unscorable, must pass through untouched
    val df = Dedup.repeatedLines(docs, maxDocFreq = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == Map(header -> 5L)) // docs 1-4 and 6; rare line df=2 stays under the cap
    val out = Dedup.dropRepeatedLines(docs, maxDocFreq = 3).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(
      1L -> Some("alpha body line"), 2L -> Some("beta body line"), 3L -> Some("gamma body line"),
      4L -> Some("shared rare line\ndelta body line"),
      5L -> Some("shared rare line\n\nepsilon body line"), // doc 6 vanished, blank kept
      7L -> None)) // null text passed through, not deleted
    // the input's other columns come through unchanged, null-text rows too
    val tagged = Dedup.dropRepeatedLines(docs.withColumn("tag", col("doc_id") * 10), maxDocFreq = 3)
    assert(tagged.columns.toSeq == Seq("doc_id", "text", "tag"))
    assert(tagged.collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet ==
      out.map { case (id, text) => (id, text, id * 10) }.toSet)
  }

  test("dropSeen removes exact cross-corpus matches only") {
    val ref = docsDf(100L -> base, 101L -> "reference-only content")
    val docs = docsDf(1L -> base, 2L -> ("  " + base.toUpperCase + " "), 3L -> "fresh content")
    val kept = Dedup.dropSeen(docs, ref).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L)) // doc 2 matches via normalized fingerprint
  }

  test("dropSeenApprox: zero false negatives, FP drops within the bloom bound, nulls pass") {
    import spark.implicits._
    // reference = every 10th doc of a 2000-doc corpus; fpp = 1%
    val docs = ((0L until 2000L).map(i => i -> s"document body number $i with unique words w$i x${i * 7}")
      :+ (9999L -> null.asInstanceOf[String])).toDF("doc_id", "text")
    val ref = docs.where(col("doc_id") % 10 === 0 && col("doc_id") < 9999)
    val kept = Dedup.dropSeenApprox(docs, ref, fpp = 0.01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // NO false negatives: every seen doc dropped
    assert(kept.forall(id => id == 9999L || id % 10 != 0))
    // null-text doc passes through (unscorable contract)
    assert(kept.contains(9999L))
    // false-positive drops bounded: 1800 unseen docs, fpp 1% → expect ~18,
    // assert a generous 5x margin
    val unseenDropped = 1800 - (kept.size - 1)
    assert(unseenDropped <= 90, s"bloom dropped $unseenDropped unseen docs")
    // superset-consistency with the exact path: exact keeps ⊇ approx keeps
    val exactKept = Dedup.dropSeen(docs, ref).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(exactKept))
  }

  test("sequence packing: bucketed prefix-sum equals a global sort; empty docs occupy no space") {
    import graft.functions.Packing
    val rows = (0L until 300L).map(i => i -> ("tok " * (1 + (i % 37)).toInt).trim) :+
      (999L -> "") // empty doc: 0 tokens, must not shift the stream
    val df = docsDf(rows: _*).repartition(7) // order must not depend on layout
    val got = Packing.packSequences(df, seqLen = 64).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // driver-side reference: global sort by (md5(doc_id), doc_id), running offset
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ordered = rows.map { case (id, t) =>
      (id, if (t.trim.isEmpty) 0L else t.trim.split("\\s+").length.toLong)
    }.sortBy { case (id, _) => (md5hex(id.toString), id) }
    var off = 0L
    ordered.foreach { case (id, n) =>
      val end = (off + math.max(n, 1L) - 1L) / 64L
      assert(got(id) == ((n, off, off / 64L, end)), s"doc $id")
      off += n
    }
    assert(got(999L)._1 == 0L)
  }

  test("interleaved packing: image spans cost the fixed token budget, text spans their count") {
    import graft.functions.Packing
    import graft.model.{Doc, Span}
    import spark.implicits._
    val docs = Seq(
      Doc("a", Seq(Span("paragraph", "one two three", "", 0),
                   Span("image", "[Image: x.png]", "rId1", 1),
                   Span("heading1", "four five", "", 2))),
      Doc("b", Seq(Span("image", "[Image: y.png]", "rId2", 0))),
      Doc("c", Seq.empty)).toDF()
    val got = Packing.packInterleaved(docs, seqLen = 8, imageTokens = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> (3L + 10L + 2L), "b" -> 10L, "c" -> 0L))
    // offsets are the same machinery as packSequences: contiguous, gap-free
    val rows = Packing.packInterleaved(docs, 8, 10).collect()
      .map(r => (r.getLong(2), r.getLong(1))).sortBy(_._1)
    rows.sliding(2).foreach { case Array((s0, n0), (s1, _)) => assert(s1 == s0 + n0); case _ => }
  }

  test("quality top-fraction equals global (quality desc, doc_id) rank; exact count kept") {
    import graft.functions.Packing
    val rows = (0L until 200L).map(i => i ->
      (s"the of and to a in is it that was filler$i " * (1 + (i % 9)).toInt))
    val df = docsDf(rows: _*).repartition(5)
    val kept = Packing.qualityTopFraction(df, 0.8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val all = df.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val expect = all.sortBy { case (id, q) => (-q, id) }.take((0.8 * all.length).toInt).toMap
    assert(kept == expect)
    assert(kept.size == 160)
  }

  test("quality top-fraction pathological corpus: one bucket holds everything, output stays exact, no mega-partition") {
    import graft.functions.Packing
    // constant-quality corpus: every doc is the SAME text → one quality
    // value, one bucket — the shape that degrades a bucket-partitioned
    // window to a single task (all-empty/boilerplate-heavy shards are real)
    val rows = (0L until 300L).map(i => i -> "identical boilerplate line for every document here")
    val df = docsDf(rows: _*).repartition(7)
    val kept = Packing.qualityTopFraction(df, 0.6).collect()
      .map(r => r.getLong(0)).toSet
    // exact semantics: rank by (quality desc, doc_id) — constant quality →
    // pure doc_id order, keep the floor(0.6 * 300) smallest ids
    assert(kept == (0L until 180L).toSet)
    // and the fallback's foundation holds: a range partition over BOTH sort
    // keys splits a constant-quality corpus on the doc_id tie-break, so no
    // partition ever holds the whole corpus. AQE rightly coalesces 300 tiny
    // rows back into one partition at TEST scale (partitions far below the
    // advisory size), which is exactly what it would NOT do to real
    // partitions — assert the partitioner property with coalescing off.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val q = df.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val sizes = q.repartitionByRange(col("quality").desc, col("doc_id"))
        .groupBy(spark_partition_id().as("pid")).count()
        .collect().map(_.getLong(1))
      assert(sizes.length > 1, "range partitioner must split the constant-quality corpus")
      assert(sizes.max < 300, s"no partition may hold the whole corpus (sizes=${sizes.toSeq})")
    } finally spark.conf.set(coalesceKey, prev)
    // mixed-but-concentrated: 90% of docs in one bucket, 10% spread — the
    // routed plan must still equal the global rank
    val mixed = (0L until 200L).map { i =>
      if (i % 10 == 0) i -> (s"the of and to a in is it that was filler$i " * (1 + (i % 9)).toInt)
      else i -> "identical boilerplate line for every document here"
    }
    val mdf = docsDf(mixed: _*).repartition(5)
    val got = Packing.qualityTopFraction(mdf, 0.8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val all = mdf.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val expect = all.sortBy { case (id, qq) => (-qq, id) }.take((0.8 * all.length).toInt).toMap
    assert(got == expect)
  }

  test("keepRanked equals row_number per group, also for a tied group spread over range partitions") {
    import graft.functions.Packing
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // group "a": 300 rows tied on the leading order key p (ranked by id
    // alone); "b": 200 rows with spread p; "c": 5 rows, under the keep
    val rows = (0L until 300L).map(i => ("a", 7, i)) ++
      (300L until 500L).map(i => ("b", (i % 13).toInt, i)) ++
      (500L until 505L).map(i => ("c", 1, i))
    val df = rows.toDF("g", "p", "id").repartition(5)
    val order = Seq(col("p").desc, col("id"))
    def ids(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.getLong(2)).toSet
    def naive(w: org.apache.spark.sql.expressions.WindowSpec, keep: Long) =
      ids(df.withColumn("rn", row_number().over(w)).where(col("rn") <= keep).drop("rn"))
    // coalescing off, so the range partitions stay split at test scale
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val kept = Packing.keepRanked(df, Seq("g"), order, 120)
      assert(kept.columns.toSeq == Seq("g", "p", "id"))
      val got = ids(kept)
      assert(got == naive(Window.partitionBy(col("g")).orderBy(order: _*), 120))
      assert(got.count(_ < 300) == 120 && got.count(_ >= 500) == 5)
      // the tied group really spans more than one range partition, so the
      // per-partition offsets decide which of its rows are kept
      val pids = df.repartitionByRange(col("g") +: order: _*)
        .where(col("g") === "a").select(spark_partition_id()).distinct().count()
      assert(pids > 1, "group a must span range partitions")
      // no group: one global rank
      assert(ids(Packing.keepRanked(df, Nil, order, 250)) ==
        naive(Window.orderBy(order: _*), 250))
    } finally spark.conf.set(coalesceKey, prev)
  }

  test("quality top-fraction over all-null text returns no rows with the (doc_id, quality) schema") {
    import graft.functions.Packing
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, null), Row(2L, null), Row(3L, null)), schema)
    val kept = Packing.qualityTopFraction(df, 0.5)
    assert(kept.columns.toSeq == Seq("doc_id", "quality"))
    assert(kept.count() == 0)
  }

  test("fused L2NormExpr matches the HOF norm; RHP signatures are deterministic") {
    val r = new java.util.Random(3)
    val vecs = (0L until 50L).map(i => i -> Seq.fill(16)(r.nextFloat() * 2 - 1))
    val df = embDf(vecs: _*)
    val both = df.select(col("vec_id"),
      graft.functions.L2NormExpr(col("embedding")).as("fused"),
      Similarity.l2Norm(col("embedding")).as("hof")).collect()
    both.foreach(x => assert(math.abs(x.getDouble(1) - x.getDouble(2)) < 1e-9))
    val s1 = df.select(Similarity.rhpSignature(col("embedding"), 32)).collect().map(_.getLong(0))
    val s2 = df.select(Similarity.rhpSignature(col("embedding"), 32)).collect().map(_.getLong(0))
    assert(s1.toSeq == s2.toSeq)
    // scaling a vector by a positive constant never flips sign bits
    val scaled = embDf(vecs.map { case (i, v) => i -> v.map(_ * 3.0f) }: _*)
    val s3 = scaled.select(Similarity.rhpSignature(col("embedding"), 32)).collect().map(_.getLong(0))
    assert(s1.toSeq == s3.toSeq)
    // multi-word signature: one word per 64 planes, deterministic
    val m32 = df.select(graft.functions.RhpMultiSigExpr(col("embedding"), 32))
      .collect().map(_.getSeq[Long](0))
    assert(m32.forall(_.length == 1))
    val m256a = df.select(graft.functions.RhpMultiSigExpr(col("embedding"), 256))
      .collect().map(_.getSeq[Long](0))
    val m256b = df.select(graft.functions.RhpMultiSigExpr(col("embedding"), 256))
      .collect().map(_.getSeq[Long](0))
    assert(m256a.forall(_.length == 4) && m256a.toSeq == m256b.toSeq)
    // words differ (independent hyperplane sets per word)
    assert(m256a.exists(ws => ws.distinct.length > 1))
  }

  test("connectedComponents labels chains and separate clusters with min ids") {
    import spark.implicits._
    // chain 1-2-3-4 (no direct 1-4 pair), separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents handles a giant star component without a hot reducer") {
    import spark.implicits._
    // one hub vertex paired with 10k spokes: the propagate groupBy sees one
    // key (the hub) carrying 10k rows — min() partial-aggregates map-side,
    // so the skewed key combines before the shuffle instead of funneling
    // 10k rows into one reducer. A long chain rides along to prove the
    // pointer jumping still converges in O(log d) rounds alongside the star.
    val star = (1L to 10000L).map(i => (0L, i))
    val chain = (20000L until 20032L).map(i => (i, i + 1))
    val pairs = (star ++ chain).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs)
    val byComponent = comps.groupBy("component").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byComponent == Map(0L -> 10001L, 20000L -> 33L))
    // the skewed aggregate must partial-aggregate map-side. The loop's own
    // output plan is a truncated LogicalRDD leaf, so assert on one round
    // built by the SAME builders the production loop uses:
    val edges = Dedup.ccEdges(pairs)
    val round = Dedup.ccRound(Dedup.ccSeed(edges), edges)
    val plan = round.queryExecution.executedPlan.toString()
    assert(plan.contains("partial_min"),
      s"expected map-side partial_min below the exchange in:\n$plan")
  }

  test("dropNearDuplicatesCC keeps one representative per component plus untouched docs") {
    // three copies of base (mutual near-dups) + one unrelated doc
    val df = docsDf(1L -> base, 2L -> base.replace("lazy", "sleepy"),
      3L -> base.replace("dog", "cat"), 4L -> "entirely different words here about nothing")
    val kept = Dedup.dropNearDuplicatesCC(df, 0.3).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L))
  }

  test("LSH-based CC dedup finds clusters LARGER than any df-cap (the boilerplate case)") {
    // 30 near-copies of one page: every shared shingle has df≈30, so an
    // exact-Jaccard path capped at maxDocFreq < 30 would see NO candidates;
    // MinHash banding is df-independent and must still collapse the cluster
    val cluster = (0L until 30L).map(i => i -> (base + s" trailing marker $i"))
    val lone = 100L -> "entirely unrelated content with its own words and nothing shared"
    val df = docsDf((cluster :+ lone): _*)
    val capped = Dedup.dropNearDuplicatesCC(df, 0.5, maxDocFreq = 10)
    assert(capped.count() == 31) // documented limit: cap hides the big cluster
    val kept = Dedup.dropNearDuplicatesCCLsh(df, 0.5).collect().map(_.getLong(0))
    assert(kept.length < 31 && kept.contains(100L) && kept.contains(0L))
  }

  private def embDf(rows: (Long, Seq[Float])*) = {
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }), schema)
  }

  test("brute-force top-k returns the planted nearest neighbor, ties broken by id") {
    val v = Seq.fill(8)(1.0f)
    val near = v.updated(0, 0.9f)
    val far = Seq.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = embDf(1L -> v, 2L -> near, 3L -> far)
    val top = Similarity.bruteForceTopK(df.where(col("vec_id") === 1), df, 2).collect()
    assert(top.map(_.getLong(2)).toSeq == Seq(2L, 3L))
    assert(top.head.getDouble(3) > 0.99)
  }

  test("LSH ANN recalls the planted neighbor of brute force") {
    val r = new java.util.Random(7)
    val vecs = (0L until 100L).map(i => i -> Seq.fill(16)(r.nextFloat() * 2 - 1))
    val planted = 100L -> vecs(5)._2.map(x => x * 0.98f + 0.01f)
    val df = embDf((vecs :+ planted): _*)
    val brute = Similarity.bruteForceTopK(df.where(col("vec_id") === 100), df, 1).collect()
    assert(brute.head.getLong(2) == 5L)
    // (30, 3): a 10-bit band width that does not divide 64 — accepted because
    // a single-word signature has no word boundary for a band to straddle
    Seq((16, 8), (30, 3)).foreach { case (bits, numBands) =>
      val lsh = Similarity.lshTopK(df.where(col("vec_id") === 100), df, 1,
        bits = bits, numBands = numBands).collect()
      assert(lsh.head.getLong(2) == 5L, s"bits=$bits numBands=$numBands") // recalled through the bucket join
    }
    // past one word a band must divide 64: 40-bit bands of 120 planes straddle
    intercept[IllegalArgumentException](Similarity.lshTopK(df, df, 1, bits = 120, numBands = 3))
  }

  test("IVF ANN recalls the planted neighbor; assignment is scale-invariant") {
    val r = new java.util.Random(13)
    val vecs = (0L until 200L).map(i => i -> Seq.fill(16)(r.nextFloat() * 2 - 1))
    val planted = 200L -> vecs(9)._2.map(x => x * 0.97f + 0.005f)
    val df = embDf((vecs :+ planted): _*)
    val ivf = Similarity.ivfTopK(df.where(col("vec_id") === 200), df, 1,
      nLists = 8, nProbe = 4).collect()
    assert(ivf.head.getLong(2) == 9L)
    // cosine assignment: scaling every vector must not change any assignment
    val cents = Similarity.trainCentroids(df, 8)
    val a1 = df.select(col("vec_id"),
      element_at(graft.functions.NearestCentroidsExpr(col("embedding"), cents, 1), 1)).collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    val scaled = embDf((vecs :+ planted).map { case (i, v) => i -> v.map(_ * 5.0f) }: _*)
    val a2 = scaled.select(col("vec_id"),
      element_at(graft.functions.NearestCentroidsExpr(col("embedding"), cents, 1), 1)).collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(a1 == a2)
  }

  test("LSH embedding near-dup recalls the exact path's pairs at high cosine") {
    val r = new java.util.Random(11)
    val base = (0L until 60L).map(i => i -> Seq.fill(16)(r.nextFloat() * 2 - 1))
    // plant two near-dup pairs
    val planted = Seq(
      100L -> base(3)._2.map(x => x * 0.995f),
      101L -> base(7)._2.map(x => (x * 0.99f + 0.001f)))
    val df = embDf((base ++ planted): _*)
    // 0.9 is the threshold of the d_embed_neardup[_lsh] queries
    Seq(0.98, 0.9).foreach { threshold =>
      val exact = Dedup.embeddingNearDuplicates(df, threshold).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(exact.contains((3L, 100L)) && exact.contains((7L, 101L)), s"threshold=$threshold")
      val lsh = Dedup.embeddingNearDuplicatesLsh(df, threshold).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(lsh == exact, s"threshold=$threshold") // full recall at near-dup cosine
    }
  }

  test("ivfTopK probing every list returns exactly bruteForceTopK's rows") {
    val r = new java.util.Random(17)
    val vecs = (0L until 80L).map(i => i -> Seq.fill(16)(r.nextFloat() * 2 - 1))
    // exact copies tie on cosine with their originals: the rank order of a
    // tie is decided by neighbor id alone
    val copies = Seq(80L -> vecs(4)._2, 81L -> vecs(4)._2, 82L -> vecs(11)._2)
    val df = embDf((vecs ++ copies): _*)
    val q = df.where(col("vec_id") < 12)
    val brute = Similarity.bruteForceTopK(q, df, 5).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3))).sorted
    val ivf = Similarity.ivfTopK(q, df, 5, nLists = 8, nProbe = 8).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3))).sorted
    // the same ranking computed on the driver: cosine desc, neighbor id asc,
    // k per query, cosine rounded half-up to 6 places
    val vs = (vecs ++ copies).toMap
    def norm(a: Seq[Float]) = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    def cos(a: Seq[Float], b: Seq[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum / math.max(norm(a) * norm(b), 1e-12)
    val expected = (0L until 12L).flatMap { qi =>
      vs.toSeq.collect { case (id, v) if id != qi => (id, cos(vs(qi), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).zipWithIndex
        .map { case ((id, c), i) =>
          (qi, i + 1, id, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.sorted
    assert(brute.toSeq == expected)
    assert(ivf.toSeq == brute.toSeq)
    // query 4's two copies rank first, lower id first
    assert(brute.filter(_._1 == 4L).take(2).map(_._3).toSeq == Seq(80L, 81L))
  }

  test("RollingHash64 codegen matches the reference implementation") {
    import spark.implicits._
    val texts = Seq("", "a", "hello world", "üñïçødé ✓", base)
    val df = texts.toDF("t").select(RollingHash64(col("t")).as("h"))
    assert(df.collect().map(_.getLong(0)).toSeq == texts.map(RollingHash64.of))
  }

  test("text analysis: token counts, language id, quality bounds") {
    val df = docsDf(1L -> "the cat is on the mat and it was fine",
      2L -> "der hund ist nicht der beste und das ist ok",
      3L -> "", 4L -> "le chat est dans la maison pour une nuit")
    val langs = df.select(col("doc_id"), TextAnalysis.langGuess(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs == Map(1L -> "en", 2L -> "de", 3L -> "und", 4L -> "fr"))
    val toks = df.select(TextAnalysis.tokenCount(col("text"))).collect().map(_.getInt(0))
    assert(toks.toSeq == Seq(10, 10, 0, 9))
    val q = df.select(TextAnalysis.qualityScore(col("text"))).collect().map(_.getDouble(0))
    assert(q.forall(x => x >= 0.0 && x <= 1.0))
  }

  test("PII redaction: emails, dotted quads, phone shapes; version strings untouched") {
    import spark.implicits._
    val expected = Map(
      1 -> "contact me at <EMAIL> for details",
      2 -> "call <PHONE> or <PHONE> tomorrow",
      3 -> "server at <IP> and <IP> responded",
      4 -> "no personal data in this row at all",
      5 -> "mixed: <EMAIL> then <IP> then <PHONE>",
      6 -> "",
      7 -> "v1.2.3 release notes section 4.5", // NOT an IP and NOT a phone
      8 -> "dial <PHONE> now")
    val got = SparkEntry.PiiFixture.rows.toDF("pii_id", "text")
      .select(col("pii_id"), TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == expected)
  }

  test("deterministic stratified sampling: stable under repartitioning, strata respected") {
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) "en" else "fr")).toDF("doc_id", "lang")
    def ids(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.sampleStratified(d, "lang", Map("en" -> 0.5))
        .collect().map(_.getLong(0)).sorted.toSeq
    val s1 = ids(df)
    val s2 = ids(df.repartition(13)) // same rows regardless of partitioning
    assert(s1 == s2)
    assert(s1.count(_ % 2 == 1) == 2000) // fr: default fraction 1.0 keeps all
    val en = s1.count(_ % 2 == 0) // en: ~50% by md5 bucket, binomial bound
    assert(math.abs(en - 1000) < 150, s"en kept $en of 2000 at fraction 0.5")
  }

  test("repetition ratio and top terms per language") {
    import spark.implicits._
    val rep = Seq((1L, "a a a a"), (2L, "w x y z"), (3L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.repetitionRatio(col("text")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rep == Map(1L -> 0.75, 2L -> 0.0, 3L -> 0.0))
    val docs = Seq((1L, "en", "b b a"), (2L, "en", "a c a"), (3L, "fr", "z"))
      .toDF("doc_id", "lang", "text")
    val top = TextAnalysis.topTermsPerLang(docs, 2).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(top.toSet == Set(("en", 1, "a", 3L), ("en", 2, "b", 2L), ("fr", 1, "z", 1L)))
  }

  test("gopher rules: each rule fires on its planted violation; null text unscorable but kept=false") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then it runs far away home"
    val rows = Seq(
      1L -> good,                                   // passes everything
      2L -> "the of and",                           // too few tokens
      3L -> ("x " * 20).trim,                       // mean word len 1 < 2, no stopwords
      4L -> ("@@ ## $$ %% ^^ && ** (( )) " * 3 + good), // symbol ratio blown
      5L -> (good + " " + Seq.fill(40)("12345").mkString(" ")), // alpha frac < 0.7
      6L -> "ein der die das und nicht zu mit sich ist hier heute morgen abend", // no EN stopwords... (und/in overlap? 'ist' no; check)
      7L -> null.asInstanceOf[String])
    val out = graft.functions.TextAnalysis.gopherRules(rows.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(6))
    assert(!out(2L).getBoolean(6) && out(2L).getLong(1) == 3L)
    assert(!out(3L).getBoolean(6) && out(3L).getDouble(2) == 1.0)
    assert(!out(4L).getBoolean(6) && out(4L).getDouble(3) > 0.2)
    assert(!out(5L).getBoolean(6) && out(5L).getDouble(4) < 0.7)
    assert(!out(6L).getBoolean(6) && out(6L).getLong(5) == 0L) // non-English: stopword rule
    assert(!out(7L).getBoolean(6) && out(7L).isNullAt(1)) // unscorable: null stats, keep=false
  }

  test("salted partial top-k terms equals a single full-vocab window (incl. tie break)") {
    import spark.implicits._
    // tie-heavy corpus: many terms share counts, so the salted local top-k
    // must preserve the (n desc, term asc) tie-break end to end
    val r = new scala.util.Random(7)
    val docs = (0L until 400L).map { i =>
      val lang = if (i % 3 == 0) "fr" else "en"
      val terms = Seq.fill(8)(s"t${r.nextInt(60)}")
      (i, lang, terms.mkString(" "))
    }.toDF("doc_id", "lang", "text").repartition(9)
    val got = TextAnalysis.topTermsPerLang(docs, 7, salts = 16).collect()
      .map(x => (x.getString(0), x.getInt(1), x.getString(2), x.getLong(3))).toSet
    // reference: unsalted full window over the same aggregate
    val terms = docs
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("lang", "term").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("term").asc)
    val want = terms.withColumn("rank", row_number().over(w)).where(col("rank") <= 7)
      .select(col("lang"), col("rank").cast("int"), col("term"), col("n")).collect()
      .map(x => (x.getString(0), x.getInt(1), x.getString(2), x.getLong(3))).toSet
    assert(got == want)
  }

  test("approx percentile production variant: exact at sketch accuracy, bounded error always") {
    import spark.implicits._
    // skewed long-tail lengths, two groups — the shape t_len_stats sees
    val r = new scala.util.Random(11)
    val df = (0L until 5000L).map { i =>
      val lang = if (i % 4 == 0) "de" else "en"
      (lang, (math.pow(r.nextDouble(), 3) * 4000).toLong + 1)
    }.toDF("lang", "n_tokens")
    val rows = df.groupBy("lang").agg(
      expr("percentile_approx(n_tokens, 0.5, 16384)").as("p50d"),
      expr("percentile_approx(n_tokens, 0.9, 16384)").as("p90d"),
      expr("percentile(n_tokens, 0.5)").as("p50x"),
      expr("percentile(n_tokens, 0.9)").as("p90x"),
      collect_list("n_tokens").as("all")).collect()
    rows.foreach { row =>
      val all = row.getAs[scala.collection.Seq[Long]]("all").sorted
      def disc(q: Double) = all((math.ceil(q * all.size) - 1).toInt.max(0))
      // at accuracy >= group size the sketch is EXACT: element at rank ceil(q*n)
      // (the contract the DuckDB quantile_disc oracle relies on)
      assert(row.getAs[Long]("p50d") == disc(0.5))
      assert(row.getAs[Long]("p90d") == disc(0.9))
      // and never further from the exact interpolated percentile than one
      // neighboring element (t-digest-style bound at full accuracy)
      assert(math.abs(row.getAs[Long]("p50d") - row.getAs[Double]("p50x")) <= 1.0 +
        (disc(0.5001) - disc(0.4999)).toDouble.abs)
      assert(math.abs(row.getAs[Long]("p90d") - row.getAs[Double]("p90x")) <= 1.0 +
        (disc(0.9001) - disc(0.8999)).toDouble.abs)
    }
  }

  test("media decode is REAL: ImageIO dims/format, WAV rate/duration, determinism") {
    import spark.implicits._
    import graft.corpus.SyntheticCorpus
    val media = Fixtures.media(spark).as[graft.model.MediaRow]
    val rows = media.collect()
    val imgs = rows.filter(_.content_type == "image/png")
    val wavs = rows.filter(_.content_type == "audio/wav")
    val vids = rows.filter(_.content_type == "video/gif")
    assert(imgs.nonEmpty && wavs.nonEmpty && vids.nonEmpty,
      "fixture must carry all three modalities")
    val feats = graft.multimodal.Multimodal.decodeImageMeta(media).collect()
    assert(feats.nonEmpty)
    assert(feats.forall(_.byte_len > 0))
    // image rows: the DECODED dims (read from the PNG header by ImageIO, not
    // from the EMU columns) must equal the generator's EMU-derived payload
    // dims — this is what proves a real codec ran over real bytes
    val featBy = feats.map(f => (f.doc_id, f.media_ref) -> f).toMap
    imgs.foreach { m =>
      val f = featBy((m.doc_id, m.media_ref))
      assert(f.format == "png")
      assert(f.width_px.contains(math.max(1L, m.width_emu / SyntheticCorpus.EmuPerPx).toInt))
      assert(f.height_px.contains(math.max(1L, m.height_emu / SyntheticCorpus.EmuPerPx).toInt))
      assert(f.sample_rate_hz.isEmpty && f.duration_ms.isEmpty)
    }
    // audio rows: AudioSystem must parse the RIFF header
    wavs.foreach { m =>
      val f = featBy((m.doc_id, m.media_ref))
      assert(f.format == "wav")
      assert(f.sample_rate_hz.contains(SyntheticCorpus.AudioSampleRate))
      val w = math.max(1L, m.width_emu / SyntheticCorpus.EmuPerPx)
      assert(f.duration_ms.contains(w * SyntheticCorpus.AudioSamplesPerPx * 1000L
        / SyntheticCorpus.AudioSampleRate))
      assert(f.width_px.isEmpty && f.height_px.isEmpty)
    }
    // video rows: the metadata stage dispatches on content_type, and video
    // is NOT its contract — quarantine row ('bin', null dims), with the
    // real decode living in sampleFrames
    vids.foreach { m =>
      val f = featBy((m.doc_id, m.media_ref))
      assert(f.format == "bin" && f.width_px.isEmpty && f.sample_rate_hz.isEmpty)
    }
    val again = graft.multimodal.Multimodal.decodeImageMeta(media).collect()
    assert(feats.map(_.checksum_md5).sorted.toSeq == again.map(_.checksum_md5).sorted.toSeq)
    // corrupt/unknown payloads quarantine to a null-dim row, never kill a task
    val poison = Seq(
      graft.model.MediaRow("d", "r1", "image/png", 0L, 0L, "", "", Array[Byte](1, 2, 3)),
      graft.model.MediaRow("d", "r2", null, 0L, 0L, "", "", null)).toDS()
    val pf = graft.multimodal.Multimodal.decodeImageMeta(poison).collect()
    assert(pf.length == 2 && pf.forall(f => f.format == "bin" && f.width_px.isEmpty))
  }

  test("video frame sampling is REAL: decoded GIF frames match the generator pixel-exactly") {
    import spark.implicits._
    import graft.corpus.SyntheticCorpus
    val media = Fixtures.media(spark).as[graft.model.MediaRow]
    val vids = media.filter(_.content_type == "video/gif").collect()
    assert(vids.nonEmpty, "fixture must carry the video family")
    val frames = graft.multimodal.Multimodal.sampleFrames(media, stride = 2).collect()
      .groupBy(f => (f.doc_id, f.media_ref))
    // every video row yields exactly the generator-known sampled frames,
    // with DECODED dims and a checksum over DECODED pixels equal to the
    // generator's indexed frame recomputed OUTSIDE the container — the
    // round-trip proof that read(i) produced the actual frame pixels
    vids.foreach { m =>
      val seed = SyntheticCorpus.fnv1a64(
        SyntheticCorpus.CorpusSeed + m.doc_id + ":" + m.media_ref)
      val w = math.max(1L, m.width_emu / SyntheticCorpus.EmuPerPx).toInt
      val h = math.max(1L, m.height_emu / SyntheticCorpus.EmuPerPx).toInt
      val nf = SyntheticCorpus.videoFrameCount(w, h)
      val got = frames((m.doc_id, m.media_ref)).sortBy(_.frame_idx)
      assert(got.map(_.frame_idx).toSeq == (0 until nf by 2).toSeq)
      got.foreach { f =>
        assert(f.width_px == w && f.height_px == h)
        assert(f.frame_checksum == graft.multimodal.Multimodal.frameChecksum(
          SyntheticCorpus.gifFrame(seed, w, h, f.frame_idx)))
      }
    }
    // determinism + quarantine: re-run agrees; corrupt payload → zero rows
    val again = graft.multimodal.Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.values.flatten.toSeq.sortBy(f => (f.doc_id, f.media_ref, f.frame_idx))
      .map(_.frame_checksum) ==
      again.sortBy(f => (f.doc_id, f.media_ref, f.frame_idx)).map(_.frame_checksum).toSeq)
    val poison = Seq(
      graft.model.MediaRow("d", "r", "video/gif", 0L, 0L, "", "", Array[Byte](9, 9, 9)),
      graft.model.MediaRow("d", "r2", "video/gif", 0L, 0L, "", "", null)).toDS()
    assert(graft.multimodal.Multimodal.sampleFrames(poison).collect().isEmpty)
  }

  test("audio stats are REAL: AudioSystem sample stream matches the generator's PCM formula") {
    import spark.implicits._
    import graft.corpus.SyntheticCorpus
    val media = Fixtures.media(spark).as[graft.model.MediaRow]
    val stats = graft.multimodal.Multimodal.audioStats(media).collect()
      .map(s => (s.doc_id, s.media_ref) -> s).toMap
    val wavs = media.filter(_.content_type == "audio/wav").collect()
    assert(stats.size == wavs.length && wavs.nonEmpty)
    // the fixture's audio family spans all three supported PCM layouts —
    // assert that, then recompute each row's stats from the generator's
    // sample formulas (family selected exactly as mediaFor selects it):
    // equality proves the DECODED stream (via AudioSystem) is the generated
    // PCM data in every layout, including the 16-bit LE reassembly and the
    // stereo truncating-average mixdown
    val families = scala.collection.mutable.Set[Long]()
    wavs.foreach { m =>
      val s = stats((m.doc_id, m.media_ref))
      val n = (math.max(1L, m.width_emu / SyntheticCorpus.EmuPerPx)
        * SyntheticCorpus.AudioSamplesPerPx).toInt
      assert(s.n_samples == n)
      val seed = SyntheticCorpus.fnv1a64(
        SyntheticCorpus.CorpusSeed + m.doc_id + ":" + m.media_ref)
      val family = java.lang.Long.remainderUnsigned(seed >>> 8, 3)
      families += family
      var sumAbs = 0.0; var sumSq = 0.0; var peak = 0
      (0 until n).foreach { i =>
        val v = family match {
          case 0 => (SyntheticCorpus.audioSampleAt(seed, i) & 0xff) - 128
          case 1 => SyntheticCorpus.audioSample16At(seed, i, 0).toInt
          case _ => (SyntheticCorpus.audioSample16At(seed, i, 0).toInt
            + SyntheticCorpus.audioSample16At(seed, i, 1).toInt) / 2
        }
        sumAbs += math.abs(v); sumSq += v.toDouble * v; peak = math.max(peak, math.abs(v))
      }
      assert(s.peak == peak, s"peak mismatch for family $family")
      assert(math.abs(s.mean_abs - sumAbs / n) < 1e-6)
      assert(math.abs(s.rms - math.sqrt(sumSq / n)) < 1e-6)
    }
    assert(families == Set(0L, 1L, 2L), s"fixture must exercise all PCM families, got $families")
    // non-audio rows never enter the decode; corrupt audio rows are skipped
    val poison = Seq(graft.model.MediaRow("d", "r", "audio/wav", 0L, 0L, "", "",
      Array[Byte](1, 2, 3))).toDS()
    assert(graft.multimodal.Multimodal.audioStats(poison).collect().isEmpty)
  }

  test("media resize is REAL: pixel decode, bilinear letterbox, PNG re-encode") {
    import spark.implicits._
    import graft.corpus.SyntheticCorpus
    val media = Fixtures.media(spark).as[graft.model.MediaRow]
    val resized = graft.multimodal.Multimodal.resizeImages(media, target = 256).collect()
    assert(resized.nonEmpty)
    // image rows only pass the stage; count must match the image family
    assert(resized.length == media.filter(_.content_type == "image/png").count())
    resized.foreach { r =>
      // aspect-preserving letterbox fit: inside the box, one side touching it
      assert(r.target_w <= 256 && r.target_h <= 256)
      assert(r.target_w == 256 || r.target_h == 256)
      val inRatio = r.width_px.toDouble / r.height_px
      val outRatio = r.target_w.toDouble / r.target_h
      assert(math.abs(inRatio - outRatio) / inRatio < 0.02, s"$inRatio vs $outRatio")
      // the output payload is a real PNG at exactly the target geometry
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.bytes))
      assert(img != null && img.getWidth == r.target_w && img.getHeight == r.target_h)
    }
    // pixel-level proof on one known row: the source payload decodes to the
    // generator's deterministic gradient pattern
    val m = media.filter(_.content_type == "image/png").head()
    val seed = SyntheticCorpus.fnv1a64(
      SyntheticCorpus.CorpusSeed + m.doc_id + ":" + m.media_ref)
    val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.bytes))
    val (x, y) = (src.getWidth / 2, src.getHeight / 2)
    assert((src.getRGB(x, y) & 0xffffff) == SyntheticCorpus.pixelAt(seed, x, y))
  }

  test("BucketPairsExpr matches the HOF pair/star formulation on ids and member structs") {
    import spark.implicits._
    // long-id buckets: random sizes straddling the cap, incl. empty/1-elem
    val rnd = new scala.util.Random(7)
    val buckets = (0 until 40).map { i =>
      (i.toLong, (0 until rnd.nextInt(12)).map(_ => rnd.nextInt(20).toLong + 100L).distinct)
    }
    val df = buckets.toDF("bucket", "ids")
    val cap = 5
    val hofPairs = {
      val ids = col("ids")
      val hub = array_min(ids)
      val allPairs = flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), size(ids) - i - lit(1)),
          y => struct(least(x, y).as("a"), greatest(x, y).as("b")))))
      val star = transform(filter(ids, x => x =!= hub), x => struct(hub.as("a"), x.as("b")))
      when(size(ids) <= cap, allPairs).otherwise(star)
    }
    val got = df.select(col("bucket"), explode(graft.functions.BucketPairsExpr(col("ids"), cap)).as("p"))
      .select(col("bucket"), col("p.a"), col("p.b")).collect().toSet
    val want = df.select(col("bucket"), explode(hofPairs).as("p"))
      .select(col("bucket"), col("p.a"), col("p.b")).collect().toSet
    assert(got == want)
    // pair ORDER within a bucket must also match (same emission sequence)
    val gotSeq = df.select(col("bucket"), graft.functions.BucketPairsExpr(col("ids"), cap).as("ps")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1)).toMap
    val wantSeq = df.select(col("bucket"), hofPairs.as("ps")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1)).toMap
    assert(gotSeq == wantSeq)
    // struct members (the SimHash shape): lexicographic struct ordering, min-struct hub
    val sdf = Seq(
      (1L, Seq((5L, 50L), (2L, 20L), (9L, 90L))),                  // exhaustive branch
      (2L, Seq((7L, 70L), (3L, 30L), (8L, 80L), (1L, 10L), (4L, 40L), (6L, 60L))) // star branch
    ).toDF("bucket", "ms")
      .select(col("bucket"), transform(col("ms"),
        m => struct(m.getField("_1").as("doc_id"), m.getField("_2").as("sig"))).as("ms"))
    val sgot = sdf.select(col("bucket"), explode(graft.functions.BucketPairsExpr(col("ms"), 4)).as("p"))
      .select(col("bucket"), col("p.a.doc_id"), col("p.b.doc_id"),
        col("p.a.sig"), col("p.b.sig")).collect().toSet
    val sortedMs = sort_array(col("ms"))
    val sHof = {
      val hub = element_at(sortedMs, 1)
      val allPairs = flatten(transform(sortedMs, (x, i) =>
        transform(slice(sortedMs, i + lit(2), size(sortedMs) - i - lit(1)), y =>
          struct(x.getField("doc_id").as("a"), y.getField("doc_id").as("b"),
            x.getField("sig").as("sig_a"), y.getField("sig").as("sig_b")))))
      val star = transform(slice(sortedMs, lit(2), size(sortedMs) - 1), y =>
        struct(hub.getField("doc_id").as("a"), y.getField("doc_id").as("b"),
          hub.getField("sig").as("sig_a"), y.getField("sig").as("sig_b")))
      when(size(col("ms")) <= 4, allPairs).otherwise(star)
    }
    val swant = sdf.select(col("bucket"), explode(sHof).as("p"))
      .select(col("bucket"), col("p.a"), col("p.b"), col("p.sig_a"), col("p.sig_b")).collect().toSet
    assert(sgot == swant)
  }
}
