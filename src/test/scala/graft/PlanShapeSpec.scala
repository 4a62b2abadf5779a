package graft

import graft.functions.{Dedup, Domains, L2NormExpr, Packing, TextAnalysis}
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Plan-shape properties of the dedup, packing and mixing operators, asserted
  * on the FINAL adaptive plan of an executed query (the text before
  * `== Initial Plan ==`), over small planted inputs. Each test names the
  * shape its operator's comments promise; a rewrite that loses it (a
  * re-introduced self-join, a corpus-text shuffle, a broken exchange reuse,
  * extra corpus sweeps) fails here instead of in a hand-read plan dump.
  */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestBase.spark

  /** Executes `df` through its OWN QueryExecution (a count or foreach would
    * run a derived one and leave this plan un-finalized) and returns the
    * final physical plan. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** The final adaptive plan as text: the part before the initial-plan copy
    * an executed adaptive plan appends. */
  private def finalText(df: DataFrame): String = {
    finalPlan(df)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  /** Columns a shuffle moves: its output attributes, plus the inputs of a
    * map-side partial aggregate feeding it (a partial `collect_list` ships
    * its input inside an opaque `buf` attribute). */
  private def shuffledColumns(e: ShuffleExchangeExec): Seq[String] = {
    val below = e.child match {
      case w: WholeStageCodegenExec => w.child
      case c => c
    }
    val buffered = below match {
      case a: BaseAggregateExec => a.aggregateExpressions.flatMap(_.references)
      case _ => Nil
    }
    (e.output ++ buffered).map(_.name)
  }

  private def occurrences(pattern: String, text: String): Int =
    pattern.r.findAllIn(text).length

  private lazy val tmp = Files.createTempDirectory("graft_planshape_")

  /** Writes `df` as a 4-file parquet table and reads it back: operators see
    * a scan with no known partitioning, as in production (a `range` source
    * is range-partitioned on its id and would hide doc_id shuffles). */
  private def table(name: String, df: DataFrame): DataFrame = {
    val path = tmp.resolve(name)
    if (!Files.exists(path)) df.repartition(4).write.parquet(path.toString)
    spark.read.parquet(path.toString)
  }

  /** 500 short docs over a 40-word vocabulary: every doc shares tokens with
    * many others (a real unigram vocabulary, real pack buckets). Texts repeat
    * with period 280 in the id and every fifth doc carries an extra token, so
    * exact and near-duplicate n-gram pairs exist. */
  private def corpus: DataFrame = table("corpus", spark.range(500).selectExpr("id AS doc_id",
    "concat_ws(' ', transform(sequence(0, 11 + cast(id % 7 AS int)), " +
      "i -> concat('w', cast((id * 7 + i * 13) % 40 AS string))), if(id % 5 = 0, 'tail', '')) AS text"))

  /** 200 docs sharing two boilerplate lines around one unique line. */
  private def newlineDocs: DataFrame = table("newline", spark.range(200).selectExpr("id AS doc_id",
    "concat('join our newsletter', chr(10), 'unique line ', id, chr(10), 'copyright corp') AS text"))

  test("simhash hot cluster: no join operator in the final plan, linear star edges") {
    val hot = table("simhash_hot", spark.range(150).selectExpr("id AS doc_id",
      "'the quick brown fox jumps over the lazy dog and then runs far away into the deep forest' AS text"))
    val pairs = Dedup.simHashNearDuplicates(hot, 3, maxBandBucket = 50)
    val plan = finalPlan(pairs)
    // the Hamming verify reads both signatures from the bucket row itself
    val joins = collectWithSubqueries(plan) { case j: BaseJoinExec => j.nodeName }
    assert(joins.isEmpty, s"found joins $joins in:\n$plan")
    // k - 1 hub star edges, not the 11,175 member pairs of a band self-join
    assert(pairs.count() == 149)
  }

  test("minhash hot cluster: at most three sketch evaluation sites in the final plan") {
    val hot = table("minhash_hot", spark.range(150).selectExpr("id AS doc_id",
      "concat('the quick brown fox jumps over the lazy dog and then runs far away into the deep forest v', id) AS text"))
    val fin = finalText(Dedup.minHashNearDuplicates(hot, 0.5, maxBandBucket = 50))
    // one banding sweep plus the two candidate-only verify branches
    val sites = occurrences("minhash_with_shingles", fin)
    assert(sites >= 1 && sites <= 3, s"$sites minhash_with_shingles sites in:\n$fin")
  }

  test("embedding LSH evaluates l2_norm only above the candidate-id LeftSemi join") {
    // 100 vectors, each of the last 20 a near copy of one of the first 20
    val emb = table("embeddings", spark.range(100).selectExpr("id AS vec_id",
      "transform(sequence(0, 15), i -> cast(sin((id % 80) * 7 + i * 3) + " +
        "if(id >= 80, 0.01 * cos(id + i), 0.0) AS float)) AS embedding"))
    val pairs = Dedup.embeddingNearDuplicatesLsh(emb, 0.9)
    val plan = finalPlan(pairs)
    assert(pairs.count() > 0)
    val normSites = collectWithSubqueries(plan) {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[L2NormExpr])) => n
    }
    assert(normSites.nonEmpty, s"no l2_norm in:\n$plan")
    // each norm projection reads the semi join's output: the norm is
    // computed for candidate vectors only
    normSites.foreach { n =>
      val semi = n.collect { case j: BaseJoinExec if j.joinType == LeftSemi => j }
      assert(semi.nonEmpty, s"l2_norm below or beside the candidate-id semi join:\n$plan")
    }
  }

  // the second consumer of the corpus shuffle rides a ReusedExchange of the
  // first: the corpus is scanned and shuffled once
  Seq[(String, () => DataFrame)](
    "packSequences" -> (() => Packing.packSequences(corpus, 64)),
    "unigramLogProb" -> (() => TextAnalysis.unigramLogProb(corpus))
  ).foreach { case (name, df) =>
    test(s"$name shuffles the corpus once (exactly one ReusedExchange)") {
      val fin = finalText(df())
      val reused = occurrences("ReusedExchange", fin)
      assert(reused == 1, s"$reused ReusedExchange in:\n$fin")
    }
  }

  // only hashes, doc ids, positions and per-doc position lists shuffle; the
  // rewrite drops lines/paragraphs in-row on a second scan
  Seq[(String, () => DataFrame)](
    "dropRepeatedLines" -> (() => Dedup.dropRepeatedLines(newlineDocs, 3)),
    "dropDuplicateParagraphs" -> (() => Dedup.dropDuplicateParagraphs(newlineDocs))
  ).foreach { case (name, df) =>
    test(s"$name: no shuffle exchange moves a text, line or paragraph column") {
      val plan = finalPlan(df())
      val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, s"expected the hash/position shuffles in:\n$plan")
      val textOut = shuffles.flatMap(shuffledColumns).filter(Set("text", "line", "para"))
      assert(textOut.isEmpty, s"document text ($textOut) shuffles in:\n$plan")
    }
  }

  Seq[(String, () => DataFrame)](
    "chunkTokens" -> (() => Packing.chunkTokens(corpus, 8, 6)),
    "assignSplit" -> (() => TextAnalysis.assignSplit(corpus, Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))),
    "gopherRules" -> (() => TextAnalysis.gopherRules(corpus))
  ).foreach { case (name, df) =>
    test(s"$name plans with no Exchange") {
      val fin = finalText(df())
      assert(!fin.contains("Exchange"), fin)
    }
  }

  test("tokenBudgetMix: the corpus never shuffles, only the per-domain token mass does") {
    val mix = table("mix", spark.range(300).selectExpr("concat('d', id) AS doc_id",
      "concat('dom', id % 3) AS dom", "'five plain tokens here now' AS text"))
    val fin = finalText(Domains.tokenBudgetMix(mix, "dom", Map("dom0" -> 0.25, "dom1" -> 0.25), 200))
    assert(occurrences("Exchange hashpartitioning", fin) == 1, fin)
    assert(occurrences("BroadcastExchange", fin) == 1, fin)
  }

  /** Counts the parquet scans run by the stages of every job in `group`. */
  private final class ScanLog(group: String) extends SparkListener {
    private val stages = scala.collection.mutable.Set.empty[Int]
    @volatile var scans = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) stages ++= e.stageIds
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stages.contains(e.stageInfo.stageId)) scans += e.stageInfo.rddInfos.count(_.name == "FileScanRDD")
    }
  }

  // one scan per sweep (document frequencies, under-cap buckets, per-doc
  // stats); every other consumer of the shingle subtree rides a reused
  // exchange
  test("ngramJaccardPairs scans the corpus parquet at most 3 times across all its jobs") {
    val docs = corpus
    val sc = spark.sparkContext
    val log = new ScanLog("planshape-ngram")
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(log)
    sc.setJobGroup("planshape-ngram", "ngramJaccardPairs scan count")
    try {
      val n = Dedup.ngramJaccardPairs(docs, 3, 0.5).collect().length
      assert(n > 0)
    } finally {
      sc.clearJobGroup()
      ListenerBusBridge.drain(sc)
      sc.removeSparkListener(log)
    }
    assert(log.scans >= 1 && log.scans <= 3, s"${log.scans} parquet scans")
  }
}
