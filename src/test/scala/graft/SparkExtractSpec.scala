package graft

import graft.core.{Extract, Extracted}
import graft.corpus.SyntheticCorpus
import graft.model.{Doc, RawDoc}
import graft.oracle.Extractor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end distributed extraction vs the sequential oracle: span-sequence
  * equality (kind, text, media_ref, order) per document — the north-rule
  * gate — plus skew routing and quarantine behavior.
  */
class SparkExtractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def corpus(n: Int): Seq[RawDoc] =
    (0L until n.toLong).map(i => SyntheticCorpus.rawDoc(SyntheticCorpus.docIdFor(i)))

  private def oracleOf(docs: Seq[RawDoc]): Map[String, Doc] =
    docs.flatMap(d => try Some(Extractor.extract(d)) catch { case _: Exception => None })
      .map(d => d.doc_id -> d).toMap

  /** Every (doc_id, spans, error) row of an extraction output, by doc_id. */
  private def rows(out: DataFrame): Seq[Extracted] = {
    import spark.implicits._
    out.as[Extracted].collect().toSeq.sortBy(_.doc_id)
  }

  private def good(out: DataFrame): Seq[Doc] =
    rows(out).filter(_.error == null).map(e => Doc(e.doc_id, e.spans))

  test("distributed extraction == oracle on a 500-doc mixed corpus") {
    import spark.implicits._
    val raw = corpus(500)
    val expected = oracleOf(raw)
    val got = good(Extract.runExpr(raw.toDS().repartition(7).toDF()))
    assert(got.length == expected.size)
    got.foreach { d =>
      assert(expected(d.doc_id).spans == d.spans, s"mismatch for ${d.doc_id}")
    }
  }

  test("chunked extraction == oracle (incl. mega + poison docs)") {
    import spark.implicits._
    // indices around the mega (997) and poison (1009) strides
    val raw = (990L to 1015L).map(i => SyntheticCorpus.rawDoc(SyntheticCorpus.docIdFor(i)))
    val expected = oracleOf(raw)
    val got = good(Extract.runChunked(raw.toDS(), spreadThreshold = 512))
    assert(got.length == expected.size)
    got.foreach { d =>
      assert(expected(d.doc_id).spans == d.spans, s"mismatch for ${d.doc_id}")
    }
  }

  test("poison docs quarantine with an error, never fail the job") {
    import spark.implicits._
    val raw = Seq(SyntheticCorpus.rawDoc("doc-poison-000001009"),
      SyntheticCorpus.rawDoc("doc-runs-000000001"))
    val ex = rows(Extract.runExpr(raw.toDS().toDF()))
    val q = ex.filter(_.error != null)
    assert(q.map(_.doc_id) == Seq("doc-poison-000001009"))
    assert(q.head.error.nonEmpty && q.head.spans == null)
    assert(ex.count(_.error == null) == 1)
  }

  test("fused extract_spans expression == oracle (incl. quarantine surface)") {
    import spark.implicits._
    val raw = corpus(400) ++ Seq(SyntheticCorpus.rawDoc("doc-poison-000001009"),
      SyntheticCorpus.rawDoc("doc-mega-000000997"))
    val expected = oracleOf(raw)
    val out = Extract.runExpr(raw.toDS().toDF()).collect()
    assert(out.length == raw.length)
    out.foreach { r =>
      val id = r.getString(0)
      if (r.isNullAt(1)) {
        assert(!expected.contains(id), s"$id quarantined but oracle extracted it")
        assert(r.getString(2) != null && r.getString(2).nonEmpty)
      } else {
        val spans = r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => graft.model.Span(x.getString(0), x.getString(1), x.getString(2), x.getInt(3)))
        assert(expected(id).spans == spans, s"mismatch for $id")
        assert(r.isNullAt(2))
      }
    }
  }

  test("annotated fused expression == sequential annotated oracle") {
    import spark.implicits._
    val raw = corpus(150)
    val expected = raw.flatMap(d =>
      try Some(Extractor.extractAnnotated(d)) catch { case _: Exception => None })
      .map(d => d.doc_id -> d).toMap
    val out = Extract.runExpr(raw.toDS().toDF(), annotate = true).collect()
    out.filter(!_.isNullAt(1)).foreach { r =>
      val spans = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => graft.model.Span(x.getString(0), x.getString(1), x.getString(2), x.getInt(3)))
      assert(expected(r.getString(0)).spans == spans, r.getString(0))
    }
  }

  test("runAuto spreads the heavy tail and matches the oracle") {
    import spark.implicits._
    val raw = corpus(200) ++ Seq(SyntheticCorpus.rawDoc("doc-mega-000000997"),
      SyntheticCorpus.rawDoc("doc-poison-000001009"))
    val expected = oracleOf(raw)
    // the threshold fills both tiers: most docs stay in the scan, the mega
    // doc is spread
    assert(raw.exists(_.spans.length > 512) && raw.exists(_.spans.length <= 512))
    val out = Extract.runAuto(raw.toDS().toDF(), spreadThreshold = 512).collect()
    assert(out.length == raw.length)
    val good = out.filter(r => !r.isNullAt(1) && r.getSeq[org.apache.spark.sql.Row](1).nonEmpty)
    assert(good.length == expected.size)
    good.foreach { r =>
      val spans = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => graft.model.Span(x.getString(0), x.getString(1), x.getString(2), x.getInt(3)))
      assert(expected(r.getString(0)).spans == spans, r.getString(0))
    }
  }

  test("runExpr, runAuto and runChunked return identical rows, quarantined rows included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mega = SyntheticCorpus.rawDoc("doc-mega-000000997")
    // a spread-tier document whose spans array holds a null element
    val megaNull = RawDoc("doc-mega-null-element", mega.spans :+ null, mega.meta)
    val docs = corpus(60) ++ Seq(mega, megaNull, SyntheticCorpus.rawDoc("doc-poison-000001009"))
    val df = docs.toDS().toDF()
    val nullRow = df.limit(1).select(lit("null-doc").as("doc_id"),
      lit(null).cast(df.schema("spans").dataType).as("spans"),
      lit(null).cast(df.schema("meta").dataType).as("meta"))
    val raw = df.unionByName(nullRow)
    // both mega docs take the spread tier; the null-element, poison and
    // null-spans rows quarantine
    assert(mega.spans.length > 512)
    val expr = rows(Extract.runExpr(raw))
    assert(expr.filter(_.error != null).map(_.doc_id) ==
      Seq("doc-mega-null-element", "doc-poison-000001009", "null-doc"))
    assert(expr.filter(_.error != null).forall(_.spans == null))
    val auto = rows(Extract.runAuto(raw, spreadThreshold = 512))
    assert(auto == expr)
    val chunked = rows(Extract.runChunked(raw.as[RawDoc], spreadThreshold = 512).toDF())
    assert(chunked == expr)
  }

  test("x5 registration evaluates extract_spans exactly once (no filter re-eval)") {
    Fixtures.ensure(spark)
    val plan = SparkEntry.queries("x5_extract_expr_spans")(spark, "")
      .queryExecution.executedPlan.toString
    val evals = "extract_spans\\(".r.findAllIn(plan).length
    assert(evals == 1, s"extract_spans appears $evals times:\n${plan.take(2000)}")
  }

  test("x6 auto-routing plan: one extract_spans per fused tier, no inferred-filter re-eval") {
    Fixtures.ensure(spark)
    val plan = SparkEntry.queries("x6_extract_auto")(spark, "")
      .queryExecution.executedPlan.toString
    val evals = "extract_spans\\(".r.findAllIn(plan).length
    assert(evals == 2, s"extract_spans appears $evals times (want 2: small + spread tier):\n${plan.take(3000)}")
  }

  test("x6 auto-routing tier filters push down to parquet row-group stats via n_spans") {
    Fixtures.ensure(spark)
    val raw = spark.read.schema(graft.model.Schemas.rawDocsWithN).parquet(Fixtures.RawPath)
    val plan = graft.core.Extract.runAuto(raw, spreadThreshold = 1024).queryExecution.executedPlan
    val scans = (plan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }).collect { case s: FileSourceScanExec => s }
    // one scan per tier, each with an n_spans predicate in PushedFilters —
    // a size(spans) fallback filter would evaluate post-scan and re-read the
    // whole table per tier
    assert(scans.length == 2, s"want 2 tier scans, got ${scans.length}:\n$plan")
    scans.foreach { s =>
      val pushed = s.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("n_spans"), s"tier scan without a pushed n_spans filter: $pushed")
    }
  }

  test("runAuto fuzz: random nested structures match the oracle doc by doc") {
    import spark.implicits._
    import graft.model.{Kinds, RawSpan}
    val r = new java.util.Random(777)
    def randBody(depthBudget: Int, spans: scala.collection.mutable.ArrayBuffer[RawSpan]): Unit = {
      val n = 1 + r.nextInt(6)
      (0 until n).foreach { _ =>
        r.nextInt(if (depthBudget > 0) 4 else 2) match {
          case 0 => spans += RawSpan(Kinds.P, s"run:w${r.nextInt(100)}", null, spans.length)
          case 1 => spans += RawSpan(Kinds.P,
            s"@style=Heading${1 + r.nextInt(9)}|run:h${r.nextInt(100)}", null, spans.length)
          case 2 => // table with 1-2 rows x 1-2 cells, possibly nested content
            spans += RawSpan(Kinds.Tbl, "", null, spans.length)
            (0 until 1 + r.nextInt(2)).foreach { _ =>
              spans += RawSpan(Kinds.Tr, "", null, spans.length)
              (0 until 1 + r.nextInt(2)).foreach { _ =>
                spans += RawSpan(Kinds.Tc, "", null, spans.length)
                spans += RawSpan(Kinds.P, s"run:c${r.nextInt(100)}", null, spans.length)
                spans += RawSpan(Kinds.TcEnd, "", null, spans.length)
              }
              spans += RawSpan(Kinds.TrEnd, "", null, spans.length)
            }
            spans += RawSpan(Kinds.TblEnd, "", null, spans.length)
          case 3 => // sdt, possibly nesting more structure
            spans += RawSpan(Kinds.Sdt, s"@type=richtext;@id=${r.nextInt(100)}", null, spans.length)
            randBody(depthBudget - 1, spans)
            spans += RawSpan(Kinds.SdtEnd, "", null, spans.length)
        }
      }
    }
    val docs = (0 until 60).map { docIdx =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[RawSpan]
      randBody(3, buf)
      RawDoc(f"fuzz-$docIdx%02d", buf.toIndexedSeq, Map("title" -> "T"))
    }
    // the threshold puts the random docs in both tiers
    assert(docs.exists(_.spans.length > 8) && docs.exists(_.spans.length <= 8))
    val got = rows(Extract.runAuto(docs.toDS().toDF(), spreadThreshold = 8))
    assert(got.map(_.doc_id) == docs.map(_.doc_id))
    got.zip(docs).foreach { case (e, d) =>
      assert(e.error == null, s"${d.doc_id}: ${e.error}")
      assert(e.spans == Extractor.extract(d).spans, d.doc_id)
    }
  }

  test("runAuto: meta-less input works; null-spans rows quarantine instead of vanishing") {
    import org.apache.spark.sql.functions._
    val raw = Fixtures.raw(spark).select(col("doc_id"), col("spans")).limit(20)
    val nullRow = raw.limit(1).select(lit("null-doc").as("doc_id"),
      lit(null).cast(raw.schema("spans").dataType).as("spans"))
    val out = Extract.runAuto(raw.unionByName(nullRow))
    assert(out.count() == 21) // nothing vanished
    val q = out.where(col("doc_id") === "null-doc").collect()
    assert(q.length == 1 && q.head.getAs[String]("error") == "null spans")
  }

  test("extraction is deterministic and idempotent across partitionings") {
    import spark.implicits._
    val raw = corpus(120)
    val a = good(Extract.runExpr(raw.toDS().repartition(2).toDF()))
    val b = good(Extract.runExpr(raw.toDS().repartition(11).toDF()))
    assert(a == b)
  }

  test("output invariants: dense offsets, vocabulary kinds, media_ref discipline") {
    import spark.implicits._
    val raw = corpus(200)
    good(Extract.runExpr(raw.toDS().toDF())).foreach { d =>
      assert(d.spans.map(_.offset) == d.spans.indices)
      d.spans.foreach { s =>
        assert(graft.model.Kinds.OutputKinds.contains(s.kind), s"${d.doc_id}: ${s.kind}")
        if (s.kind == "paragraph" || s.kind.startsWith("heading"))
          assert(s.media_ref == null)
      }
    }
  }
}
