package graft

import graft.corpus.SyntheticCorpus
import graft.core.Extract
import graft.model.{Doc, Span}
import graft.oracle.{Extractor, HeadingStack}
import graft.queries.{Mutators, SpanQueries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Span-query algebra vs the pure-Scala semantics (HeadingStack / direct
  * computation on the oracle output), plus the mutators and the flagship
  * entry contract.
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val docsSeq: Seq[Doc] =
    (0L until 60L).map(i => SyntheticCorpus.rawDoc(SyntheticCorpus.docIdFor(i)))
      .flatMap(d => try Some(Extractor.extract(d)) catch { case _: Exception => None })

  private lazy val docsDf = {
    import spark.implicits._
    docsSeq.toDS().toDF()
  }

  test("entry returns non-empty extraction output") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("allText matches the reference exclusion semantics per doc") {
    val got = SpanQueries.allText(docsDf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    docsSeq.foreach { d =>
      val exp = d.spans
        .filter(s => s.kind != "table" && s.kind != "image" && s.text.nonEmpty)
        .map(_.text).mkString("\n")
      assert(got(d.doc_id) == exp, d.doc_id)
    }
  }

  test("countByKind equals direct counting") {
    val got = SpanQueries.countByKind(docsDf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = docsSeq.flatMap(_.spans).groupBy(_.kind).view.mapValues(_.size.toLong).toMap
    assert(got == exp)
  }

  test("section query slices exactly like HeadingStack.section") {
    val got = SpanQueries.section(docsDf, "shopping").collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.getInt(3))).toMap
    val exp = docsSeq
      .map(d => d.doc_id -> HeadingStack.section(d.spans, "shopping").map(_.offset))
      .filter(_._2.nonEmpty).toMap
    assert(got.keySet == exp.keySet)
    exp.foreach { case (id, offs) => assert(got(id) == offs, id) }
  }

  test("headingPaths matches HeadingStack breadcrumbs for heading spans' sections") {
    val got = SpanQueries.headingPaths(docsDf).collect()
      .map(r => (r.getString(0), r.getInt(3)) -> r.getString(4)).toMap
    docsSeq.foreach { d =>
      HeadingStack.place(d.spans).foreach { p =>
        val lvl = HeadingStack.headingLevelOf(p.span.kind)
        // query semantics: path includes the span itself when it is a heading
        val exp = if (lvl > 0) (p.headingPath :+ p.span.text).mkString(" > ")
                  else p.headingPath.mkString(" > ")
        assert(got((d.doc_id, p.span.offset)) == exp, s"${d.doc_id}@${p.span.offset}")
      }
    }
  }

  test("span_nav depth equals HeadingStack placement depth") {
    val got = SpanQueries.spanNav(docsDf).collect()
      .map(r => (r.getString(0), r.getInt(3)) -> r.getInt(5)).toMap
    docsSeq.foreach { d =>
      HeadingStack.place(d.spans).foreach { p =>
        assert(got((d.doc_id, p.span.offset)) == p.depth, s"${d.doc_id}@${p.span.offset}")
      }
    }
  }

  test("span_nav siblings/section match the independent windowed formulation") {
    import org.apache.spark.sql.expressions.Window
    val ex = SpanQueries.flattenSpans(docsDf)
    val w = Window.partitionBy("doc_id").orderBy("offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sec = ex.withColumn("section_off",
      coalesce(last(when(SpanQueries.headingLevel(col("kind")) > 0, col("offset")),
        ignoreNulls = true).over(w), lit(-1)))
    val ws = Window.partitionBy("doc_id", "section_off").orderBy("offset")
    val windowed = sec.select(col("doc_id"), col("offset"), col("section_off"),
      lag(col("text"), 1).over(ws).as("prev_text"),
      lead(col("text"), 1).over(ws).as("next_text"))
    val got = SpanQueries.siblings(docsDf)
      .select("doc_id", "offset", "section_off", "prev_text", "next_text")
    assert(got.count() == windowed.count())
    assert(got.except(windowed).isEmpty && windowed.except(got).isEmpty)
  }

  test("scan pruning locked in: q_count_by_kind reads ONLY spans.kind from parquet") {
    Fixtures.ensure(spark)
    val plan = SparkEntry.queries("q_count_by_kind")(spark, "")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<spans:array<struct<kind:string>>>"),
      plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("span_nav queries plan with NO Exchange (zero shuffle)") {
    Seq(SpanQueries.headingPaths(docsDf), SpanQueries.siblings(docsDf),
        SpanQueries.spanNav(docsDf)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.linesIterator.take(5).mkString("\n"))
    }
  }

  test("concatDocs doubles spans with shifted offsets") {
    val out = SpanQueries.concatDocs(docsDf, docsDf).collect()
    val byId = docsSeq.map(d => d.doc_id -> d).toMap
    out.foreach { r =>
      val spans = r.getSeq[org.apache.spark.sql.Row](1)
      val orig = byId(r.getString(0)).spans
      assert(spans.length == orig.length * 2)
      assert(spans.map(_.getInt(3)) == (orig.map(_.offset) ++ orig.map(_.offset + orig.length)))
    }
  }

  test("compare returns equal=true for identical inputs, detects a mutation") {
    val same = SpanQueries.compare(docsDf, docsDf).collect()
    assert(same.forall(_.getBoolean(1)))
    val mutated = Mutators.setCellText(docsDf, 0, 0, "XXX")
    val diff = SpanQueries.compare(docsDf, mutated).collect()
    val changedDocs = docsSeq.filter(_.spans.exists(s => s.kind == "table_cell" && s.media_ref == "0,0"))
    assert(diff.count(!_.getBoolean(1)) == changedDocs.size)
  }

  test("setContentControlValue updates only the FIRST matching control (FirstOrDefault semantics)") {
    import spark.implicits._
    val docs = Seq(Doc("a", Seq(
      Span("content_control", "v1", "richtext:77", 0),
      Span("paragraph", "p", null, 1),
      Span("content_control", "v2", "richtext:77", 2)))).toDS().toDF()
    val out = Mutators.setContentControlValue(docs, "77", "NEW").collect().head
      .getSeq[org.apache.spark.sql.Row](1).map(_.getString(1))
    assert(out == Seq("NEW", "p", "v2"))
  }

  test("removeContentControls drops containers and re-densifies offsets") {
    val out = Mutators.removeContentControls(docsDf).collect()
    out.foreach { r =>
      val spans = r.getSeq[org.apache.spark.sql.Row](1)
      assert(spans.forall(_.getString(0) != "content_control"))
      assert(spans.map(_.getInt(3)) == spans.indices)
    }
  }

  test("moveSectionToEnd keeps the span multiset and re-densifies") {
    val out = Mutators.moveSectionToEnd(docsDf, "shopping").collect()
    val byId = docsSeq.map(d => d.doc_id -> d).toMap
    out.foreach { r =>
      val spans = r.getSeq[org.apache.spark.sql.Row](1)
      val orig = byId(r.getString(0)).spans
      assert(spans.length == orig.length)
      assert(spans.map(x => (x.getString(0), x.getString(1))).sorted ==
        orig.map(s => (s.kind, s.text)).sorted)
      assert(spans.map(_.getInt(3)) == spans.indices)
      if (orig.exists(s => s.kind == "heading1" && s.text.toLowerCase.contains("shopping"))) {
        // section moved: last span should belong to the shopping section
        assert(spans.exists(_.getString(1).toLowerCase.contains("shopping")))
      }
    }
  }

  test("concatDocs: docs missing from b pass through unchanged; setProperty works on null meta") {
    import spark.implicits._
    val a = Seq(
      Doc("x", Seq(Span("paragraph", "left", "", 0))),
      Doc("only-a", Seq(Span("paragraph", "solo", "", 0)))).toDF()
    val b = Seq(Doc("x", Seq(Span("paragraph", "right", "", 0)))).toDF()
    val out = SpanQueries.concatDocs(a, b).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(out("x").map(_.getString(1)) == Seq("left", "right"))
    assert(out("x").map(_.getInt(3)) == Seq(0, 1))
    assert(out("only-a").map(_.getString(1)) == Seq("solo")) // not deleted

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("meta", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))))
    val raw = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row("d1", null)), schema)
    val set = Mutators.setProperty(raw, "Author", "x").collect().head
    assert(set.getMap[String, String](1) == Map("author" -> "x")) // not silently lost
  }

  test("removeDocumentPropertyFields strips run-level markers, keeps values; name filter case-insensitive") {
    import spark.implicits._
    val annotated = Seq(Doc("a", Seq(
      Span("paragraph", "x [DocProperty:Core/Title=\"T\"] y", null, 0),
      Span("paragraph", "[DocProperty:Custom/dept=\"D\"]", null, 1),
      // block-level data-bound form (no Type/ segment) must be untouched
      Span("content_control", "[DocProperty:title=\"bound\"]", "docproperty:4", 2)))).toDS().toDF()
    val all = Mutators.removeDocumentPropertyFields(annotated).collect().head
      .getSeq[org.apache.spark.sql.Row](1).map(_.getString(1))
    assert(all == Seq("x T y", "D", "[DocProperty:title=\"bound\"]"))
    val one = Mutators.removeDocumentPropertyFields(annotated, Some("TITLE")).collect().head
      .getSeq[org.apache.spark.sql.Row](1).map(_.getString(1))
    assert(one == Seq("x T y", "[DocProperty:Custom/dept=\"D\"]", "[DocProperty:title=\"bound\"]"))
  }

  test("Styles.findByStyles matches case-insensitively over raw paragraphs") {
    import spark.implicits._
    import graft.model.{RawDoc, RawSpan}
    val raw = Seq(RawDoc("a", Seq(
      RawSpan("p", "@style=Heading1|run:x", null, 0),
      RawSpan("p", "@style=plain|run:y", null, 1),
      RawSpan("p", "run:z", null, 2),
      RawSpan("rel", "@id=r;@url=u", null, 3)), Map.empty)).toDS().toDF()
    val got = graft.queries.Styles.findByStyles(raw, Seq("HEADING1", "missing")).collect()
    assert(got.map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq(("a", 0, "Heading1")))
  }

  test("SpanQueries.findAll keeps exactly the matching spans of every doc, in order") {
    import spark.implicits._
    val docs = Seq(
      Doc("a", Seq(Span("heading1", "Intro", null, 0), Span("paragraph", "x", null, 1),
        Span("paragraph", "yy", null, 2))),
      Doc("b", Seq(Span("image", "[Image: z.png]", "rId1", 0))),
      Doc("c", Seq.empty)).toDS().toDF()
    val got = SpanQueries.findAll(docs, s => s.getField("kind") === "paragraph").collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(s => (s.getString(1), s.getInt(3)))).toMap
    assert(got == Map("a" -> Seq(("x", 1), ("yy", 2)), "b" -> Seq.empty, "c" -> Seq.empty))
  }

  test("Styles.findByStyle, hasStyle and hasAnyStyle ignore case on both sides") {
    import spark.implicits._
    import graft.model.{RawDoc, RawSpan}
    import graft.queries.Styles
    val spans = Seq(
      RawSpan("p", "@style=Heading1|run:x", null, 0),
      RawSpan("p", "@style=HEADING1|run:y", null, 1),
      RawSpan("p", "@style=Quote;@numId=2|run:z", null, 2),
      RawSpan("p", "run:w", null, 3),
      RawSpan("rel", "@id=r;@url=u", null, 4))
    val raw = Seq(RawDoc("a", spans, Map.empty), RawDoc("b", spans.take(1), Map.empty)).toDS().toDF()
    val found = Styles.findByStyle(raw, "hEaDiNg1").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(found == Set(("a", 0, "Heading1"), ("a", 1, "HEADING1"), ("b", 0, "Heading1")))
    val flags = spans.toDF().select(col("offset"),
      Styles.hasStyle(col("text"), "heading1").as("h"),
      Styles.hasAnyStyle(col("text"), Seq("QUOTE", "Heading1", "missing")).as("any"),
      Styles.hasAnyStyle(col("text"), Seq("missing")).as("none"))
      .collect().map(r => r.getInt(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(flags == Map(
      0 -> (true, true, false), 1 -> (true, true, false), 2 -> (false, true, false),
      3 -> (false, false, false), 4 -> (false, false, false)))
  }

  test("SpanTree renders the recovered hierarchy with H-labels and indent") {
    import graft.model.Span
    val spans = Seq(
      Span("heading1", "Intro", null, 0), Span("paragraph", "p1", null, 1),
      Span("heading2", "Sub", null, 2), Span("paragraph", "x" * 100, null, 3))
    val r = graft.queries.SpanTree.render(spans).split("\n")
    assert(r(0) == "  [H1] Intro")
    assert(r(1) == "    [paragraph] p1")
    assert(r(2) == "    [H2] Sub")
    assert(r(3).startsWith("      [paragraph] " + "x" * 77) && r(3).endsWith("..."))
  }

  test("annotated extraction renders DocProperty + ContentControl markers") {
    import spark.implicits._
    val raw = Seq(graft.model.RawDoc("a", Seq(
      graft.model.RawSpan("p", "run:T |fldBegin|instr:DOCPROPERTY Title|fldSep|run:x|fldEnd", null, 0),
      graft.model.RawSpan("p", "run:A |sdtrun:plaintext,9,t:VAL", null, 1)),
      Map("title" -> "Doc Title")))
    val out = Extract.runExpr(raw.toDS().toDF(), annotate = true)
      .as[graft.core.Extracted].collect().head
    assert(out.error == null)
    assert(out.spans.map(_.text) == Seq("T [DocProperty:Core/Title=\"Doc Title\"]", "A [ContentControl:plaintext t=\"VAL\"]"))
  }
}
