package graft.functions

import graft.model.{Kinds, RawSpan, Schemas}
import graft.oracle.Extractor
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused extraction as a native Catalyst expression:
  * `extract_spans(spans, meta)` → `struct<spans: array<span>, error: string>`.
  *
  * It is the one engine that extracts a whole document ([[graft.core.Extract]]).
  * Why (SURVEY.md §2.9/§4.3, "measure first"): a typed Dataset path pays the
  * encoder round trip — InternalRow → RawDoc(Seq[RawSpan]) →
  * Extracted(Seq[Span]) → InternalRow — and the pure-Scala core measured at
  * ~4x the Spark per-core rate, i.e. framework overhead dominated. This
  * expression reads the raw span `ArrayData` directly and emits the output
  * `GenericArrayData` directly — same shared semantic core
  * (`Extractor.walk`), no Seq/case-class round trip for the envelope, no
  * per-row doc_id/meta deserialization unless used.
  *
  * Error tolerance: a poison document yields (spans = null, error = message)
  * — the quarantine surface — never a task failure.
  *
  * CodegenFallback is appropriate: the per-row work is a ~40-span parser
  * state machine, far heavier than the virtual-call overhead fallback costs;
  * the surrounding project still runs inside WholeStageCodegen.
  */
case class ExtractSpansExpr(left: Expression, right: Expression, annotate: Boolean)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("spans", ArrayType(Schemas.spanStruct, containsNull = false), nullable = true),
    StructField("error", StringType, nullable = true)))

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val spansData = left.eval(input)
    if (spansData == null) return InternalRow(null, UTF8String.fromString("null spans"))
    val arr = spansData.asInstanceOf[ArrayData]
    val metaData = right.eval(input)
    try {
      val n = arr.numElements()
      val raw = new Array[RawSpan](n)
      var i = 0
      while (i < n) {
        // checked, not left to an implicit NullPointerException: once its
        // throw site is hot the JIT throws one without a message, and the
        // quarantine reason would depend on how warm the JVM is
        if (arr.isNullAt(i)) return InternalRow(null, UTF8String.fromString("null span element"))
        val r = arr.getStruct(i, 4)
        val kind = r.getUTF8String(0)
        val text = if (r.isNullAt(1)) null else r.getUTF8String(1)
        val media = if (r.isNullAt(2)) null else r.getUTF8String(2)
        raw(i) = RawSpan(
          if (kind == null) "" else ExtractSpansExpr.internRawKind(kind),
          if (text == null || text.numBytes == 0) "" else text.toString,
          if (media == null) null else media.toString,
          r.getInt(3))
        i += 1
      }
      val rawSorted: Seq[RawSpan] =
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          if (isSorted(raw)) raw else raw.sortBy(_.offset))
      val meta = metaMap(metaData)
      val ctx = Extractor.buildCtx(rawSorted, meta).copy(annotate = annotate)
      val out = Extractor.walk(rawSorted, ctx)
      val rows = new Array[Any](out.length)
      var j = 0
      out.foreach { s =>
        rows(j) = InternalRow(
          ExtractSpansExpr.internOutKind(s.kind), UTF8String.fromString(s.text),
          if (s.media_ref == null) null else UTF8String.fromString(s.media_ref), j)
        j += 1
      }
      InternalRow(new GenericArrayData(rows), null)
    } catch {
      case e: Exception =>
        InternalRow(null, UTF8String.fromString(
          s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  private def isSorted(a: Array[RawSpan]): Boolean = {
    var i = 1
    while (i < a.length) { if (a(i).offset < a(i - 1).offset) return false; i += 1 }
    true
  }

  private def metaMap(m: Any): Map[String, String] = {
    if (m == null) return Map.empty
    val md = m.asInstanceOf[MapData]
    val ks = md.keyArray(); val vs = md.valueArray()
    val b = Map.newBuilder[String, String]
    var i = 0
    while (i < md.numElements()) {
      val k = ks.getUTF8String(i); val v = if (vs.isNullAt(i)) null else vs.getUTF8String(i)
      if (k != null) b += k.toString.toLowerCase(java.util.Locale.ROOT) -> (if (v == null) "" else v.toString)
      i += 1
    }
    b.result()
  }

  override def prettyName: String = "extract_spans"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ExtractSpansExpr =
    copy(left = newLeft, right = newRight)
}

object ExtractSpansExpr {
  /** Column API: `extract_spans(spansCol, metaCol)`. */
  def apply(spans: Column, meta: Column, annotate: Boolean = false): Column =
    ColumnBridge.column(ExtractSpansExpr(
      ColumnBridge.expression(spans), ColumnBridge.expression(meta), annotate))

  // ---- kind interning (allocation wall, VERDICT r01 #4): both kind
  // vocabularies are closed, so per-span UTF8String<->String conversions are
  // table lookups, not allocations. Text payloads still convert (the parser
  // core is String-based — the remaining, dominant share of the allocation
  // profile; see BASELINE.md).

  private val rawKindTable: java.util.HashMap[UTF8String, String] = {
    val m = new java.util.HashMap[UTF8String, String]()
    val kinds = Seq(Kinds.P, Kinds.Tbl, Kinds.TblEnd, Kinds.Tr, Kinds.TrEnd,
      Kinds.Tc, Kinds.TcEnd, Kinds.Drawing, Kinds.Sdt, Kinds.SdtEnd,
      Kinds.StyleDef, Kinds.Rel) ++ Kinds.Boilerplate ++ Kinds.Dropped
    kinds.foreach(k => m.put(UTF8String.fromString(k), k))
    m
  }

  private val outKindTable: java.util.HashMap[String, UTF8String] = {
    val m = new java.util.HashMap[String, UTF8String]()
    Kinds.OutputKinds.foreach(k => m.put(k, UTF8String.fromString(k)))
    m
  }

  private[functions] def internRawKind(u: UTF8String): String = {
    val s = rawKindTable.get(u)
    if (s != null) s else u.toString
  }

  private[functions] def internOutKind(s: String): UTF8String = {
    val u = outKindTable.get(s)
    if (u != null) u else UTF8String.fromString(s)
  }
}
