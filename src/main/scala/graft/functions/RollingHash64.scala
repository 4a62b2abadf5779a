package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Document fingerprinting via a 64-bit polynomial rolling hash over the
  * UTF-8 bytes (base 31, wrap-around mod 2^64) — the cheap streaming
  * fingerprint a web-pipeline computes per document.
  *
  * A native Catalyst `Expression` WITH `doGenCode` (not a Scala UDF): the
  * generated Java participates in whole-stage codegen, so the hot path stays
  * one fused loop over the row batch — the preferred extension order of
  * SURVEY.md §2.9 / the Spark guide (built-ins > native Expression > UDF).
  */
case class RollingHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash64"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * 31L + ($bytes[$i] & 0xffL);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
}

object RollingHash64 {
  /** Column API (input must be a string column). */
  def apply(c: Column): Column = ColumnBridge.column(RollingHash64(ColumnBridge.expression(c)))

  /** Reference implementation (tests compare codegen vs this). */
  def of(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }
}
