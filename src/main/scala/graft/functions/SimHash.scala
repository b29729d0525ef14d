package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel shared by interpreted eval and generated code. */
object SimHashKernel {

  val Bits = 16

  /** 16-bit SimHash over the *distinct* 3-gram shingles of `text`:
    * shingle hash = the Knuth 3-gram hash of the code points
    * ([[graft.Knuth.gram]]), per-bit majority vote,
    * bit set when vote >= 0. Integer-exact — byte-for-byte the SQL
    * formulation in q34's oracle. Returns -1 for texts shorter than one
    * shingle (callers filter length >= 3).
    *
    * One pass, no exploded shingle rows, no intermediate arrays — the
    * whole-stage-codegen replacement for explode + 16 vote aggregates.
    */
  def simhash(text: UTF8String): Long = {
    val s = text.toString
    // shingle by CODE POINT (see graft.functions.Shingles), and pack
    // code-point values — DuckDB's ascii() returns the full code point,
    // so charAt (a UTF-16 unit, a surrogate half for non-BMP) would
    // diverge from the oracle's ascii()-based hash
    val cp = Shingles.starts(s)
    val n = cp.length - 1
    if (n < 3) return -1L
    // dedupe by the gram STRING: the base-31 packed value collides
    // ((b+1, c-31) packs identically) and the SQL oracle's DISTINCT is
    // on the string, so a packed-value dedupe would drop votes it keeps
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](Bits)
    var i = 0
    while (i <= n - 3) {
      if (seen.add(s.substring(cp(i), cp(i + 3)))) {
        val h = graft.Knuth.gram(s.codePointAt(cp(i)),
          s.codePointAt(cp(i + 1)), s.codePointAt(cp(i + 2)))
        var b = 0
        while (b < Bits) {
          votes(b) += (((h >> b) & 1L).toInt * 2) - 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < Bits) {
      if (votes(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Catalyst expression: `simhash16(text)` → bigint. */
case class SimHash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    SimHashKernel.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashKernel.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "simhash16"
}

object SimHash {
  import org.apache.spark.sql.graftbridge.Bridge

  def simhash16(c: Column): Column = Bridge.column(SimHash16(Bridge.expression(c)))
}
