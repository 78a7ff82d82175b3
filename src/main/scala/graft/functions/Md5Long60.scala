package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Codegen'd 60-bit md5 hash (SURVEY.md §3: custom-Expression tier) —
  * the value contract of [[SharedHash.md5Long60]]: the first 15 hex
  * chars of md5, parsed base-16.
  *
  * The composed form `conv(substring(md5(x), 1, 15), 16, 10)` pays,
  * per row, for a 32-char hex STRING materialization, a substring copy
  * and conv's base-16 string parse — all to recover 60 bits the digest
  * already holds. The first 15 hex chars are exactly the top 60 bits of
  * the digest's first 8 bytes (big-endian, low nibble dropped), so this
  * expression assembles the long straight from the digest buffer: one
  * MessageDigest call, zero string traffic. Same value bit-for-bit —
  * Md5Long60Spec pins equality against the composed form, and every
  * md5-shared oracle (q21, q87, q111, q120, ...) re-proves it end to
  * end.
  */
case class Md5Long60Expr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType

  // a non-binary child fails analysis instead of the generated code
  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    Md5Long60Util.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Long60Util.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Long60Expr =
    copy(child = newChild)

  override def prettyName: String = "md5_long60"
}

object Md5Long60Util {
  // MessageDigest is stateful and not thread-safe; one per task thread
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top 60 bits of md5(bytes): first 8 digest bytes big-endian, low
    * nibble dropped — numerically identical to parsing the first 15
    * lowercase-hex chars base-16. Always in [0, 2^60): safe in a signed
    * BIGINT on both engines.
    */
  def hash(bytes: Array[Byte]): Long = {
    val d = md.get()
    d.reset()
    val out = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (out(i) & 0xffL); i += 1 }
    v >>> 4
  }
}
