package graft.catalyst

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** graft_sanitize_id(string) -> string: the bytes of `[a-zA-Z0-9_-]`
  * only, the reference's id sanitizer (path/RecordPathFactory.kt:120,
  * 126-129) as one byte loop in place of `regexp_replace`. Built through
  * [[org.apache.spark.sql.GraftBridge]] by [[graft.functions.Strings.sanitizeId]],
  * so it needs no session extension. */
case class SanitizeId(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    IdKernels.sanitizeId(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.IdKernels.sanitizeId($c)")
  override protected def withNewChildInternal(newChild: Expression): SanitizeId = copy(newChild)
  override def prettyName: String = "graft_sanitize_id"
}

object IdKernels {
  private val allowed: Array[Boolean] = Array.tabulate(256) { b =>
    val c = b.toChar
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_' || c == '-'
  }

  /** `s` without the bytes outside `[a-zA-Z0-9_-]`, or `s` itself when it
    * has none. Every allowed character is one ASCII byte and no byte of a
    * multi-byte UTF-8 sequence is ASCII, so this equals
    * `regexp_replace(s, '[^a-zA-Z0-9_-]+', '')` on every input, malformed
    * UTF-8 included (the regex sees each malformed byte as U+FFFD). */
  def sanitizeId(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    while (i < n && allowed(s.getByte(i) & 0xff)) i += 1
    if (i == n) return s
    val out = new Array[Byte](n - 1)
    var k = 0
    while (k < i) { out(k) = s.getByte(k); k += 1 }
    i += 1
    while (i < n) {
      val b = s.getByte(i)
      if (allowed(b & 0xff)) { out(k) = b; k += 1 }
      i += 1
    }
    UTF8String.fromBytes(out, 0, k)
  }
}
