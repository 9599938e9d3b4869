package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-task digest state shared by the generator's template kernels
  * ([[Md5Uuid]], [[Md5Bucket]]): one `MessageDigest`, a buffer holding the
  * prefix's UTF-8 bytes followed by room for a long's decimal rendering, and
  * the 16-byte digest output. [[digest]] computes `md5(prefix + id.toString)`
  * without building a string per row. Not thread-safe: generated code keeps
  * one instance per task as mutable state, interpreted evaluation one per
  * thread.
  */
final class Md5Template(prefix: String) {
  private val md = MessageDigest.getInstance("MD5")
  private val prefixLen = prefix.getBytes(UTF_8).length
  // 20 = "-9223372036854775808".length, the longest decimal long
  private val buf = java.util.Arrays.copyOf(prefix.getBytes(UTF_8), prefixLen + 20)
  private val out = new Array[Byte](16)

  /** The md5 digest of `prefix + id.toString`; the returned array is reused
    * by the next call.
    */
  def digest(id: Long): Array[Byte] = {
    md.update(buf, 0, prefixLen + writeDecimal(id))
    md.digest(out, 0, 16)
    out
  }

  /** Writes `id.toString`'s ASCII bytes after the prefix; returns their count. */
  private def writeDecimal(id: Long): Int = {
    if (id == Long.MinValue) {
      val s = java.lang.Long.toString(id).getBytes(UTF_8)
      System.arraycopy(s, 0, buf, prefixLen, s.length)
      return s.length
    }
    var v = math.abs(id)
    var len = if (id < 0) 1 else 0
    var t = v
    while ({ len += 1; t /= 10; t != 0 }) ()
    var pos = prefixLen + len
    while ({ pos -= 1; buf(pos) = ('0' + v % 10).toByte; v /= 10; v != 0 }) ()
    if (id < 0) buf(prefixLen) = '-'.toByte
    len
  }
}

object Md5Template {
  /** Registers one [[Md5Template]] per generated-code instance (per task)
    * and returns the field name.
    */
  private[functions] def state(ctx: CodegenContext, prefix: String): String = {
    val cls = classOf[Md5Template].getName
    val p = ctx.addReferenceObj("md5Prefix", prefix, "java.lang.String")
    ctx.addMutableState(cls, "md5Template", v => s"$v = new $cls($p);")
  }

  private[functions] def perThread(prefix: String): ThreadLocal[Md5Template] =
    ThreadLocal.withInitial(() => new Md5Template(prefix))
}

/** uuid4-shaped string from one md5 of `prefix + id`, as a native
  * expression: the 32 lowercase hex digits of the digest laid out 8-4-4-4-12
  * with hex digit 13 replaced by the version nibble '4'.
  *
  * Bit-identical to the composable form, which any SQL oracle keeps using:
  * {{{
  *   h = md5(concat(prefix, cast(id as string)))
  *   concat(substring(h, 1, 8), '-', substring(h, 9, 4), '-4',
  *          substring(h, 14, 3), '-', substring(h, 17, 4), '-',
  *          substring(h, 21, 12))
  * }}}
  *
  * Why native: the composable form renders the digest as a 32-char hex
  * string, cuts it into five substrings and concatenates them again, per
  * row. This kernel writes the digest's nibbles straight into the 36-byte
  * result, with one `MessageDigest` per task. Null id in, null out.
  */
case class Md5Uuid(child: Expression, prefix: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = StringType
  override def prettyName: String = "md5_uuid"

  @transient private lazy val template = Md5Template.perThread(prefix)

  override def nullSafeEval(input: Any): Any =
    Md5Uuid.compute(template.get, input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = Md5Template.state(ctx, prefix)
    nullSafeCodeGen(ctx, ev, id =>
      s"${ev.value} = graft.functions.Md5Uuid.compute($t, $id);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Uuid {
  private val Hex = "0123456789abcdef".getBytes(UTF_8)
  // Source hex-digit index for each of the 36 output chars; -1 is '-' and
  // -2 the version nibble '4' (which drops hex digit 12, 0-based).
  private val Layout: Array[Int] =
    ((0 until 8) ++ Seq(-1) ++ (8 until 12) ++ Seq(-1, -2) ++ (13 until 16) ++
      Seq(-1) ++ (16 until 20) ++ Seq(-1) ++ (20 until 32)).toArray

  /** Called from generated code — must stay public and static-shaped. */
  def compute(t: Md5Template, id: Long): UTF8String = {
    val d = t.digest(id)
    val out = new Array[Byte](36)
    var i = 0
    while (i < 36) {
      val s = Layout(i)
      out(i) =
        if (s >= 0) Hex((if ((s & 1) == 0) d(s >> 1) >> 4 else d(s >> 1)) & 0xf)
        else if (s == -1) '-'.toByte
        else '4'.toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  def apply(id: org.apache.spark.sql.Column, prefix: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(Md5Uuid(ColumnBridge.expression(id), prefix))
  }
}

/** Deterministic bucket in `[0, n)` from one md5 of `prefix + id`: the
  * digest's first 4 bytes read as a big-endian unsigned int, modulo `n`.
  *
  * Bit-identical to the composable form
  * `pmod(cast(conv(substring(md5(concat(prefix, cast(id as string))), 1, 8), 16, 10) as bigint), n)`
  * — the first 8 hex digits are those 4 bytes — and to the DuckDB
  * `CAST(('0x' || substr(md5(prefix || i), 1, 8)) AS BIGINT) % n`.
  *
  * Why native: the composable form goes digest → hex string → substring →
  * base-16 parse → decimal string → long per row; this kernel reads the
  * bytes. Null id in, null out.
  */
case class Md5Bucket(child: Expression, prefix: String, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, s"md5_bucket: bucket count must be positive, got $n")

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_bucket"

  @transient private lazy val template = Md5Template.perThread(prefix)

  override def nullSafeEval(input: Any): Any =
    Md5Bucket.compute(template.get, input.asInstanceOf[Long], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = Md5Template.state(ctx, prefix)
    nullSafeCodeGen(ctx, ev, id =>
      s"${ev.value} = graft.functions.Md5Bucket.compute($t, $id, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Bucket {

  /** Called from generated code — must stay public and static-shaped. */
  def compute(t: Md5Template, id: Long, n: Int): Long = {
    val d = t.digest(id)
    val hi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    hi % n
  }

  def apply(id: org.apache.spark.sql.Column, prefix: String, n: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(Md5Bucket(ColumnBridge.expression(id), prefix, n))
  }
}
