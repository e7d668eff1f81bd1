package graft.sql.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst implementations of Redshift's hash functions
  * (SURVEY.md §2.2 "Hash" row — the two 🔴 gaps): `FNV_HASH` and
  * `CHECKSUM`. Both are UnaryExpressions with `doGenCode` emitting a
  * static call, so they stay inside whole-stage codegen (no UDF
  * serialization, no codegen fence in the hot path).
  */
object HashExpressions {
  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  /** FNV-1a 64-bit over a byte array. */
  def fnv1a(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** FNV-1a 64-bit of an 8-byte little-endian integer encoding (integral
    * inputs hash via their 64-bit binary representation). */
  def fnv1aLong(v: Long): Long = {
    var h = FnvOffset
    var i = 0
    while (i < 8) {
      h ^= ((v >>> (8 * i)) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  def fnv1aUtf8(s: UTF8String): Long = fnv1a(s.getBytes)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The portable 64-bit hash ([[graft.ops.TextOps.h64]]) in ONE digest:
    * the first 16 md5 hex chars of the UTF-8 bytes as a two's-complement
    * bit pattern = the big-endian pack of digest bytes 0..7. The composed
    * SQL form (`shiftleft(h60, 4) + nibble₁₆`) evaluates md5 twice per
    * token; this kernel is bit-identical (KernelSpec pins it against the
    * composed form) at half the digest work. */
  def md5h64(s: UTF8String): Long = md5h64(s.getBytes)

  /** [[md5h64]] of raw bytes. */
  def md5h64(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** 32-bit checksum: FNV-1a folded to int (xor-fold — deterministic,
    * engine-specific like Redshift's own undocumented CHECKSUM). */
  def checksum(h: Long): Int = ((h >>> 32) ^ (h & 0xffffffffL)).toInt
}

/** `FNV_HASH(expr)` → BIGINT. Strings/binary hash their bytes; integral
  * types hash their 64-bit little-endian encoding; doubles hash their IEEE
  * bit pattern. */
case class FnvHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv_hash"

  override protected def nullSafeEval(input: Any): Any = hashOne(input)

  private[expressions] def hashOne(input: Any): Any = child.dataType match {
    case StringType => HashExpressions.fnv1aUtf8(input.asInstanceOf[UTF8String])
    case BinaryType => HashExpressions.fnv1a(input.asInstanceOf[Array[Byte]])
    case ByteType => HashExpressions.fnv1aLong(input.asInstanceOf[Byte].toLong)
    case ShortType => HashExpressions.fnv1aLong(input.asInstanceOf[Short].toLong)
    case IntegerType => HashExpressions.fnv1aLong(input.asInstanceOf[Int].toLong)
    case LongType => HashExpressions.fnv1aLong(input.asInstanceOf[Long])
    case FloatType =>
      HashExpressions.fnv1aLong(java.lang.Float.floatToIntBits(input.asInstanceOf[Float]).toLong)
    case DoubleType =>
      HashExpressions.fnv1aLong(java.lang.Double.doubleToLongBits(input.asInstanceOf[Double]))
    case BooleanType =>
      HashExpressions.fnv1aLong(if (input.asInstanceOf[Boolean]) 1L else 0L)
    case _ =>
      HashExpressions.fnv1aUtf8(UTF8String.fromString(String.valueOf(input)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = "graft.sql.expressions.HashExpressions"
    defineCodeGen(ctx, ev, c => child.dataType match {
      case StringType => s"$h.fnv1aUtf8($c)"
      case BinaryType => s"$h.fnv1a($c)"
      case ByteType | ShortType | IntegerType | LongType => s"$h.fnv1aLong((long) $c)"
      case FloatType => s"$h.fnv1aLong((long) java.lang.Float.floatToIntBits($c))"
      case DoubleType => s"$h.fnv1aLong(java.lang.Double.doubleToLongBits($c))"
      case BooleanType => s"$h.fnv1aLong($c ? 1L : 0L)"
      case _ =>
        s"$h.fnv1aUtf8(org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf($c)))"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): FnvHash =
    copy(child = newChild)
}

/** `md5_h64(str)` → BIGINT: portable full-range 64-bit md5 hash (first 16
  * hex chars as a two's-complement bit pattern) in one digest per row. */
case class Md5H64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_h64"

  override protected def nullSafeEval(input: Any): Any =
    HashExpressions.md5h64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.expressions.HashExpressions.md5h64($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5H64 =
    copy(child = newChild)
}

/** `CHECKSUM(expr)` → INT — 32-bit xor-fold of [[FnvHash]]. */
case class Checksum(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "checksum"
  private lazy val inner = FnvHash(child)

  override protected def nullSafeEval(input: Any): Any =
    HashExpressions.checksum(inner.hashOne(input).asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = "graft.sql.expressions.HashExpressions"
    defineCodeGen(ctx, ev, c => child.dataType match {
      case StringType => s"$h.checksum($h.fnv1aUtf8($c))"
      case BinaryType => s"$h.checksum($h.fnv1a($c))"
      case ByteType | ShortType | IntegerType | LongType =>
        s"$h.checksum($h.fnv1aLong((long) $c))"
      case FloatType =>
        s"$h.checksum($h.fnv1aLong((long) java.lang.Float.floatToIntBits($c)))"
      case DoubleType =>
        s"$h.checksum($h.fnv1aLong(java.lang.Double.doubleToLongBits($c)))"
      case BooleanType => s"$h.checksum($h.fnv1aLong($c ? 1L : 0L))"
      case _ =>
        s"$h.checksum($h.fnv1aUtf8(org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf($c))))"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Checksum =
    copy(child = newChild)
}
