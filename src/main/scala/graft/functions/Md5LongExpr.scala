package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Codegen'd 60-bit md5 hash of a string: the top 60 bits of the MD5
  * digest as a non-negative LONG — bit-identical to the composite
  * `conv(substring(md5(to_binary(c, 'utf-8')), 1, 15), 16, 10)` it
  * replaces (the first 15 hex chars of the digest ARE bits 127..68, i.e.
  * the first 8 digest bytes read big-endian then `>>> 4`), and therefore
  * to the DuckDB oracle replay of the same SQL.
  *
  * Why a custom expression: the md5 hash family keys near-everything in
  * the library (LSH bands, simhash planes, sampling priorities, split
  * assignment, CMS rows, DSIR buckets...), and the composite form pays
  * three avoidable allocations PER ROW on that hot path — a 32-char hex
  * string from `Md5`, a 15-char substring copy, and `Conv`'s base-16
  * re-parse of chars back to the number the digest already was. Profiled
  * on the 100× corpus (NOTES.md round 9; `SPARK_GRAFT_SF_DIR=<ScaleFixture
  * 100× dir> SPARK_GRAFT_ONLY=q_dsir_weights sbt "runMain graft.Bench"`
  * reruns the q_dsir_weights row): an explode+hash+groupBy pass costs
  * 102.8 s with the composite vs 27.2 s for the same pass without the
  * hash — the hex detour is ~3× the cost of scanning the data. This
  * expression digests straight from the UTF-8 bytes into a long (one
  * thread-local MessageDigest, zero intermediate strings) inside
  * WholeStageCodegen.
  *
  * Null input yields null (the composite's behavior through md5→conv).
  */
case class Md5Long(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_long needs a string input, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    Md5Long.hash60(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Long$$.MODULE$$.hash60($c);")

  override protected def withNewChildInternal(c: Expression): Md5Long =
    copy(child = c)
}

/** Full-64-bit sibling of [[Md5Long]] in the library's bit arrangement:
  * bits 0..59 are [[Md5Long]] (hex chars 1-15), bits 60..63 the 16th hex
  * char — i.e. `h1 | h2 << 60` of the simhash construction
  * (`NearDup.simHash`), fused into one digest with zero string work.
  * Can be negative (bit 63 set ⇔ 16th hex char ≥ 8), exactly like the
  * composite.
  */
case class Md5Long64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_long64 needs a string input, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    Md5Long.hash64(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Long$$.MODULE$$.hash64($c);")

  override protected def withNewChildInternal(c: Expression): Md5Long64 =
    copy(child = c)
}

object Md5Long {

  // MessageDigest is stateful; one per thread, reset by digest() itself
  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Raw 16-byte MD5 via the thread-local digest (shared with
    * [[MinHashSig]], which needs more than the first 60 bits).
    */
  private[functions] def digest(bytes: Array[Byte]): Array[Byte] =
    digests.get().digest(bytes)

  private def first8be(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = digest(s.getBytes)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** Shared by interpreted eval and generated code: first 8 digest bytes
    * big-endian, dropped low nibble = hex chars 1-15.
    */
  def hash60(s: org.apache.spark.unsafe.types.UTF8String): Long =
    first8be(s) >>> 4

  /** h1 (hex chars 1-15) in bits 0..59, h2 (hex char 16 = low nibble of
    * digest byte 7) in bits 60..63.
    */
  def hash64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val be = first8be(s)
    (be >>> 4) | ((be & 0xfL) << 60)
  }

  import org.apache.spark.sql.graftbridge

  /** Column-level entry points. */
  def md5Long60(c: Column): Column =
    graftbridge.column(Md5Long(graftbridge.expression(c)))

  def md5Long64(c: Column): Column =
    graftbridge.column(Md5Long64(graftbridge.expression(c)))
}
