package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Min-shingle fingerprint of one string in ONE expression: the lowercase
  * hex md5 of the smallest of its k-code-point windows' md5 digests, or
  * NULL when the string is NULL or has fewer than k code points.
  *
  * Why an Expression and not `array_min(transform(sequence(..), i ->
  * md5(substring(text, i, k))))`: higher-order lambdas are
  * `CodegenFallback`, so every window went through the interpreted tree
  * and allocated a substring, a 32-char hex string and a boxed index.
  * This walks the UTF-8 bytes once with two code-point cursors
  * (`UTF8String.numBytesForFirstByte`, the rule `length`/`substring`
  * use), feeds each window to one reused digest, keeps the minimum
  * 16-byte digest under unsigned byte order and hex-encodes it once.
  * Lowercase hex preserves that order, so the result equals the
  * `array_min` over hex strings it replaces.
  */
case class MinShingleMd5(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, s"min_shingle_md5 needs k >= 1, got $k")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "min_shingle_md5"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"min_shingle_md5 expects string, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    TextOps.minShingleMd5(input.asInstanceOf[UTF8String], k, TextOps.threadMd5.get())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one digest per generated-code instance, i.e. per task
    val md = ctx.addMutableState(classOf[MessageDigest].getName, "md5",
      v => s"$v = ${TextOps.kernels}.newMd5();")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = ${c.isNull} ? null :
        ${TextOps.kernels}.minShingleMd5(${c.value}, $k, $md);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Learned-subword token count of one document in ONE expression: split
  * on `' '`, skip empty words, and for each word run the padded
  * double-replace merge chain in rank order, then count the symbols left.
  * NULL text gives NULL; a wordless text gives 0.
  *
  * Why an Expression and not `aggregate(transform(words, w -> ..))`: the
  * lambda form is `CodegenFallback`, so every word walked an interpreted
  * tree of 2·K `replace` nodes plus the split/concat around them. This
  * calls the same `UTF8String` primitives those nodes call under binary
  * collation (`split`, `concatWs`, `concat`, `replace`, `trim`), in the
  * same order, so counts match by construction; the merge table rides
  * along as two reference arrays of pattern/replacement strings.
  */
case class BpeTokenCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  @transient private lazy val pats: Array[UTF8String] =
    merges.map { case (a, b) => UTF8String.fromString(s" $a $b ") }.toArray
  @transient private lazy val reps: Array[UTF8String] =
    merges.map { case (a, b) => UTF8String.fromString(s" $a$b ") }.toArray

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bpe_token_count expects string, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    TextOps.bpeTokenCount(input.asInstanceOf[UTF8String], pats, reps)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val utf8s = classOf[UTF8String].getName + "[]"
    val p = ctx.addReferenceObj("bpePats", pats, utf8s)
    val r = ctx.addReferenceObj("bpeReps", reps, utf8s)
    defineCodeGen(ctx, ev, c => s"${TextOps.kernels}.bpeTokenCount($c, $p, $r)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextOps {
  /** Column-API entry point: `min_shingle_md5(text, k)` — STRING or NULL. */
  def min_shingle_md5(text: Column, k: Int): Column =
    ColumnBridge.column(MinShingleMd5(ColumnBridge.expr(text), k))

  /** Column-API entry point: `bpe_token_count(text, merges)` — BIGINT,
    * `merges` as (sym_a, sym_b) in rank order. */
  def bpe_token_count(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeTokenCount(ColumnBridge.expr(text), merges))

  /** Name generated code uses to reach the kernels below. */
  private[functions] val kernels: String = getClass.getName.stripSuffix("$")

  def newMd5(): MessageDigest = MessageDigest.getInstance("MD5")

  private[functions] val threadMd5: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => newMd5())

  private val space = UTF8String.fromString(" ")
  private val empty = UTF8String.fromString("")

  def minShingleMd5(s: UTF8String, k: Int, md: MessageDigest): UTF8String = {
    val bytes = s.getBytes
    val n = bytes.length
    // hi: end of the first window, k code points in
    var hi = 0
    var c = 0
    while (c < k && hi < n) {
      hi += UTF8String.numBytesForFirstByte(bytes(hi))
      c += 1
    }
    if (c < k) return null
    var lo = 0
    val best = Array.fill[Byte](16)(-1)
    val cur = new Array[Byte](16)
    var more = true
    while (more) {
      md.update(bytes, lo, math.min(hi, n) - lo)
      md.digest(cur, 0, 16)
      if (java.util.Arrays.compareUnsigned(cur, best) < 0)
        System.arraycopy(cur, 0, best, 0, 16)
      more = hi < n
      if (more) {
        lo += UTF8String.numBytesForFirstByte(bytes(lo))
        hi += UTF8String.numBytesForFirstByte(bytes(hi))
      }
    }
    UTF8String.fromString(java.util.HexFormat.of().formatHex(best))
  }

  def bpeTokenCount(text: UTF8String, pats: Array[UTF8String],
      reps: Array[UTF8String]): Long = {
    val words = text.split(space, -1)
    var total = 0L
    var w = 0
    while (w < words.length) {
      val word = words(w)
      if (word.numBytes > 0) {
        var s = UTF8String.concat(space,
          UTF8String.concatWs(space, word.split(empty, -1): _*), space)
        var m = 0
        while (m < pats.length) {
          s = s.replace(pats(m), reps(m)).replace(pats(m), reps(m))
          m += 1
        }
        total += s.trim().split(space, -1).length
      }
      w += 1
    }
    total
  }
}
