package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document curation kernels: values the dedup and quality
  * operators used to compute by exploding each document into rows,
  * shuffling them and aggregating back onto the document. Here they are
  * one static call per row inside whole-stage codegen, like
  * [[TextHash.simhash]], so the operators become narrow projections.
  */
object CurationKernels {

  def md5(): MessageDigest = MessageDigest.getInstance("MD5")

  /** MinHash signature of a shingle set: for each `i` in `[0, k)`, the
    * unsigned minimum over the shingles `s` of the first 8 bytes
    * (big-endian) of md5 over the UTF-8 bytes of `"i:" ++ s`. Rendered
    * as 16-char lowercase hex, value `i` is exactly
    * `min(substring(md5(concat('i:', s)), 1, 16))` — fixed-width hex
    * orders like the unsigned value. Null elements are skipped; a set
    * with none left has no signature (null), as SQL `min` over no rows.
    * `md` is the caller's digest, reused across calls. */
  def minhashMd5(md: MessageDigest, shingles: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(-1L) // unsigned maximum
    val prefixes = Array.tabulate(k)(i => s"$i:".getBytes(StandardCharsets.UTF_8))
    val digest = new Array[Byte](16)
    var seen = false
    var t = 0
    val n = shingles.numElements()
    while (t < n) {
      if (!shingles.isNullAt(t)) {
        seen = true
        val bytes = shingles.getUTF8String(t).getBytes
        var i = 0
        while (i < k) {
          md.update(prefixes(i))
          md.update(bytes)
          md.digest(digest, 0, 16)
          var h = 0L
          var j = 0
          while (j < 8) { h = (h << 8) | (digest(j) & 0xffL); j += 1 }
          if (java.lang.Long.compareUnsigned(h, mins(i)) < 0) mins(i) = h
          i += 1
        }
      }
      t += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }

  val RepetitionType: StructType = StructType(
    Seq("n_tokens", "n_distinct", "top_token_tf", "n_bigrams",
      "top_bigram_tf").map(StructField(_, LongType, nullable = false)))

  /** Increment `key`'s count; returns the new count. */
  private def bump(counts: java.util.HashMap[UTF8String, Array[Long]],
      key: UTF8String): Long = {
    var c = counts.get(key)
    if (c == null) { c = new Array[Long](1); counts.put(key, c) }
    c(0) += 1
    c(0)
  }

  private val Space = UTF8String.fromString(" ")

  /** Within-document repetition counts of a token array, as
    * [[RepetitionType]]: unigram total, distinct and top count over the
    * non-empty tokens; bigram total and top count over EVERY adjacent
    * pair of the raw array (empty tokens included; a pair with a null
    * side counts under one shared null bigram). Null when no token is
    * non-empty. */
  def repetitionStats(tokens: ArrayData): InternalRow = {
    val n = tokens.numElements()
    val uni = new java.util.HashMap[UTF8String, Array[Long]]()
    var nTokens = 0L
    var topToken = 0L
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val tok = tokens.getUTF8String(t)
        if (tok.numBytes() > 0) {
          nTokens += 1
          topToken = math.max(topToken, bump(uni, tok))
        }
      }
      t += 1
    }
    if (nTokens == 0L) return null
    val bi = new java.util.HashMap[UTF8String, Array[Long]]()
    var nullBigrams = 0L
    var topBigram = 0L
    t = 1
    while (t < n) {
      val c =
        if (tokens.isNullAt(t - 1) || tokens.isNullAt(t)) {
          nullBigrams += 1; nullBigrams
        } else bump(bi, UTF8String.concat(
          tokens.getUTF8String(t - 1), Space, tokens.getUTF8String(t)))
      topBigram = math.max(topBigram, c)
      t += 1
    }
    new GenericInternalRow(Array[Any](nTokens, uni.size.toLong, topToken,
      math.max(n - 1, 0).toLong, topBigram))
  }
}

/** minhash_md5(array<string>, k) → array<bigint>: the MinHash
  * signature [[CurationKernels.minhashMd5]]; k must be a literal. */
case class MinhashMd5(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_md5"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType)
          if right.foldable && right.eval() != null &&
            right.eval().asInstanceOf[Int] > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, positive literal int)")
    }
  @transient private lazy val digest = CurationKernels.md5()
  override protected def nullSafeEval(shingles: Any, k: Any): Any =
    CurationKernels.minhashMd5(digest, shingles.asInstanceOf[ArrayData],
      k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one digest per generated-code instance, reused for every hash
    val md = ctx.addMutableState(classOf[MessageDigest].getName, "md5Digest",
      v => s"$v = graft.functions.CurationKernels.md5();")
    nullSafeCodeGen(ctx, ev, (s, k) =>
      s"""${ev.value} = graft.functions.CurationKernels.minhashMd5($md, $s, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashMd5 =
    copy(left = newLeft, right = newRight)
}

/** repetition_stats(array<string>) → struct<n_tokens, n_distinct,
  * top_token_tf, n_bigrams, top_bigram_tf> (all bigint):
  * [[CurationKernels.repetitionStats]]. */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = CurationKernels.RepetitionType
  override def nullable: Boolean = true
  override def prettyName: String = "repetition_stats"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got $other")
    }
  override protected def nullSafeEval(tokens: Any): Any =
    CurationKernels.repetitionStats(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""${ev.value} = graft.functions.CurationKernels.repetitionStats($t);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}
