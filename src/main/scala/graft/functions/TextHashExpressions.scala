package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for content hashing (SURVEY.md §2.5 #32,
  * §2.7 #39). Native `Expression`s with `doGenCode` emitting a static
  * call — they stay inside whole-stage codegen (no UDF serialization,
  * no interpretation in the per-row hot path), which is the 100 TB
  * requirement for per-document hashing.
  *
  * Hashing is FNV-1a 64-bit (public-domain constants) — deterministic
  * across JVMs/executors, no seed material shipped with the plan.
  */
object TextHash {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** FNV-1a over UTF-8 bytes. */
  def fnv1a(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** 64-bit SimHash of a token array: per-bit vote sum of each token's
    * FNV hash; bit set iff the vote is positive. */
  def simhash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    var t = 0
    val n = tokens.numElements()
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val h = fnv1a(tokens.getUTF8String(t))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Winnowing document fingerprint (Schleimer, Wilkerson, Aiken,
    * SIGMOD'03): hash every k-gram, slide a window of w hashes, keep the
    * rightmost minimum of each window, emit distinct selected hashes in
    * position order. Guarantees any shared substring of length k+w-1
    * yields a shared fingerprint. */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val nGrams = n - k + 1
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var h = FnvOffset
      var j = 0
      while (j < k) {
        h ^= (bytes(i + j) & 0xffL)
        h *= FnvPrime
        j += 1
      }
      hashes(i) = h
      i += 1
    }
    if (nGrams <= w) {
      var min = 0
      i = 1
      while (i < nGrams) { if (hashes(i) <= hashes(min)) min = i; i += 1 }
      return new GenericArrayData(Array(hashes(min)))
    }
    val out = new scala.collection.mutable.ArrayBuffer[Long]
    var lastPicked = -1
    var start = 0
    while (start + w <= nGrams) {
      var min = start
      i = start + 1
      while (i < start + w) { if (hashes(i) <= hashes(min)) min = i; i += 1 }
      if (min != lastPicked) {
        out += hashes(min)
        lastPicked = min
      }
      start += 1
    }
    new GenericArrayData(out.toArray)
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}

/** simhash64(array<string>) → bigint */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${child.dataType}")
    }
  override protected def nullSafeEval(input: Any): Any =
    TextHash.simhash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** winnow(string, k, w) → array<bigint>; k and w must be foldable. */
case class Winnow(left: Expression, right: Expression, window: Expression)
    extends Expression {
  override def children: Seq[Expression] = Seq(left, right, window)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "winnow"
  override def foldable: Boolean = children.forall(_.foldable)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!(left.dataType == StringType && right.dataType == IntegerType &&
      window.dataType == IntegerType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, int, int)")
    else if (!right.foldable || !window.foldable)
      // k/w are read once per row in both eval and the generated code —
      // a per-row k/w would silently use arbitrary values; reject at
      // analysis like Spark's own parameter expressions
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires foldable (literal) k and w")
    else if (right.eval() == null || window.eval() == null)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires non-null k and w")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) null
    else {
      val k = right.eval(input).asInstanceOf[Int]
      val w = window.eval(input).asInstanceOf[Int]
      TextHash.winnow(t.asInstanceOf[UTF8String], k, w)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val windowGen = window.genCode(ctx)
    val nullCheck = if (left.nullable) s"${leftGen.isNull}" else "false"
    ev.copy(code =
      code"""
         ${leftGen.code}
         ${rightGen.code}
         ${windowGen.code}
         boolean ${ev.isNull} = $nullCheck;
         org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         if (!${ev.isNull}) {
           ${ev.value} = graft.functions.TextHash.winnow(
             ${leftGen.value}, ${rightGen.value}, ${windowGen.value});
         }
       """)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Winnow =
    copy(left = newChildren(0), right = newChildren(1),
      window = newChildren(2))
}

/** hamming64(bigint, bigint) → int — XOR popcount distance. */
case class Hamming64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming64"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, bigint)")
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHash.hamming(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Hamming64 =
    copy(left = newLeft, right = newRight)
}

/** Session-extension registration (for
  * `spark.sql.extensions=graft.functions.GraftExtensions`): the
  * function injections (plus a direct register below for
  * already-built sessions) and the SQL row-level-DML rule that makes
  * `DELETE FROM` / `UPDATE` / `MERGE INTO` work on registered txlog
  * tables ([[graft.sources.GraftTxLogSqlRule]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.injections.foreach(ext.injectFunction)
    // SQL access to the row-level change feed (Delta's table_changes):
    // SELECT * FROM txlog_changes('t', 1, 3)
    ext.injectTableFunction((FunctionIdentifier("txlog_changes"),
      new ExpressionInfo("graft.sources.TxLogSql", "txlog_changes"),
      (args: Seq[Expression]) =>
        graft.sources.TxLogSql.changesPlan(args)))
    ext.injectPostHocResolutionRule(session =>
      new graft.sources.GraftTxLogSqlRule(session))
    // AFTER the DML rule: logged-table READS re-resolve onto the
    // TxFileIndex plan (exact planner statistics, static broadcast,
    // dynamic partition pruning) — DML targets stay v2 for the rule
    // above
    ext.injectPostHocResolutionRule(session =>
      new graft.sources.GraftTxLogReadRule(session))
    // a Filter over an indexed logged read swaps in the RESTRICTED
    // file index so join planning sees post-prune sizes (the
    // PrepareDeltaScan shape)
    ext.injectOptimizerRule(session =>
      new graft.sources.GraftTxLogStatsRule(session))
    // path-addressed DDL/utility statements (OPTIMIZE / VACUUM /
    // DESCRIBE HISTORY|DETAIL / RESTORE / ALTER TXLOG …) — a
    // delegating parser, so Spark's own SQL is untouched
    ext.injectParser((_, delegate) =>
      new graft.sources.GraftSqlParser(delegate))
  }
}

object GraftFunctions {
  type Injection = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)

  val injections: Seq[Injection] = Seq(
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)),
    (FunctionIdentifier("winnow"),
      new ExpressionInfo(classOf[Winnow].getName, "winnow"),
      (args: Seq[Expression]) => Winnow(args(0), args(1), args(2))),
    (FunctionIdentifier("hamming64"),
      new ExpressionInfo(classOf[Hamming64].getName, "hamming64"),
      (args: Seq[Expression]) => Hamming64(args(0), args(1))),
    (FunctionIdentifier("minhash_md5"),
      new ExpressionInfo(classOf[MinhashMd5].getName, "minhash_md5"),
      (args: Seq[Expression]) => MinhashMd5(args(0), args(1))),
    (FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
      (args: Seq[Expression]) => RepetitionStats(args.head)),
    (FunctionIdentifier("bpe_count"),
      new ExpressionInfo(classOf[BpeCount].getName, "bpe_count"),
      (args: Seq[Expression]) => BpeCount(args(0), args(1))),
    (FunctionIdentifier("bpe_tokens"),
      new ExpressionInfo(classOf[BpeTokens].getName, "bpe_tokens"),
      (args: Seq[Expression]) => BpeTokens(args(0), args(1))),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))),
    (FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketchAgg].getName, "kmv_sketch"),
      (args: Seq[Expression]) =>
        KmvSketchAgg(args(0), args(1)).toAggregateExpression()),
    (FunctionIdentifier("kmv_estimate"),
      new ExpressionInfo(classOf[KmvEstimate].getName, "kmv_estimate"),
      (args: Seq[Expression]) => KmvEstimate(args(0), args(1))),
    (FunctionIdentifier("kmv_jaccard"),
      new ExpressionInfo(classOf[KmvJaccard].getName, "kmv_jaccard"),
      (args: Seq[Expression]) => KmvJaccard(args(0), args(1), args(2))),
    (FunctionIdentifier("kmv_intersect"),
      new ExpressionInfo(classOf[KmvIntersect].getName, "kmv_intersect"),
      (args: Seq[Expression]) => KmvIntersect(args(0), args(1), args(2))),
    (FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "mg_topk"),
      (args: Seq[Expression]) =>
        MisraGriesAgg(args(0), args(1)).toAggregateExpression()),
    // Spark's own runtime-filter bloom machinery, surfaced as callable
    // functions: bloom_agg(xxhash64 value, est items, num bits) builds
    // the serialized filter distributedly (TypedImperativeAggregate —
    // partials merge, nothing collects to the driver); bloom_contains
    // probes it. Used by Decontaminate.bloomClean.
    (FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate].getName, "bloom_agg"),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(args(0), args(1), args(2))
          .toAggregateExpression()),
    (FunctionIdentifier("bloom_probe"),
      new ExpressionInfo(classOf[BloomProbe].getName, "bloom_probe"),
      (args: Seq[Expression]) => BloomProbe(args(0), args(1))),
    (FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getName, "bloom_contains"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(args(0), args(1))))

  /** Idempotent registration into an existing session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    injections.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
  }
}
