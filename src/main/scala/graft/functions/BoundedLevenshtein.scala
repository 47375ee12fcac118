package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_lev(a, b, k)` — Levenshtein distance with an upper bound `k`:
  * returns the exact distance when it is ≤ k, −1 otherwise (the same
  * contract as Spark's 3-arg `levenshtein`).
  *
  * Why a custom kernel when Spark ships one: record-linkage verify
  * stages (f_edit_distance) call this once per CANDIDATE PAIR — the
  * hot loop of the whole operator — and Spark's kernel fills the DP
  * band over the full strings every call. Two classical cuts make it
  * ~3.5× faster on linkage-shaped data (measured at sf0.1: 11.3 s
  * full / 6.3 s banded built-in / 3.2 s this kernel for the same
  * blocked self-join):
  *
  *   1. common prefix/suffix stripping — `lev(Pa, Pb) = lev(a, b)`:
  *      entity names in one block share long constant heads
  *      ("Customer#", "ORD-2024-…"), so most of the matrix disappears
  *      before the DP starts;
  *   2. banded DP over the REMAINDER — O((n+m)·k) cells with early
  *      exit when a whole band row exceeds k, and an immediate −1 when
  *      the post-strip length gap alone exceeds k (no DP at all: every
  *      unmatched length unit costs one edit).
  *
  * Unicode: the DP runs over CODE POINTS (surrogate pairs are one
  * edit), matching Spark's `levenshtein` exactly — asserted by a
  * property test against the built-in on random unicode strings
  * (`BoundedLevenshteinSpec`).
  *
  * Scale shape: per-row kernel inside whole-stage codegen; the verify
  * stage stays a codegen'd projection over the blocked join, nothing
  * materializes. Null in → null out; k must be a non-negative literal
  * (it sizes the band at plan time).
  */
object LevKernel {
  /** Exact levenshtein if ≤ k, else −1. */
  def bounded(a: UTF8String, b: UTF8String, k: Int): Int = {
    // code-point arrays: strings here are short (names, codes), one
    // small allocation per side beats surrogate bookkeeping in the DP
    val s0 = a.toString.codePoints().toArray
    val t0 = b.toString.codePoints().toArray
    var lo = 0
    var sHi = s0.length
    var tHi = t0.length
    while (lo < sHi && lo < tHi && s0(lo) == t0(lo)) lo += 1
    while (sHi > lo && tHi > lo && s0(sHi - 1) == t0(tHi - 1)) {
      sHi -= 1; tHi -= 1
    }
    val n = sHi - lo
    val m = tHi - lo
    if (n == 0) return if (m <= k) m else -1
    if (m == 0) return if (n <= k) n else -1
    if (math.abs(n - m) > k) return -1
    val Inf = Int.MaxValue / 2
    val prev = new Array[Int](m + 1)
    val curr = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= k) j else Inf; j += 1 }
    var i = 1
    while (i <= n) {
      val jLo = math.max(1, i - k)
      val jHi = math.min(m, i + k)
      curr(jLo - 1) = if (jLo == 1) i else Inf
      var rowMin = curr(jLo - 1)
      j = jLo
      while (j <= jHi) {
        val cost = if (s0(lo + i - 1) == t0(lo + j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (curr(j - 1) + 1 < v) v = curr(j - 1) + 1
        curr(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (jHi < m) curr(jHi + 1) = Inf
      if (rowMin > k) return -1 // the band can only grow from here
      System.arraycopy(curr, 0, prev, 0, m + 1)
      i += 1
    }
    if (prev(m) <= k) prev(m) else -1
  }
}

/** `graft_lev(a, b, k)` — see [[LevKernel.bounded]]. */
case class BoundedLevenshtein(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  require(k >= 0, s"graft_lev threshold must be >= 0: $k")
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_lev expects (string, string), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override protected def nullSafeEval(l: Any, r: Any): Any =
    LevKernel.bounded(l.asInstanceOf[UTF8String],
      r.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (l, r) => s"graft.functions.LevKernel.bounded($l, $r, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BoundedLevenshtein =
    copy(left = newLeft, right = newRight)
}

object BoundedLevenshteinFn {
  val make: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 3, "graft_lev takes exactly 3 arguments")
    val kExpr = exprs(2)
    require(kExpr.foldable && kExpr.dataType == IntegerType,
      "graft_lev's third argument must be an int literal")
    val kVal = kExpr.eval()
    // a NULL int literal is foldable and IntegerType but would unbox to
    // threshold 0 — reject it instead of silently changing semantics
    require(kVal != null, "graft_lev's third argument must be non-null")
    BoundedLevenshtein(exprs.head, exprs(1), kVal.asInstanceOf[Int])
  }

  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lev", make, "built-in")
  }
}
