package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Kernel for unordered-pair expansion: all (a, b) with a before b in
  * the input array — the co-order edge generator
  * ([[graft.queries.Graph.coOrderWeightedFrom]] applies it to each
  * order's sorted distinct part list, so a < b by construction).
  *
  * r18 optimization-round kernel (guide §4.1 "prefer built-ins /
  * native expressions", the graft_del_variants precedent): the
  * nested-`transform`+`slice`+`flatten` HOF formulation this replaces
  * is CodegenFallback — two lambda invocations plus an array slice
  * allocation PER ELEMENT — and its explode stage carried 4.3 CPU-s
  * for 147 k orders → 1.2 M pairs at sf0.1 (r18 stage profile). One
  * tight two-index loop emits the same pairs in the same order.
  */
object PairKernel {
  def pairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(a, arr.getLong(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_pairs(array<long>)` → `array<struct<a:long, b:long>>` — see
  * [[PairKernel.pairs]].
  */
case class PairExpansion(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_pairs expects array<bigint>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    PairKernel.pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PairKernel.pairs($c)")

  override protected def withNewChildInternal(
      newChild: Expression): PairExpansion = copy(child = newChild)
}

object PairExpansionFn {
  val make: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "graft_pairs takes exactly 1 argument")
    PairExpansion(exprs.head)
  }

  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pairs", make, "built-in")
  }
}
