package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: exact integer dot product of two
  * `array<bigint>` quantized vectors.
  *
  * The composable form (`zip_with` + `aggregate`) allocates an
  * intermediate product array per row and evaluates two higher-order
  * lambdas; this expression generates a single fused loop over the two
  * `ArrayData` buffers inside whole-stage codegen — the preferred
  * extension shape when built-ins can't express the hot scalar tightly
  * (custom Expression with doGenCode > UDF).
  *
  * Semantics are identical to the fold: sum over min(len) of a(i)*b(i),
  * so DuckDB oracles are unaffected. A null ARRAY yields null via
  * BinaryExpression's default null handling; a null ELEMENT fails with
  * its position — before round 14 it read 0 from UnsafeArrayData but
  * NPE'd from GenericArrayData (representation-dependent wrong
  * distances from the SQL surface, the KCenterAgg defect class). The
  * declared type must stay lenient (`containsNull = true`): quantized
  * vectors come out of `transform`, which propagates the parquet
  * element nullability. When BOTH inputs are provably null-free the
  * generated loop carries no per-element checks.
  */
case class DotProductQ(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dotq expects (array<bigint>, array<bigint>), got ($l, $r)")
    }
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_dotq"

  @transient private lazy val mayHaveNullElements: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    if (mayHaveNullElements) {
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i))
          throw DotProductQ.nullElement(i)
        s += x.getLong(i) * y.getLong(i); i += 1
      }
    } else {
      while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val check = if (mayHaveNullElements)
        s"""if ($a.isNullAt($i) || $b.isNullAt($i)) {
           |    throw graft.functions.DotProductQ.nullElement($i);
           |  }
           |  """.stripMargin
      else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $check$s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductQ =
    copy(left = newLeft, right = newRight)
}

object DotProductQ {
  val info = new ExpressionInfo(classOf[DotProductQ].getName, "graft_dotq")

  /** Called from generated code — must be public and return (never
    * declare) the throwable so the codegen template stays one statement.
    */
  def nullElement(i: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_dotq: null element at position $i (quantized vectors must be null-free)")

  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProductQ(a, b)
    case other =>
      throw new IllegalArgumentException(
        s"graft_dotq expects 2 arguments, got ${other.size}")
  }
}

/** SparkSessionExtensions entry point: configure
  * `spark.sql.extensions=graft.functions.GraftExtensions` to get
  * `graft_dotq` (and future native functions) in SQL and DataFrame text
  * expressions at session build time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dotq"),
      DotProductQ.info, DotProductQ.builder))
    ext.injectFunction((FunctionIdentifier("graft_bloom_agg"),
      BloomFunctions.aggInfo, BloomFunctions.aggBuilder))
    ext.injectFunction((FunctionIdentifier("graft_might_contain"),
      BloomFunctions.containInfo, BloomFunctions.containBuilder))
    ext.injectFunction((FunctionIdentifier("graft_bpe_train"),
      BpeTrainAgg.info, BpeTrainAgg.builder))
    ext.injectFunction((FunctionIdentifier("graft_kcenter"),
      KCenterAgg.info, KCenterAgg.builder))
    ext.injectFunction((FunctionIdentifier("graft_kmv_bottomk"),
      KmvBottomKAgg.info, KmvBottomKAgg.builder))
    ext.injectFunction((FunctionIdentifier("graft_qsample"),
      QuantileSampleAgg.info, QuantileSampleAgg.builder))
    ext.injectFunction((FunctionIdentifier("graft_topk"),
      TopKRowsAgg.info, TopKRowsAgg.builder))
    // AQE exchange-reuse repair for cached-table scans (see
    // AdaptiveCacheScan.scala): wrap InMemoryTableScanExec before stage
    // creation so no canonicalization-breaking TableCacheQueryStage is
    // ever created above a session artifact
    ext.injectQueryStagePrepRule(_ =>
      org.apache.spark.sql.execution.graft.GraftWrapCachedScans())
    // time bounds out of generated source (BindLiterals.scala): a query
    // re-run at a new "now" reuses the classes compiled for the last run
    ext.injectQueryStagePrepRule(_ =>
      org.apache.spark.sql.execution.graft.GraftBindLiterals())
  }
}
