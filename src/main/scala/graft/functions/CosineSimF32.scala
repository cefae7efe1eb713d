package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity between two float vectors,
  * with whole-stage codegen (`doGenCode`) — a tight primitive loop, no
  * boxing, no intermediate arrays (contrast: the `zip_with`+`aggregate`
  * composition allocates a lambda-variable array per row).
  *
  * This is the (b) tier of the extension preference order (compose builtins
  * → custom Expression → custom operator): used on hot similarity paths
  * where oracle-exact decimal accumulation isn't required (e.g. the q38
  * candidate prefilter); the decimal fold remains the reproducible scorer.
  */
case class CosineSimF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e =>
        e.dataType.isInstanceOf[ArrayType] &&
          e.dataType.asInstanceOf[ArrayType].elementType == FloatType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimF32 =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i).toDouble; val yv = y(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // Fresh local names: two instances of this expression may land in the
      // same generated function (one projection, two similarities).
      val gx = ctx.freshName("gx"); val gy = ctx.freshName("gy")
      val gn = ctx.freshName("gn"); val gi = ctx.freshName("gi")
      val gdot = ctx.freshName("gdot"); val gnx = ctx.freshName("gnx")
      val gny = ctx.freshName("gny"); val gxv = ctx.freshName("gxv")
      val gyv = ctx.freshName("gyv"); val gden = ctx.freshName("gden")
      s"""
         |float[] $gx = $a.toFloatArray();
         |float[] $gy = $b.toFloatArray();
         |int $gn = Math.min($gx.length, $gy.length);
         |double $gdot = 0.0, $gnx = 0.0, $gny = 0.0;
         |for (int $gi = 0; $gi < $gn; $gi++) {
         |  double $gxv = (double) $gx[$gi]; double $gyv = (double) $gy[$gi];
         |  $gdot += $gxv * $gyv; $gnx += $gxv * $gxv; $gny += $gyv * $gyv;
         |}
         |double $gden = Math.sqrt($gnx) * Math.sqrt($gny);
         |if ($gden == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $gdot / $gden; }
       """.stripMargin
    })

  override def prettyName: String = "cosine_f32"
}

/** SQL registration for the custom expressions (idempotent). Also surfaces
  * Spark's OWN bloom-filter expressions (`BloomFilterAggregate` /
  * `BloomFilterMightContain` — the machinery behind `InjectRuntimeFilter`,
  * public classes but not in the public `FunctionRegistry`): at 100 TB a
  * membership prefilter against a fixed-size sketch is how a semi-join
  * against a large build side avoids shuffling the full probe side. */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain => MightContain}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate => BloomAgg}

  /** The one function table: (SQL name, implementing class, builder).
    * Both install paths — [[register]] and [[GraftExtensions]] — read
    * it, so they cannot drift apart. */
  private[functions] val table: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_f32", classOf[CosineSimF32], e => CosineSimF32(e.head, e(1))),
    ("topk_by_score", classOf[TopKByScore], TopKByScore.fromExprs),
    ("freq_sketch", classOf[FreqSketch], FreqSketch.fromExprs),
    ("l2sq_f32", classOf[L2SqF32], e => L2SqF32(e.head, e(1))),
    ("dtw_i64", classOf[DtwI64], e => DtwI64(e.head, e(1))),
    ("bloom_filter_agg", classOf[BloomAgg], e => new BloomAgg(e.head, e(1), e(2))),
    ("bloom_might_contain", classOf[MightContain], e => new MightContain(e.head, e(1))))

  def register(spark: SparkSession): Unit =
    table.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

/** `SparkSessionExtensions` hook: enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions` so the full graft
  * extension surface — custom functions, the as-of planner strategy, and
  * its filter-pushdown rule — exists in every session (incl. thriftserver/
  * connect) without code calls. Interactive/test paths use the runtime
  * equivalents (GraftFunctions.register / plans.AsOf.register). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          cls.getName, name),
        builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
  }
}
