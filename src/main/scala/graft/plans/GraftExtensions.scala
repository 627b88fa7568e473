package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.spatial.SpatialExpressions
import graft.functions.spatial.SpatialExpressions._

/** Engine extension point, installed in every [[graft.GraftSession]]:
  *
  *   - functions: the ST_* spatial family and the `graft_*` native
  *     kernels and dialect coercions, into Catalyst's FunctionRegistry;
  *   - optimizer rules: [[StripIdentityJsStr]] and [[StripIdentityJsNum]]
  *     drop the dialect's coercion wrappers where they are identity;
  *   - planner strategies, in this order: [[CollectSort]] plans the
  *     root `ORDER BY` of a query as [[CollectSortExec]], which a
  *     `collect` runs as the child's own job plus a sort on the driver;
  *     [[SingleTaskSort]] plans every other global sort whose child fits
  *     `spark.sql.autoBroadcastJoinThreshold` as one sort task over a
  *     single-partition exchange, so no range-sampling job runs; the
  *     query-stage preparation rule [[DropRedundantGather]] removes that
  *     exchange where the child is already one partition.
  *
  * Install with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft", name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("st_geomfromtext"), info("st_geomfromtext"),
      (args: Seq[Expression]) => StGeomFromText(args.head)))
    ext.injectFunction((FunctionIdentifier("st_astext"), info("st_astext"),
      (args: Seq[Expression]) => StAsText(args.head)))
    ext.injectFunction((FunctionIdentifier("st_asgeojson"), info("st_asgeojson"),
      (args: Seq[Expression]) => StAsGeoJson(args.head)))
    ext.injectFunction((FunctionIdentifier("st_makeenvelope"), info("st_makeenvelope"),
      (args: Seq[Expression]) => StMakeEnvelope(args(0), args(1), args(2), args(3))))
    ext.injectFunction((FunctionIdentifier("st_dwithin"), info("st_dwithin"),
      (args: Seq[Expression]) => StDWithin(args(0), args(1), args(2))))
    SpatialExpressions.predicateNames.foreach { name =>
      ext.injectFunction((FunctionIdentifier(name), info(name),
        (args: Seq[Expression]) => StPredicate(args(0), args(1), name)))
    }
    ext.injectFunction((FunctionIdentifier("graft_rolling_hash"), info("graft_rolling_hash"),
      (args: Seq[Expression]) => graft.functions.text.RollingHash(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_hash60"), info("graft_hash60"),
      (args: Seq[Expression]) => graft.functions.text.Hash60(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_dot"), info("graft_dot"),
      (args: Seq[Expression]) => graft.functions.vector.DotProduct(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_entropy"), info("graft_entropy"),
      (args: Seq[Expression]) => graft.functions.text.Entropy(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_gopher_counts"), info("graft_gopher_counts"),
      (args: Seq[Expression]) => graft.functions.text.GopherCounts(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_repetition_counts"), info("graft_repetition_counts"),
      (args: Seq[Expression]) => graft.functions.text.RepetitionCounts(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_oov_count"), info("graft_oov_count"),
      (args: Seq[Expression]) => graft.functions.text.OovCount(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_js_str"), info("graft_js_str"),
      (args: Seq[Expression]) => graft.functions.text.JsStr(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_js_cast_str"), info("graft_js_cast_str"),
      (args: Seq[Expression]) => graft.functions.text.JsStr(args.head, castMode = true)))
    ext.injectFunction((FunctionIdentifier("graft_js_num"), info("graft_js_num"),
      (args: Seq[Expression]) => graft.functions.text.JsNum(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_js_interval"), info("graft_js_interval"),
      (args: Seq[Expression]) => graft.functions.time.JsInterval(
        args(0), args(1), args(2), args(3), args(4))))
    ext.injectFunction((FunctionIdentifier("graft_strftime"), info("graft_strftime"),
      (args: Seq[Expression]) => graft.functions.time.Strftime(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_datediff"), info("graft_datediff"),
      (args: Seq[Expression]) => graft.functions.time.DateDiffUnit(
        args(0), args(1), args(2))))
    ext.injectFunction((FunctionIdentifier("graft_js_trim"), info("graft_js_trim"),
      (args: Seq[Expression]) => graft.functions.text.JsTrim(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_size"), info("graft_size"),
      (args: Seq[Expression]) => graft.functions.collection.SizeAny(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_length"), info("graft_length"),
      (args: Seq[Expression]) => graft.functions.collection.LengthAny(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_size_dim"), info("graft_size_dim"),
      (args: Seq[Expression]) => graft.functions.collection.SizeDim(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_json_input"), info("graft_json_input"),
      (args: Seq[Expression]) => graft.functions.collection.JsonInputText(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_get"), info("graft_get"),
      (args: Seq[Expression]) => graft.functions.collection.GetAny(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_json_valid_any"), info("graft_json_valid_any"),
      (args: Seq[Expression]) => graft.functions.collection.JsonValidAny(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_array_position"), info("graft_array_position"),
      (args: Seq[Expression]) => graft.functions.collection.ArrayPositionAny(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_array_contains"), info("graft_array_contains"),
      (args: Seq[Expression]) => graft.functions.collection.ArrayContainsAny(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_array_sort"), info("graft_array_sort"),
      (args: Seq[Expression]) => graft.functions.collection.ArraySortAny(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_array_append"), info("graft_array_append"),
      (args: Seq[Expression]) => graft.functions.collection.ArrayAppendAny(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_array_concat"), info("graft_array_concat"),
      (args: Seq[Expression]) => graft.functions.collection.ArrayConcatAny(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_sqdist"), info("graft_sqdist"),
      (args: Seq[Expression]) => graft.functions.vector.SqDistLong(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_cell"), info("graft_cell"),
      (args: Seq[Expression]) => graft.functions.vector.ArgMinCell(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_pq_encode"), info("graft_pq_encode"),
      (args: Seq[Expression]) => graft.functions.vector.PqEncode(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_adc"), info("graft_adc"),
      (args: Seq[Expression]) => graft.functions.vector.AdcSum(args(0), args(1))))
    // Spark's native bloom-filter pair (used internally by runtime
    // row-level filtering) surfaced as SQL functions: the membership
    // sketch that replaces an exact broadcast set once the set outgrows
    // executor memory. agg(childLong, estimatedItems, numBits) -> binary;
    // might_contain(binary, long) -> boolean (bloom side must be a
    // constant or scalar subquery — Spark's own restriction).
    ext.injectFunction((FunctionIdentifier("graft_bloom_agg"), info("graft_bloom_agg"),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2))))
    ext.injectFunction((FunctionIdentifier("graft_might_contain"), info("graft_might_contain"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args(0), args(1))))
    ext.injectOptimizerRule(_ => StripIdentityJsStr)
    ext.injectOptimizerRule(_ => StripIdentityJsNum)
    ext.injectPlannerStrategy(_ => CollectSort)
    ext.injectPlannerStrategy(_ => SingleTaskSort)
    ext.injectQueryStagePrepRule(_ => DropRedundantGather)
  }
}

/** The dialect front-end wraps every `||` / ILIKE / string-function
  * operand in `graft_js_str` (ECMAScript String(v) coercion). Over an
  * already-STRING child both JsStr modes are identity by construction
  * (JsStr.eval short-circuits `case StringType => v` before any
  * rendering), but the wrapper is CodegenFallback and opaque to
  * data-source filter translation — left in place it drops dialect hot
  * paths out of whole-stage codegen and strips scans of their
  * PushedFilters. Removing the provably-identity wraps restores both;
  * non-string children (where the JS rendering differs from Spark's
  * CAST) keep the expression.
  */
object StripIdentityJsStr
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.transformAllExpressions {
      case js: graft.functions.text.JsStr
          if js.child.resolved && js.child.dataType == org.apache.spark.sql.types.StringType =>
        js.child
    }
}

/** The dialect wraps every SUM/AVG argument in `graft_js_num` (the
  * reference's Number(v)+isFinite accumulator gate). Over an already-
  * numeric child the wrap is identity by construction — remove it so
  * numeric aggregation (the hot path) keeps whole-stage codegen and
  * partial aggregation pushdown; string/boolean/null children (where
  * the JS coercion actually differs from Spark's ANSI cast) keep the
  * expression.
  */
object StripIdentityJsNum
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.transformAllExpressions {
      case js: graft.functions.text.JsNum if js.child.resolved &&
          js.child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        js.child
    }
}
