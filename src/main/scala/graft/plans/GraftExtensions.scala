package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions into the session function registry, so SQL users get
  * them too:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   ...
  * spark.sql("SELECT graft_extract_json(html, 'window.jsonModel') ...")
  * }}}
  *
  * (Also usable via `spark.sql.extensions=graft.plans.GraftExtensions`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** array<float> → array<double>. Unconditional Cast: the builder runs
    * during ResolveFunctions, where arguments may still be UNRESOLVED
    * (multi-iteration subquery/view resolution) and `e.dataType` would
    * throw UnresolvedException on an otherwise-valid query. Identity
    * casts cost nothing — the optimizer's SimplifyCasts removes them.
    */
  private def widen(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL DML + time travel for the transactional table: MERGE INTO /
    // UPDATE / DELETE / VERSION AS OF / TIMESTAMP AS OF over
    // `txlog.`path`` targets route to the TxLogTable primitives; all
    // other statements parse through the delegate untouched.
    ext.injectParser((session, delegate) =>
      new GraftSqlParser(session, delegate))
    // CBO statistics for the V1 relation surfaces that remain after
    // the DSv2 migration (CREATE TEMPORARY VIEW ... USING txlog, the
    // useV1SourceList escape hatch). V2 reads report statistics
    // natively through SupportsReportStatistics, and dynamic file
    // pruning is Spark's own runtime filtering on the V2 scan — no
    // injected rule needed for either.
    ext.injectPreCBORule(_ => TxLogCboStats)
    ext.injectFunction((
      new FunctionIdentifier("graft_extract_json"),
      new ExpressionInfo(classOf[ExtractBalancedJsonExpr].getName,
        "graft_extract_json"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_extract_json(text, marker) takes exactly 2 arguments")
        ExtractBalancedJsonExpr(args.head, args(1))
      }))
    // the vector kernels, for spark.sql() users — same codegen
    // expressions the Column API paths compile to. graft_dot widens
    // float vectors the way VectorFunctions' Column path does (the
    // kernel itself is doubles-only).
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_dot(vec_a, vec_b) takes exactly 2 arguments")
        DotProductExpr(widen(args.head), widen(args(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[NormalizeExpr].getName, "graft_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          "graft_normalize(vec) takes exactly 1 argument")
        NormalizeExpr(args.head)
      }))
  }
}
