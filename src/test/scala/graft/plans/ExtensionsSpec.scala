package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

import graft.SparkSpec

/** Native F8 expression + SparkSessionExtensions registration. The
  * extension's wiring is unit-tested via a fresh SparkSessionExtensions
  * instance; the expressions' SQL surface runs on the shared session,
  * which [[graft.core.Sessions.local]] builds with the extension.
  */
class ExtensionsSpec extends SparkSpec {

  test("extension wiring builds the native expression") {
    val ext = new GraftExtensions
    ext(new SparkSessionExtensions) // must not throw; registration accepted
    val e = ExtractBalancedJsonExpr(
      org.apache.spark.sql.catalyst.expressions.Literal("m = {\"a\":1}"),
      org.apache.spark.sql.catalyst.expressions.Literal("m ="))
    assert(e.eval(null).toString == """{"a":1}""")
  }

  test("graft_extract_json in SQL; handles tricky braces and missing marker") {
    import spark.implicits._
    Seq(
      ("""<script>window.jsonModel = {"a":{"b":"}"},"n":1};</script>""", 1),
      ("""no marker""", 2)).toDF("html", "id").createOrReplaceTempView("pages")
    val out = spark.sql(
      """SELECT id, graft_extract_json(html, 'window.jsonModel') AS j
        |FROM pages ORDER BY id""".stripMargin).collect()
    assert(out(0).getString(1) == """{"a":{"b":"}"},"n":1}""")
    assert(out(1).isNullAt(1))
  }

  test("column API uses the native expression (no UDF in plan)") {
    import spark.implicits._
    import graft.functions.JsonExtract
    // literal input folds away (proving it's a first-class catalyst
    // expression); a parquet-backed source keeps it in the plan
    val work = java.nio.file.Files.createTempDirectory("nexpr").toString
    Seq("""m = {"k":[1,2,{"x":"{"}]} t""").toDF("s").write.parquet(s"$work/in")
    val df = spark.read.parquet(s"$work/in")
      .select(JsonExtract.balancedJson(
        org.apache.spark.sql.functions.col("s"), "m =").as("j"))
    assert(df.collect().head.getString(0) == """{"k":[1,2,{"x":"{"}]}""")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("udf"))
    assert(plan.contains("graft_extract_json"))
    assert(plan.contains("*(1) Project")) // the * marks WholeStageCodegen
  }

  test("production path: session built withExtensions runs the SQL surface") {
    import spark.implicits._
    Seq((Array(3.0f, 4.0f), Array(1.0, 2.0)))
      .toDF("a", "b").createOrReplaceTempView("pvecs")
    // CTE + view indirection: function resolution can fire on multiple
    // analyzer iterations here — the path where an eager dataType in
    // the builder threw UnresolvedException on valid queries
    val row = spark.sql(
      """WITH v AS (SELECT a, b FROM pvecs)
        |SELECT graft_dot(a, b) AS d,
        |       graft_normalize(a) AS na,
        |       graft_extract_json('m = {"x":1} t', 'm =') AS j
        |FROM v""".stripMargin).collect().head
    assert(math.abs(row.getDouble(0) - 11.0) < 1e-9)
    val na = row.getSeq[Double](1)
    assert(math.abs(na(0) - 0.6) < 1e-6 && math.abs(na(1) - 0.8) < 1e-6)
    assert(row.getString(2) == """{"x":1}""")
  }

  test("graft_dot / graft_normalize in SQL match the Column-API kernels") {
    import spark.implicits._
    Seq((Array(3.0f, 4.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val row = spark.sql(
      """SELECT graft_dot(a, b) AS d, graft_normalize(a) AS na
        |FROM vecs""".stripMargin).collect().head
    assert(math.abs(row.getDouble(0) - 11.0) < 1e-9)
    val na = row.getSeq[Double](1) // NormalizeExpr widens to array<double>
    assert(math.abs(na(0) - 0.6) < 1e-6 && math.abs(na(1) - 0.8) < 1e-6)
  }
}
