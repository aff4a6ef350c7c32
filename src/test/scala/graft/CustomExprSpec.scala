package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.plans.GraftExtensions

class CustomExprSpec extends SparkSpec {

  test("native Hash32Expr ≡ the built-in composition (conv∘substring∘md5)") {
    GraftExtensions.register(spark)
    val df = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("text"),
        TextFunctions.hash32Composed(col("text")).as("composed"),
        GraftExtensions.graft_hash32(col("text")).as("native"))
    assert(df.filter(col("composed") =!= col("native")).count() == 0)
    // SQL registration path
    df.createOrReplaceTempView("h32docs")
    val viaSql = spark.sql(
      "SELECT count(*) FROM h32docs WHERE graft_hash32(text) != composed")
      .head().getLong(0)
    assert(viaSql == 0)
  }

  test("Hash32Expr participates in whole-stage codegen") {
    val cg = graft.sources.Tables.load(spark, sf, "documents")
      .select(GraftExtensions.graft_hash32(col("text")))
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen subtrees"))
    assert(cg.contains("Hash32Expr.hash"), "expected inlined static call")
  }
}
