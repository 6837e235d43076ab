package graft

import org.apache.spark.sql.functions._
import graft.functions.{CosineSimilarity, PerformanceScoreExpr}

class SqlSurfaceSpec extends SparkSpec {

  test("SQL front-end: views + custom functions drive the same plans") {
    val rows = spark.range(0, 1000).select((col("id") % 3).as("k"), col("id").as("v"))
    rows.createOrReplaceTempView("sql_surface_rows")
    PerformanceScoreExpr.register(spark)
    // plain SQL over a view
    val viaSql = spark.sql("SELECT k, sum(v) AS s FROM sql_surface_rows GROUP BY 1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDf = rows.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql === viaDf)

    // the native expression is callable from SQL with decimal literals,
    // and agrees with its Column form
    val native = spark.sql(
      "SELECT performance_score(2.0, 500.0, 0.5, 300.0, 0.2, 1.5, true) AS s")
      .head().getDouble(0)
    val viaCol = spark.range(1).select(PerformanceScoreExpr.score(lit(2.0),
      lit(500.0), lit(0.5), lit(300.0), lit(0.2), lit(1.5), lit(true)))
      .head().getDouble(0)
    assert(native === viaCol)
  }

  test("cosine_similarity is SQL-callable and equals the Column form bit-for-bit") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").filter(col("vec_id") < 5)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val viaCol = a.crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        CosineSimilarity.cosine(col("ea"), col("eb")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    emb.createOrReplaceTempView("embeddings")
    CosineSimilarity.register(spark)
    val viaSql = spark.sql(
      """SELECT a.vec_id AS ia, b.vec_id AS ib,
        |  cosine_similarity(a.embedding, b.embedding) AS c
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 5 AND b.vec_id < 5""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaSql.nonEmpty && viaSql === viaCol)
  }
}
