package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Tables
import graft.tools.JobCounter

/** The table loaders' schema memo: a table's schema is inferred once per
  * file version, so building a query starts no Spark job for its reads,
  * while every call still gets a fresh relation and a rewritten file is
  * re-inferred and re-checked by the schema gate. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("building the ops_mix queries after one warm build starts no Spark job") {
    val mix = Seq("q_topk", "q_join_cross", "q_dedup_ngram_jaccard", "q_tpch_q18_shape",
      "q_agg_hll_merge", "q_agg_kll_merge")
    def buildAll(): Unit = mix.foreach(q => SparkEntry.queries(q)(spark, TestSpark.Sf))
    buildAll()
    val counter = new JobCounter(spark.sparkContext)
    try {
      val (_, jobs, _) = counter.count(buildAll())
      assert(jobs == 0, s"building ${mix.mkString(", ")} started $jobs Spark jobs")
    } finally counter.close()
  }

  test("two loads of one table are independent relations, so self-joins resolve") {
    val (a, b) = (Tables.orders(spark, TestSpark.Sf), Tables.orders(spark, TestSpark.Sf))
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    def pairs(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.join(y, x("o_custkey") === y("o_custkey") && x("o_orderkey") < y("o_orderkey"))
        .select(x("o_orderkey"), y("o_orderkey"), y("o_totalprice"))
        .collect().map(_.toString).sorted.toSeq
    val path = s"${TestSpark.Sf}/orders.parquet"
    val expected = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert(expected.nonEmpty)
    assert(pairs(a, b) == expected)
  }

  test("a rewritten table is re-inferred and re-checked by the schema gate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables_rewrite").toString
    val path = s"$dir/region.parquet"
    Seq((0L, "AFRICA"), (1L, "AMERICA")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(path)
    assert(Tables.region(spark, dir).columns.toSeq == Seq("r_regionkey", "r_name"))
    val bytesBefore = Tables.mtimeAndBytes(path)._2
    Seq((0L, "AFRICA", "first"), (1L, "AMERICA", "second"))
      .toDF("r_regionkey", "r_name", "r_comment")
      .write.mode("overwrite").parquet(path)
    assert(Tables.mtimeAndBytes(path)._2 != bytesBefore)
    val v2 = Tables.region(spark, dir)
    assert(v2.columns.contains("r_comment"))
    assert(v2.orderBy("r_regionkey").select("r_comment").as[String].collect().toSeq ==
      Seq("first", "second"))
    Seq((0L, 7L), (1L, 8L)).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(path)
    val e = intercept[IllegalArgumentException](Tables.region(spark, dir))
    assert(e.getMessage.contains("table `region`"))
    assert(e.getMessage.contains("column `r_name`: expected string"))
  }

  test("the events loader and the streaming source see one ts type per file version") {
    val dir = java.nio.file.Files.createTempDirectory("tables_events").toString
    spark.range(3).select(col("id").as("event_id"),
        timestamp_micros(col("id") * 1000000L).cast("timestamp_ntz").as("ts"),
        col("id").as("user_id"), lit("view").as("event_type"),
        col("id").cast("double").as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = Tables.events(spark, dir)
    val stream = graft.streaming.EventStream.source(spark, dir)
    assert(stream.isStreaming)
    assert(batch.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(stream.schema("ts").dataType == batch.schema("ts").dataType)
    assert(Tables.schemaOf(spark, s"$dir/events.parquet")._1("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
  }
}
