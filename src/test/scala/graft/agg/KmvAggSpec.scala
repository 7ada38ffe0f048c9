package graft.agg

import graft.SparkTestBase
import graft.api.{functions => gf}
import org.apache.spark.sql.functions._

/** KMV at the DataFrame layer: DSL + SQL paths, exactness vs countDistinct,
  * groupwise sketches, persist → merge re-aggregation. */
class KmvAggSpec extends SparkTestBase {
  import spark.implicits._

  test("kmv_distinct exact mode matches countDistinct on lineitem keys") {
    val li = spark.read.parquet(sf("lineitem"))
    val got = li.agg(
      gf.kmv_distinct(gf.kmv_agg(col("l_suppkey"), 8192)).as("d_supp"),
      gf.kmv_distinct(gf.kmv_agg(col("l_partkey"), 8192)).as("d_part"),
      gf.kmv_distinct(gf.kmv_agg(col("l_returnflag"), 8192)).as("d_flag")).head()
    val exact = li.agg(countDistinct("l_suppkey"), countDistinct("l_partkey"),
      countDistinct("l_returnflag")).head()
    assert(got.getDouble(0) == exact.getLong(0).toDouble)
    assert(got.getDouble(1) == exact.getLong(1).toDouble)
    assert(got.getDouble(2) == exact.getLong(2).toDouble)
  }

  test("SQL path and groupwise sketches") {
    graft.api.GraftFunctions.register(spark)
    spark.read.parquet(sf("orders")).createOrReplaceTempView("__kmv_orders")
    val rows = spark.sql(
      """SELECT o_orderpriority, kmv_distinct(kmv_agg(o_custkey, 8192)) AS d
         FROM __kmv_orders GROUP BY o_orderpriority""").collect()
    val exact = spark.sql(
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS d
         FROM __kmv_orders GROUP BY o_orderpriority""").collect()
    val g = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach(r => assert(g(r.getString(0)) == r.getLong(1).toDouble))
  }

  test("persist roundtrip + kmv_merge_agg == direct global sketch") {
    val li = spark.read.parquet(sf("lineitem"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_kmv").toString
    li.withColumn("g", col("l_orderkey") % 8)
      .groupBy("g").agg(gf.kmv_agg(col("l_partkey"), 1024).as("sk"))
      .write.mode("overwrite").parquet(tmp)
    val merged = spark.read.parquet(tmp)
      .agg(gf.kmv_distinct(gf.kmv_merge_agg(col("sk")))).head().getDouble(0)
    val direct = li.agg(
      gf.kmv_distinct(gf.kmv_agg(col("l_partkey"), 1024))).head().getDouble(0)
    assert(merged == direct, s"merge-reagg $merged != direct $direct")
  }

  test("kmv_jaccard on overlapping cohorts matches exact set jaccard") {
    val ev = spark.read.parquet(sf("events"))
    val r = ev.agg(
        gf.kmv_agg(when(col("user_id") % 2 === 0, col("event_type")), 8192).as("a"),
        gf.kmv_agg(when(col("user_id") % 2 === 1, col("event_type")), 8192).as("b"))
      .select(gf.kmv_jaccard(col("a"), col("b"))).head().getDouble(0)
    val sa = ev.where(col("user_id") % 2 === 0)
      .select("event_type").distinct().as[String].collect().toSet
    val sb = ev.where(col("user_id") % 2 === 1)
      .select("event_type").distinct().as[String].collect().toSet
    val exact = (sa & sb).size.toDouble / (sa | sb).size
    assert(r == exact)
  }

  test("arity and type errors are clean") {
    graft.api.GraftFunctions.register(spark)
    spark.range(1).createOrReplaceTempView("__kmv_t")
    val e = intercept[Exception](
      spark.sql("SELECT kmv_agg(id, 8, 9) FROM __kmv_t").collect())
    assert(e.getMessage.contains("WRONG_NUM_ARGS") ||
      e.getMessage.contains("parameters"))
    val e2 = intercept[Exception](
      spark.sql("SELECT kmv_distinct(12) FROM __kmv_t").collect())
    assert(e2.getMessage.toLowerCase.contains("binary") ||
      e2.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("fractional inputs keep distinctness; signed zero handled") {
    // float column must NOT truncate to long
    val f = Seq(1.1f, 1.2f, 1.9f, 1.1f).toDF("v")
    assert(f.agg(gf.kmv_distinct(gf.kmv_agg(col("v"), 64))).head().getDouble(0) == 3.0)
    // decimal column likewise
    val d = Seq(BigDecimal("1.10"), BigDecimal("1.20"), BigDecimal("1.90"))
      .toDF("v")
    assert(d.agg(gf.kmv_distinct(gf.kmv_agg(col("v"), 64))).head().getDouble(0) == 3.0)
    // -0.0 == 0.0 per SQL DISTINCT semantics
    val z = Seq(0.0, -0.0, 1.0).toDF("v")
    assert(z.agg(gf.kmv_distinct(gf.kmv_agg(col("v"), 64))).head().getDouble(0) == 2.0)
  }
}
