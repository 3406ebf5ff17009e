package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** CSV/JSON source round-trips (SURVEY.md §2A note: testdata is
  * parquet-only, so the extra formats are demonstrated here), plus a
  * parquet sink round-trip with partitioning — the layout a 100 TB
  * table would use. */
class SourcesSpec extends SparkSpecBase {

  /** A new temp dir, deleted at JVM exit. */
  private def tmp(prefix: String) = {
    val dir = Files.createTempDirectory(prefix).toString
    org.apache.spark.sql.graftbridge.Bridge.deleteAtShutdown(dir)
    dir
  }

  test("csv source round-trips the nation table") {
    val dir = tmp("graft_csv")
    val nation = Tables.nation(spark, sfDir)
    nation.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(nation.schema).csv(dir)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("json source round-trips the region table") {
    val dir = tmp("graft_json")
    val region = Tables.region(spark, sfDir)
    region.write.mode("overwrite").json(dir)
    val back = spark.read.schema(region.schema).json(dir)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      region.orderBy("r_regionkey").collect().toSeq)
  }

  test("orc source round-trips the supplier table") {
    val dir = tmp("graft_orc")
    val supplier = Tables.supplier(spark, sfDir)
    supplier.write.mode("overwrite").orc(dir)
    val back = spark.read.schema(supplier.schema).orc(dir)
    assert(back.orderBy("s_suppkey").collect().toSeq ==
      supplier.orderBy("s_suppkey").collect().toSeq)
  }

  test("bucketed tables join co-located, with no shuffle exchange") {
    val sp = spark
    Tables.orders(sp, sfDir).write
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.customer(sp, sfDir).write
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("b_customer")
    val prevBc = sp.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = sp.table("b_orders")
        .join(sp.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      assert(j.count() ==
        Tables.orders(sp, sfDir).join(Tables.customer(sp, sfDir),
          col("o_custkey") === col("c_custkey")).count())
    } finally sp.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("partitioned parquet sink prunes partitions on read") {
    val dir = tmp("graft_part")
    Tables.orders(spark, sfDir)
      .withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("status") === "F")
    val p = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ==
      Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F").count())
    assert(p.contains("PartitionFilters: [isnotnull(status"),
      s"partition filter missing:\n$p")
  }
}
