package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Proof for SCALE.md's co-located-join claim: tables bucketed on the
  * join key with matching bucket counts join WITHOUT a shuffle exchange —
  * the physical layout replaces the exchange. At 100 TB this is how
  * repeated fact-to-fact joins on the same key amortize their shuffle to
  * write time (pay once, join forever).
  */
class BucketingSpec extends SparkSpec {

  test("bucketed-by-key tables sort-merge join with no shuffle exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
      graft.source.Tables(spark, sfDir, "orders")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
      graft.source.Tables(spark, sfDir, "customer")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")

      val bucketed = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey")).agg(count(lit(1)).as("n"))
      val expected = graft.source.Tables(spark, sfDir, "orders")
        .join(graft.source.Tables(spark, sfDir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey")).agg(count(lit(1)).as("n"))

      // same answer as the plain join…
      val got = bucketed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exp = expected.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exp && got.nonEmpty)

      // …and the join itself runs exchange-free: the only shuffle in the
      // final adaptive plan is the aggregation's (bucketing even covers
      // that grouping key — one exchange total would mean the agg reused
      // the layout; assert the join inputs specifically)
      val plan = bucketed.queryExecution.executedPlan.toString
      val joinSection = plan.split("HashAggregate").last // below the agg
      assert(joinSection.contains("SortMergeJoin"), plan)
      assert(!joinSection.contains("Exchange"), s"join should be exchange-free:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("ops.Bucketed registry layout: orders⨝lineitem join side is exchange-free") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (o, l) = Bucketed.ordersLineitem(spark, sfDir)
      // the registered query's join shape
      val joined = spark.table(l).select(col("l_orderkey"))
        .join(spark.table(o).select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_lines"))
      val plan = joined.queryExecution.executedPlan.toString
      val joinSection = plan.split("HashAggregate").last
      assert(joinSection.contains("SortMergeJoin"), plan)
      assert(!joinSection.contains("Exchange"), s"join should be exchange-free:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scans should be bucketed reads:\n$plan")

      // one file per bucket (the repartition-by-bucket-expression write):
      // per-bucket sortBy order is only trusted under this layout
      val files = new java.io.File(
        spark.table(o).inputFiles.head.stripPrefix("file:")).getParentFile
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 8, s"expected 8 bucket files, got ${files.length}")

      // the layout is semantics-preserving: counts match the raw tables
      assert(spark.table(o).count() ==
        graft.source.Tables(spark, sfDir, "orders").count())
      assert(spark.table(l).count() ==
        graft.source.Tables(spark, sfDir, "lineitem").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("ops.Bucketed: a changed input maps to a fresh bucketed table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed-stale")
    for (t <- Seq("orders", "lineitem"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, s"$t.parquet"),
        dir.resolve(s"$t.parquet"))
    val (o1, _) = Bucketed.ordersLineitem(spark, dir.toString)
    val orders = dir.resolve("orders.parquet").toFile
    assert(orders.setLastModified(orders.lastModified() + 73000))
    val (o2, _) = Bucketed.ordersLineitem(spark, dir.toString)
    assert(o1 != o2, "a regenerated orders file must not serve the old table")
  }
}
