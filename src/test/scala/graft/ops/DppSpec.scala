package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dynamic partition pruning over the date-partitioned events layout
  * (ops.DatePartitioned): the qualifying-day set exists only at runtime,
  * so pruning must come from the joined dimension — the plan's fact scan
  * must carry a `dynamicpruning` partition filter, and the result must
  * equal the same computation on the raw unpartitioned table.
  */
class DppSpec extends SparkSpec {
  import spark.implicits._

  /** Plan-inspecting tests run with AQE off: `AdaptiveSparkPlanExec` is a
    * leaf node to `collect*` traversals, so scans inside it are invisible
    * to plan asserts. DPP itself predates AQE and fires either way.
    */
  private def withoutAqe[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("partitioned events copy round-trips the raw table") {
    val raw = graft.source.Tables.events(spark, sfDir)
      .withColumn("ts", date_trunc("second", col("ts")))
    val part = spark.read.parquet(DatePartitioned.eventsByDate(spark, sfDir))
    assert(part.count() == raw.count())
    // partition column is derived, everything else byte-identical
    val rawAgg = raw.agg(sum(unix_timestamp(col("ts"))), sum(round(col("value") * 100)),
      countDistinct(col("event_id"))).collect()(0)
    val partAgg = part.agg(sum(unix_timestamp(col("ts"))), sum(round(col("value") * 100)),
      countDistinct(col("event_id"))).collect()(0)
    assert(rawAgg == partAgg)
    assert(part.select(col("event_date")).distinct().count() >= 2,
      "fixture should span multiple day partitions")
  }

  test("DPP join: dynamic pruning filter on the fact scan, pruned result exact") { withoutAqe {
    val result = DatePartitioned.dailyRevenueAboveAverageDays(spark, sfDir)

    // reference: identical computation, raw table, no partitioning
    val e = graft.source.Tables.events(spark, sfDir)
      .withColumn("event_date", to_date(date_trunc("second", col("ts"))))
    val daily = e.where(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(col("event_date"))
      .agg(sum(round(col("value") * 100).cast("long")).as("purchase_cents"))
    val thr = daily.agg(avg(col("purchase_cents")).as("thr"))
    val big = daily.crossJoin(thr).where(col("purchase_cents") > col("thr"))
    val expected = e.join(big.select("event_date", "purchase_cents"), Seq("event_date"))
      .groupBy(col("event_date"), col("purchase_cents"))
      .agg(count(lit(1)).as("n_events"),
        sum(coalesce(round(col("value") * 100).cast("long"), lit(0L))).as("total_cents"))
      .select(col("event_date").cast("string"), col("purchase_cents"),
        col("n_events"), col("total_cents"))

    val got = result.collect().map(_.toSeq).toSet
    val exp = expected.collect().map(_.toSeq).toSet
    assert(got == exp && got.nonEmpty)

    // the fact side of the join must be scanned under a runtime partition
    // filter: some FileSourceScan carries a dynamicpruning expression in
    // its PartitionFilters
    val scans = result.queryExecution.executedPlan.collectWithSubqueries {
      case s: FileSourceScanExec => s
    }
    val dppScans = scans.filter(_.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning")))
    assert(dppScans.nonEmpty,
      s"no scan carries a dynamic pruning partition filter:\n${result.queryExecution.executedPlan}")
  } }

  test("DPP prunes: a sharp threshold reads fewer partitions than the table has") { withoutAqe {
    // planted series: 6 days, exactly one day dominating purchase revenue
    val dir = Files.createTempDirectory("graft-dpp").toString
    val rows = (0 until 6).flatMap { d =>
      val day = f"2024-03-${d + 1}%02d"
      // every day has cheap purchases; day 4 has the whale
      Seq((s"e${d}a", 100L + d, "purchase", s"$day 10:00:00",
            if (d == 3) 9999.0 else 1.0),
          (s"e${d}b", 200L + d, "view", s"$day 11:00:00", 0.0))
    }
    rows.toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").parquet(s"$dir/part")

    val fact = spark.read.parquet(s"$dir/part")
    val bigDays = fact.where(col("event_type") === "purchase")
      .groupBy(col("event_date"))
      .agg(sum(round(col("value") * 100).cast("long")).as("purchase_cents"))
      .where(col("purchase_cents") >= 10000L)
    val joined = fact.join(broadcast(bigDays), Seq("event_date"))
      .groupBy(col("event_date")).agg(count(lit(1)).as("n"))
    val out = joined.collect()
    assert(out.length == 1 && out(0).getLong(1) == 2) // whale day only, both its events

    val scans = joined.queryExecution.executedPlan.collectWithSubqueries {
      case s: FileSourceScanExec => s
    }
    val factScan = scans.find(_.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning"))).getOrElse(
      fail(s"no dynamically pruned scan:\n${joined.queryExecution.executedPlan}"))
    // after execution the scan's metrics carry the partitions actually read
    val read = factScan.metrics.get("numPartitions").map(_.value)
    assert(read.contains(1L),
      s"dynamic pruning should read exactly the whale-day partition, read=$read")
  } }

  test("a changed events input maps to a fresh partitioned store") {
    val dir = Files.createTempDirectory("graft-dpp-stale")
    val events = dir.resolve("events.parquet")
    Files.copy(java.nio.file.Paths.get(sfDir, "events.parquet"), events)
    val first = DatePartitioned.eventsByDate(spark, dir.toString)
    assert(events.toFile.setLastModified(events.toFile.lastModified() + 73000))
    val second = DatePartitioned.eventsByDate(spark, dir.toString)
    assert(first != second, "a regenerated events file must not serve the old store")
    assert(spark.read.parquet(second).count() ==
      graft.source.Tables.events(spark, sfDir).count())
  }
}
