package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned fact layout + dynamic partition pruning (DPP): the
  * standard warehouse layout for an append-only event table — one
  * directory per day — and the runtime optimization that makes joins
  * against it cheap.
  *
  * Static pruning handles literal predicates (`WHERE event_date =
  * '2024-01-07'` never opens the other directories). DPP handles the case
  * literals can't: the qualifying dates are only known at RUNTIME, as the
  * output of another subquery (here: "days whose purchase revenue clears
  * a threshold"). Spark plans the dimension side first, broadcasts it,
  * and injects its join keys as a `DynamicPruningExpression` into the
  * fact scan's PARTITION filters — so a 100 TB / 3-year event table
  * joined against 6 qualifying days reads 6 directories, not 1095.
  * `DppSpec` asserts the executed plan carries the dynamic pruning
  * filter on the scan and that the pruned result equals the unpruned
  * computation; the registered query `dpp_daily_revenue` hash-checks the
  * semantics against DuckDB on the raw (unpartitioned) parquet.
  *
  * The partitioned copy is a [[Materialize]] store — write once, prune
  * forever.
  */
object DatePartitioned {

  /** Ensure a date-partitioned copy of the events table exists; returns
    * its path. Rows carry the second-truncated `ts` (the registry's
    * determinism contract), an integer `cents`, and the partition column
    * `event_date` derived from `ts` in UTC.
    */
  def eventsByDate(spark: SparkSession, dir: String): String =
    Materialize.stored(spark, "events_by_date", Seq(s"$dir/events.parquet")) { p =>
      graft.source.Tables.events(spark, dir)
        .withColumn("ts", date_trunc("second", col("ts")))
        .withColumn("event_date", to_date(col("ts")))
        // one file per (day) directory: the realistic compacted layout
        .repartition(col("event_date"))
        .write.partitionBy("event_date").parquet(p)
    }

  /** Per-day purchase revenue in integer cents over the partitioned copy
    * — the dimension-side aggregate both DPP entry points derive their
    * qualifying-day set from.
    */
  private def dailyPurchaseCents(fact: DataFrame): DataFrame =
    fact.where(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(col("event_date"))
      .agg(sum(round(col("value") * 100).cast("long")).as("purchase_cents"))

  /** The DPP join itself: fact scan joined to the qualifying-day set on
    * the PARTITION column; one row per qualifying day with its event
    * count and total value. `bigDays` is broadcast, so the optimizer
    * reuses the broadcast as the fact scan's dynamic partition filter.
    */
  private def joinOnBigDays(fact: DataFrame, bigDays: DataFrame): DataFrame =
    fact.join(broadcast(bigDays), Seq("event_date"))
      .groupBy(col("event_date"), col("purchase_cents"))
      .agg(count(lit(1)).as("n_events"),
        sum(coalesce(round(col("value") * 100).cast("long"), lit(0L)))
          .as("total_cents"))
      .select(col("event_date").cast("string").as("event_date"),
        col("purchase_cents"), col("n_events"), col("total_cents"))
      .orderBy(col("event_date"))

  /** Qualifying days by explicit threshold — the spec's entry point (a
    * planted fixture makes the pruning fraction sharp and assertable).
    */
  def dailyRevenueForBigDays(spark: SparkSession, dir: String,
                             minDailyCents: Long): DataFrame = {
    val fact = spark.read.parquet(eventsByDate(spark, dir))
    joinOnBigDays(fact,
      dailyPurchaseCents(fact).where(col("purchase_cents") >= minDailyCents))
  }

  /** Qualifying days by a RUNTIME threshold (strictly above the average
    * daily purchase revenue) — the registered query's entry point: no
    * literal anywhere, so partition pruning can only happen dynamically.
    * The average is one IEEE division of exact BIGINTs, so the
    * qualifying-day set is engine-independent and the result
    * oracle-checkable.
    */
  def dailyRevenueAboveAverageDays(spark: SparkSession, dir: String): DataFrame = {
    val fact = spark.read.parquet(eventsByDate(spark, dir))
    val daily = dailyPurchaseCents(fact)
    val thr = daily.agg(avg(col("purchase_cents")).as("thr"))
    joinOnBigDays(fact,
      daily.crossJoin(broadcast(thr)).where(col("purchase_cents") > col("thr"))
        .select(col("event_date"), col("purchase_cents")))
  }
}
