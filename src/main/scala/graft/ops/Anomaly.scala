package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Rolling z-score anomaly detection over a keyed count series — the
  * "real-time anomaly detection" the reference README claims
  * (/root/reference/README.md:123-124) but never implements (its
  * dashboard is an empty file). Implemented batch/stream-agnostic over a
  * pre-aggregated (key, time-bucket, count) series: a point is anomalous
  * when it deviates from the trailing window's mean by more than `k`
  * standard deviations.
  *
  * The flag is computed WITHOUT floating point: with n = baseline size,
  * s = Σx, ss = Σx², the test |x − s/n| > k·σ is equivalent to
  *
  *   (n·x − s)² > k² · (n·ss − s²)
  *
  * (both sides are the n²-scaled squares: (n·x−s)² = n²(x−mean)² and
  * n·ss − s² = n²·σ²)
  *
  * — all integer arithmetic, carried in DECIMAL(38,0) so it neither
  * overflows at per-minute counts far beyond 10⁹ nor depends on either
  * engine's libm (`sqrt`/`stddev` never run). A zero-variance baseline
  * flags ANY deviation, which is the right semantics for a flat-lining
  * counter. The baseline frame is the previous `lookback` OBSERVED
  * buckets (rows, not wall-time — absent minutes don't dilute σ), and
  * nothing is flagged until `minBaseline` observations exist.
  *
  * Scale shape: the input is the per-bucket aggregate (three orders of
  * magnitude smaller than the raw events; that groupBy is the only
  * full-data shuffle), and the window partitions by series key, so a
  * 1000-executor run sorts each key's day of minutes — thousands of
  * rows — per task. No driver-side state, no UDFs, stays in codegen.
  */
object Anomaly {

  /** Flag rows of `counts` whose `valueCol` deviates from the trailing
    * `lookback`-row mean by more than `k` standard deviations. Emits the
    * input columns plus the baseline size `n_base` and baseline sum
    * `s_base` (the evidence a triage UI needs).
    */
  def zScoreFlags(counts: DataFrame, keyCol: String, timeCol: String,
                  valueCol: String, lookback: Int = 30, minBaseline: Int = 10,
                  k: Int = 3): DataFrame = {
    require(lookback >= minBaseline && minBaseline >= 2 && k >= 1)
    require(!counts.columns.exists(_.equalsIgnoreCase("__v2")),
      "zScoreFlags input must not have a `__v2` column (its scratch column)")
    val w = Window.partitionBy(keyCol).orderBy(timeCol).rowsBetween(-lookback, -1)
    def dec(c: Column): Column = c.cast(DecimalType(38, 0))
    counts
      // project x² FIRST so all three aggregates share ONE Window exec:
      // sum over the derived decimal product made ExtractWindowExpressions
      // split a second Window node (a whole extra pass over the series)
      // when the product rode inside the window expression
      .withColumn("__v2", dec(col(valueCol)) * dec(col(valueCol)))
      .withColumn("n_base", count(lit(1)).over(w))
      .withColumn("s_base", sum(col(valueCol)).over(w))
      .withColumn("ss_base", sum(col("__v2")).over(w))
      .drop("__v2")
      .filter(col("n_base") >= minBaseline)
      .filter {
        val n = dec(col("n_base"))
        val s = dec(col("s_base"))
        val x = dec(col(valueCol))
        val dev = n * x - s
        dev * dev > lit(k * k) * (n * col("ss_base") - s * s)
      }
      .drop("ss_base")
  }

  /** One input bucket of the streaming form: a (series key, bucket time,
    * count) row, normally the output of an upstream windowed count.
    */
  final case class Bucket(key: String, t: java.sql.Timestamp, cnt: Long)

  /** A flagged bucket with its baseline evidence — same columns the batch
    * form emits.
    */
  final case class Flag(key: String, t: java.sql.Timestamp, cnt: Long,
                        n_base: Long, s_base: Long)

  /** Per-key trailing buffer: the last `lookback` (epochMs, cnt) buckets
    * in event-time order.
    */
  final case class RingState(buf: List[(Long, Long)])

  /** The ONLINE twin of [[zScoreFlags]] — the reference README's claim is
    * "real-time anomaly detection", so the detector must run against an
    * unbounded stream, not just the batch table. Consumes an in-order
    * stream of per-bucket counts (key, t, cnt), keeps a bounded ring of
    * the trailing `lookback` buckets per key in `GroupState`, and emits a
    * [[Flag]] the moment an arriving bucket violates the same all-integer
    * inequality the batch form decides (BigInt here ≡ DECIMAL(38,0)
    * there, so batch and stream agree bit-for-bit — spec-pinned).
    *
    * State is bounded at `lookback` longs per key (a few hundred bytes);
    * idle keys are the only growth vector, so production deployments with
    * unbounded key churn should wrap this with a timeout eviction — for
    * per-event-type/per-page series the key domain is small and fixed.
    * Within a micro-batch, a key's buckets are processed in event-time
    * order, making the result independent of micro-batch boundaries.
    */
  def zScoreFlagsStream(buckets: Dataset[Bucket], lookback: Int = 30,
                        minBaseline: Int = 10, k: Int = 3): Dataset[Flag] = {
    require(lookback >= minBaseline && minBaseline >= 2 && k >= 1)
    import buckets.sparkSession.implicits._
    buckets.groupByKey(_.key)
      .flatMapGroupsWithState[RingState, Flag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[RingState]) =>
          var buf = state.getOption.map(_.buf).getOrElse(Nil)
          val out = List.newBuilder[Flag]
          rows.toSeq.sortBy(_.t.getTime).foreach { b =>
            val n = buf.length
            if (n >= minBaseline) {
              val s = buf.iterator.map(v => BigInt(v._2)).sum
              val ss = buf.iterator.map(v => BigInt(v._2) * v._2).sum
              val dev = BigInt(n) * b.cnt - s
              if (dev * dev > BigInt(k * k) * (BigInt(n) * ss - s * s))
                out += Flag(key, b.t, b.cnt, n.toLong, s.toLong)
            }
            buf = (buf :+ ((b.t.getTime, b.cnt))).takeRight(lookback)
          }
          state.update(RingState(buf))
          out.result().iterator
      }
  }
}
