package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.source.Tables

/** The batch analytics layer (SURVEY.md §7.2 M1/M4): the reference's four
  * pipeline semantics re-expressed over the driver's `events` table, plus
  * the relational query layer (joins / sorts / top-k / window functions /
  * set ops / rollup) that the reference's intended dashboard implies.
  *
  * Scale discipline, applied throughout:
  *  - aggregations rely on partial (map-side) aggregation — grouping keys
  *    are low-cardinality, so shuffles carry aggregated rows only;
  *  - dimension tables (region, nation, part, supplier) are broadcast
  *    explicitly; fact-to-fact joins shuffle on the join key and are left
  *    to AQE (skew handling, partition coalescing);
  *  - filters sit directly on the scan so they push into parquet
  *    (`PushedFilters`), and only referenced columns are read.
  */
object Analytics {

  // ---- oracle-determinism helpers (see Registry.scala contract) ----
  /** Exact decimal view of a 2-dp double measure (order-independent sums). */
  private def dec(c: Column): Column = c.cast("decimal(12,2)")
  /** Exact decimal sum surfaced as double — bit-identical to DuckDB's. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")
  private def sec(c: Column): Column = date_trunc("second", c)
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Row-group-aware scan spread for the profile queries — the decision
    * logic, measurements and guards live in [[graft.ops.ScanSpread]]
    * (shared with the kernel-heavy text/embedding pipelines, which use
    * the lower kernel floor).
    */
  private def spreadSmallSplits(s: SparkSession, df: DataFrame): DataFrame =
    graft.ops.ScanSpread.spread(s, df)

  /** DuckDB oracle for `ev_pagerank`: the same integer recurrence as
    * `ops.Graph.pageRank`, unrolled into one CTE per power iteration
    * (standard SQL forbids aggregation in a recursive CTE's recursive
    * term). `//` is DuckDB's integral division; all operands are
    * non-negative, so it agrees with Spark's `div`. */
  private def pageRankOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""pr$k AS (SELECT n.node,
         CAST(150000 + COALESCE(SUM((p.rank * 85 * e.n) // (100 * o.outw)), 0) AS BIGINT) AS rank
         FROM nodes n
         LEFT JOIN e ON e.dst = n.node
         LEFT JOIN pr${k - 1} p ON p.node = e.src
         LEFT JOIN o ON o.src = e.src
         GROUP BY n.node)"""
    }.mkString(",\n       ")
    s"""WITH t AS (SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         FROM events),
       e AS (SELECT src, dst, COUNT(*) AS n FROM t WHERE dst IS NOT NULL GROUP BY src, dst),
       nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       o AS (SELECT src, CAST(SUM(n) AS BIGINT) AS outw FROM e GROUP BY src),
       pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       $steps
       SELECT node, rank FROM pr$iters ORDER BY node"""
  }

  /** The rebuilt JSON wire for `ev_ingest_quarantine`: each event renders
    * to an explicit-concat JSON line (integers + strings only — both
    * engines render them identically; `to_json` would hand field order
    * and float formatting to the engine), and every event_id ≡ 0 (mod 7)
    * line is truncated 5 characters — always syntactically fatal, since
    * the line ends in a quoted string field. This construction is the
    * ONLY seam between the engine and the DuckDB oracle (which replays
    * the identical `||` rendering): `QuarantineWireSpec` pins it
    * byte-identical against an independent plain-JVM rendering, so a
    * rendering drift can never silently flip the driver row again.
    */
  def quarantineWire(s: SparkSession, dir: String): DataFrame = {
    val line = concat(
      lit("{\"event_id\":"), col("event_id").cast("string"),
      lit(",\"user_id\":"), col("user_id").cast("string"),
      lit(",\"t\":\""), col("event_type"), lit("\"}"))
    Tables.events(s, dir)
      .select(col("event_id"), line.as("line"))
      .select(when(col("event_id") % 7 === 0,
          expr("substring(line, 1, length(line) - 5)"))
        .otherwise(col("line")).as("value"))
  }

  /** Deterministic versioned snapshots of the customer dimension for the
    * SCD2 queries: full load, then a segment change for every 10th key,
    * then a balance bump for every 20th. Balances ride as DECIMAL(12,2)
    * so the +100 and all comparisons are exact in both engines.
    */
  private def scd2Snapshots(s: SparkSession, dir: String): Seq[DataFrame] = {
    val c = t(s, dir, "customer")
    val bal = col("c_acctbal").cast("decimal(12,2)")
    Seq(
      c.select(col("c_custkey"), col("c_mktsegment").as("segment"),
        bal.as("bal"), to_timestamp(lit("2024-01-01")).as("eff")),
      c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("MACHINERY").as("segment"),
          bal.as("bal"), to_timestamp(lit("2024-02-01")).as("eff")),
      c.filter(col("c_custkey") % 20 === 0)
        .select(col("c_custkey"), lit("MACHINERY").as("segment"),
          (bal + lit(100)).cast("decimal(12,2)").as("bal"),
          to_timestamp(lit("2024-03-01")).as("eff")))
  }

  private val scd2OracleSql =
    """WITH v0 AS (SELECT c_custkey, c_mktsegment AS segment,
         CAST(c_acctbal AS DECIMAL(12,2)) AS bal, TIMESTAMP '2024-01-01' AS eff FROM customer),
       v1 AS (SELECT c_custkey, 'MACHINERY' AS segment,
         CAST(c_acctbal AS DECIMAL(12,2)) AS bal, TIMESTAMP '2024-02-01' AS eff
         FROM customer WHERE c_custkey % 10 = 0),
       v2 AS (SELECT c_custkey, 'MACHINERY' AS segment,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100 AS DECIMAL(12,2)) AS bal,
         TIMESTAMP '2024-03-01' AS eff FROM customer WHERE c_custkey % 20 = 0),
       snaps AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2),
       flagged AS (SELECT *,
         LAG(eff) OVER w IS NULL AS first_row,
         (LAG(segment) OVER w IS NOT DISTINCT FROM segment)
           AND (LAG(bal) OVER w IS NOT DISTINCT FROM bal) AS noop
         FROM snaps WINDOW w AS (PARTITION BY c_custkey ORDER BY eff, segment, bal)),
       kept AS (SELECT c_custkey, segment, bal, eff FROM flagged WHERE first_row OR NOT noop)
       SELECT c_custkey, segment, CAST(bal AS DOUBLE) AS bal, eff AS valid_from,
         LEAD(eff) OVER w2 AS valid_to,
         LEAD(eff) OVER w2 IS NULL AS is_current
       FROM kept WINDOW w2 AS (PARTITION BY c_custkey ORDER BY eff, segment, bal)
       ORDER BY c_custkey, valid_from"""

  /** DuckDB oracle for `ev_lpa_communities`: the identical synchronous
    * label-propagation recurrence (greatest incident label weight, min-
    * label tie-break), one CTE trio per round — same unrolling idiom as
    * [[pageRankOracle]].
    */
  private def lpaOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""sc$k AS (SELECT e.src, l.label, CAST(SUM(e.w) AS BIGINT) AS wsum
         FROM e JOIN lab${k - 1} l ON l.node = e.dst GROUP BY e.src, l.label),
         pk$k AS (SELECT src AS node, label FROM (
           SELECT src, label,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY wsum DESC, label) AS rn
           FROM sc$k) WHERE rn = 1),
         lab$k AS (SELECT n.node, COALESCE(p.label, n.node) AS label
         FROM nodes n LEFT JOIN pk$k p ON p.node = n.node)"""
    }.mkString(",\n       ")
    s"""WITH t AS (SELECT user_id,
         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS src,
         LEAD(CAST(json_extract_string(props, '$$.k') AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         FROM events),
       d AS (SELECT src, dst, COUNT(*) AS w FROM t
         WHERE dst IS NOT NULL AND src <> dst GROUP BY src, dst),
       e AS (SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
         SELECT src, dst, w FROM d
         UNION ALL SELECT dst AS src, src AS dst, w FROM d) u GROUP BY src, dst),
       nodes AS (SELECT DISTINCT src AS node FROM e),
       lab0 AS (SELECT node, node AS label FROM nodes),
       $steps
       SELECT node, label FROM lab$iters ORDER BY node"""
  }

  /** Oracle for `ev_hilbert_pruning`: quantization CTEs as in
    * [[zorderOracleSql]], then the 16 Hilbert xy2d rounds unrolled by
    * [[graft.ops.Layout.hilbertOracleSteps]] — DuckDB replays the native
    * kernel's exact integer recurrence.
    */
  private val hilbertOracleSql =
    s"""WITH e AS (SELECT user_id,
         CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS es FROM events),
       b AS (SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi,
                    MIN(es) AS tlo, MAX(es) AS thi FROM e),
       q AS (SELECT ((user_id - ulo) * 65536) // (uhi - ulo + 1) AS zx,
                    ((es - tlo) * 65536) // (thi - tlo + 1) AS zy
             FROM e CROSS JOIN b),
       ${graft.ops.Layout.hilbertOracleSteps("q", Seq.empty)},
       z AS (SELECT zx, zy, hd >> 26 AS hfile FROM hilbert)
       SELECT COUNT(DISTINCT hfile) AS h_files_total,
              COUNT(CASE WHEN zx < 8192 THEN 1 END) AS user_rows,
              COUNT(CASE WHEN zy < 8192 THEN 1 END) AS time_rows,
              COUNT(DISTINCT CASE WHEN zx < 8192 THEN hfile END) AS h_files_user,
              COUNT(DISTINCT CASE WHEN zy < 8192 THEN hfile END) AS h_files_time
       FROM z"""

  /** Oracle for `ev_zorder_pruning` — the same 16-bit quantization, mask-
    * chain Morton interleave, and bit-prefix file ids, in DuckDB integer
    * arithmetic (`//` is exact floor division; all operands non-negative).
    */
  private val zorderOracleSql =
    """WITH e AS (SELECT user_id,
         CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS es FROM events),
       b AS (SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi,
                    MIN(es) AS tlo, MAX(es) AS thi FROM e),
       q AS (SELECT ((user_id - ulo) * 65536) // (uhi - ulo + 1) AS zx,
                    ((es - tlo) * 65536) // (thi - tlo + 1) AS zy
             FROM e CROSS JOIN b),
       s1 AS (SELECT zx, zy,
         ((zx & 65535) | ((zx & 65535) << 8)) & 16711935 AS px,
         ((zy & 65535) | ((zy & 65535) << 8)) & 16711935 AS py FROM q),
       s2 AS (SELECT zx, zy, ((px | (px << 4)) & 252645135) AS qx,
                             ((py | (py << 4)) & 252645135) AS qy FROM s1),
       s3 AS (SELECT zx, zy, ((qx | (qx << 2)) & 858993459) AS rx,
                             ((qy | (qy << 2)) & 858993459) AS ry FROM s2),
       s4 AS (SELECT zx, zy, ((rx | (rx << 1)) & 1431655765) AS sx,
                             ((ry | (ry << 1)) & 1431655765) AS sy FROM s3),
       z AS (SELECT zx, zy, (sx | (sy << 1)) >> 26 AS zfile, zy >> 10 AS lfile FROM s4)
       SELECT COUNT(DISTINCT zfile) AS z_files_total,
              COUNT(DISTINCT lfile) AS l_files_total,
              COUNT(CASE WHEN zx < 8192 THEN 1 END) AS user_rows,
              COUNT(CASE WHEN zy < 8192 THEN 1 END) AS time_rows,
              COUNT(DISTINCT CASE WHEN zx < 8192 THEN zfile END) AS z_files_user,
              COUNT(DISTINCT CASE WHEN zx < 8192 THEN lfile END) AS l_files_user,
              COUNT(DISTINCT CASE WHEN zy < 8192 THEN zfile END) AS z_files_time,
              COUNT(DISTINCT CASE WHEN zy < 8192 THEN lfile END) AS l_files_time
       FROM z"""

  val all: Seq[Q] = Seq(

    // ================= relational layer (TPC-H-ish) =================

    Q("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) *
            (lit(1) - col("l_discount").cast("decimal(4,2)")).cast("decimal(5,2)"))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    Q("q3_top_orders",
      """SELECT o_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS revenue,
         o_orderdate
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate > TIMESTAMP '1998-06-01'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""") { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1998-06-01")))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1998-06-01")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) *
            (lit(1) - col("l_discount").cast("decimal(4,2)")).cast("decimal(5,2)"))
          .cast("double").as("revenue"))
        .select(col("o_orderkey"), col("revenue"), col("o_orderdate"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    },

    Q("q4_returned_priority",
      """SELECT o_orderpriority, COUNT(*) AS n
         FROM orders WHERE EXISTS (SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
      // EXISTS as a left-semi join: no duplication of the probe side and
      // the build side is pre-filtered + deduplicated before the shuffle.
      t(s, dir, "orders")
        .join(
          t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
            .select(col("l_orderkey")).distinct(),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    Q("bloom_semi_revenue",
      """SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         GROUP BY l_suppkey ORDER BY l_suppkey""") { (s, dir) =>
      // Explicit Bloom-prefiltered semi join (ops.BloomJoin): the fact side
      // sheds non-matching rows at the SCAN (codegen'd probe, ~20% + 1% fpp
      // survive here) before any exchange, so the verify join's shuffle
      // carries a fifth of lineitem. Exact by construction — the oracle is
      // the plain IN subquery.
      graft.ops.BloomJoin.semiJoin(
          t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          "o_orderkey")
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_extendedprice")) *
            (lit(1) - col("l_discount").cast("decimal(4,2)")).cast("decimal(5,2)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("l_suppkey"))
    },

    Q("ev_lpa_communities", lpaOracleSql(4)) { (s, dir) =>
      // Community detection over the page-like `props.k` navigation graph
      // (100 nodes at every sf): synchronous weighted label propagation,
      // 4 rounds, deterministic min-label tie-break (ops.Graph). The
      // iterative stage runs on the checkpointed aggregated edge list —
      // corpus-size-independent, like ev_pagerank. On this fixture the
      // transition graph is near-complete and uniform, so all nodes
      // rightly converge to one community — GraphSpec's weak-bridge
      // cliques prove the separation behavior on structured graphs.
      val evK = Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      val edges = graft.ops.Graph.transitionCounts(evK, "k")
        .where(col("src") =!= col("dst"))
        .withColumnRenamed("n", "w")
      graft.ops.Graph.labelPropagation(edges, 4).orderBy(col("node"))
    },

    Q("ev_zorder_pruning", zorderOracleSql) { (s, dir) =>
      // Z-order layout vs time-major layout, measured on real data in ONE
      // scan (ops.Layout): quantize (user, time) to a 16-bit grid, Morton-
      // interleave, file id = bit prefix (64 files each way). The
      // conditional aggregates report how many files a user-slice and a
      // time-slice predicate touch under each layout — the file-skipping
      // argument for z-ordering a 100 TB table, as an oracle-checked
      // integer computation (no shuffle besides the 1-row bounds agg).
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_timestamp(col("ts")).as("es"))
      val bounds = ev.agg(
        min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi"),
        min(col("es")).as("tlo"), max(col("es")).as("thi"))
      val filed = ev.crossJoin(broadcast(bounds))
        .withColumn("zx", graft.ops.Layout.quantize16(col("user_id"), col("ulo"), col("uhi")))
        .withColumn("zy", graft.ops.Layout.quantize16(col("es"), col("tlo"), col("thi")))
        .withColumn("zfile",
          graft.ops.Layout.zfile(graft.ops.Layout.zvalue16(col("zx"), col("zy")), 3))
        .withColumn("lfile", graft.ops.Layout.linearFile(col("zy"), 3))
      val userSlice = col("zx") < 8192
      val timeSlice = col("zy") < 8192
      filed.agg(
        countDistinct(col("zfile")).as("z_files_total"),
        countDistinct(col("lfile")).as("l_files_total"),
        count(when(userSlice, 1)).as("user_rows"),
        count(when(timeSlice, 1)).as("time_rows"),
        countDistinct(when(userSlice, col("zfile"))).as("z_files_user"),
        countDistinct(when(userSlice, col("lfile"))).as("l_files_user"),
        countDistinct(when(timeSlice, col("zfile"))).as("z_files_time"),
        countDistinct(when(timeSlice, col("lfile"))).as("l_files_time"))
    },

    Q("ev_gap_filled_hourly",
      """WITH obs AS (SELECT user_id,
           CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) // 3600 AS h,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       b AS (SELECT MIN(h) AS slo, MAX(h) AS shi FROM obs),
       grid AS (SELECT user_id, unnest(range(slo, shi + 1)) AS h
         FROM (SELECT DISTINCT user_id FROM obs) CROSS JOIN b),
       j AS (SELECT g.user_id, g.h, o.cents FROM grid g
         LEFT JOIN obs o ON o.user_id = g.user_id AND o.h = g.h),
       w AS (SELECT user_id, h, cents,
           LAST_VALUE(cents IGNORE NULLS) OVER wb AS vp,
           LAST_VALUE(CASE WHEN cents IS NOT NULL THEN h END IGNORE NULLS) OVER wb AS tp,
           FIRST_VALUE(cents IGNORE NULLS) OVER wa AS vn,
           FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN h END IGNORE NULLS) OVER wa AS tn
         FROM j WINDOW
           wb AS (PARTITION BY user_id ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wa AS (PARTITION BY user_id ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
       f AS (SELECT user_id,
           CASE WHEN cents IS NOT NULL THEN cents
                WHEN vp IS NOT NULL AND vn IS NOT NULL
                  THEN vp + ((vn - vp) * (h - tp)) // (tn - tp)
                ELSE COALESCE(vp, vn) END AS filled,
           CASE WHEN cents IS NOT NULL THEN 'observed'
                WHEN vp IS NOT NULL AND vn IS NOT NULL THEN 'interp'
                ELSE 'edge' END AS src
         FROM w)
       SELECT user_id, COUNT(*) AS n_slots,
         COUNT(CASE WHEN src = 'observed' THEN 1 END) AS n_observed,
         COUNT(CASE WHEN src = 'interp' THEN 1 END) AS n_interp,
         COUNT(CASE WHEN src = 'edge' THEN 1 END) AS n_edge,
         CAST(SUM(filled) AS BIGINT) AS total_cents
       FROM f GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      // Dense hourly regularization of the per-user purchase-value series
      // (ops.GapFill): linear interpolation in integer cents between the
      // nearest observed hours, truncating div (Spark `div` ≡ DuckDB `//`),
      // constant extrapolation at edges. Reported as per-user fill stats so
      // the output stays |users|-sized while the oracle checks every slot
      // through the aggregate (n_slots/n_interp/total_cents would all shift
      // if any filled value differed).
      val observed = Tables.events(s, dir)
        .where(col("value").isNotNull)
        .withColumn("h", expr("unix_timestamp(ts) div 3600"))
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .groupBy(col("user_id"), col("h"))
        .agg(sum(col("cents")).as("cents"))
      graft.ops.GapFill.fill(observed, "user_id", "h", "cents")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_slots"),
          count(when(col("src") === "observed", 1)).as("n_observed"),
          count(when(col("src") === "interp", 1)).as("n_interp"),
          count(when(col("src") === "edge", 1)).as("n_edge"),
          sum(col("filled")).as("total_cents"))
        .orderBy(col("user_id"))
    },

    Q("ev_hilbert_pruning", hilbertOracleSql) { (s, dir) =>
      // The Hilbert twin of ev_zorder_pruning: same quantized dims, file
      // id = top bits of the curve position computed by the native
      // codegen'd kernel (functions.SpatialExpressions.HilbertIndex).
      // Every file is a contiguous curve segment — a CONNECTED region —
      // so slices touch at most as many files as under z-order (z-cells
      // are split by seam jumps). The oracle unrolls the identical 16
      // xy2d rounds in DuckDB integer arithmetic.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_timestamp(col("ts")).as("es"))
      val bounds = ev.agg(
        min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi"),
        min(col("es")).as("tlo"), max(col("es")).as("thi"))
      val filed = ev.crossJoin(broadcast(bounds))
        .withColumn("zx", graft.ops.Layout.quantize16(col("user_id"), col("ulo"), col("uhi")))
        .withColumn("zy", graft.ops.Layout.quantize16(col("es"), col("tlo"), col("thi")))
        .withColumn("hfile",
          graft.ops.Layout.hfile(graft.ops.Layout.hvalue16(col("zx"), col("zy")), 3))
      val userSlice = col("zx") < 8192
      val timeSlice = col("zy") < 8192
      filed.agg(
        countDistinct(col("hfile")).as("h_files_total"),
        count(when(userSlice, 1)).as("user_rows"),
        count(when(timeSlice, 1)).as("time_rows"),
        countDistinct(when(userSlice, col("hfile"))).as("h_files_user"),
        countDistinct(when(timeSlice, col("hfile"))).as("h_files_time"))
    },

    // Bucketed co-located join (ops.Bucketed): orders and lineitem are
    // stored pre-hash-partitioned on the order key, so THIS join plans
    // with zero Exchange on either side — the write-once layout that
    // makes every repeated fact-fact join on a 100 TB warehouse
    // shuffle-free (BucketingSpec asserts the exchange-free plan; the
    // oracle proves the layout is semantics-preserving by recomputing on
    // the raw parquet).
    Q("bucketed_orders_revenue",
      """SELECT o_orderpriority,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
         COUNT(*) AS n_lines,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS revenue
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val (o, l) = graft.ops.Bucketed.ordersLineitem(s, dir)
      s.table(l)
        .select(col("l_orderkey"),
          (dec(col("l_extendedprice")) *
            (lit(1) - col("l_discount").cast("decimal(4,2)")).cast("decimal(5,2)"))
            .as("line_rev"))
        .join(s.table(o).select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_lines"),
          sum(col("line_rev")).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    },

    // Dynamic partition pruning (ops.DatePartitioned): the events table
    // stored one-directory-per-day, joined against a qualifying-day set
    // that only exists at RUNTIME (days strictly above the average daily
    // purchase revenue) — the optimizer injects the broadcast dim's keys
    // into the fact scan's partition filters, so a 3-year table reads
    // only the qualifying directories (DppSpec asserts the dynamic
    // pruning filter and the pruned-partition count; the oracle
    // recomputes on the raw unpartitioned parquet).
    Q("dpp_daily_revenue",
      """WITH e AS (SELECT CAST(CAST(date_trunc('second', ts) AS TIMESTAMP) AS DATE) AS event_date,
             event_type, value FROM events),
         daily AS (SELECT event_date,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS purchase_cents
           FROM e WHERE event_type = 'purchase' AND value IS NOT NULL
           GROUP BY 1),
         big AS (SELECT event_date, purchase_cents FROM daily
           WHERE purchase_cents > (SELECT AVG(purchase_cents) FROM daily))
         SELECT CAST(e.event_date AS VARCHAR) AS event_date,
           b.purchase_cents,
           COUNT(*) AS n_events,
           CAST(SUM(COALESCE(CAST(round(value * 100) AS BIGINT), 0)) AS BIGINT) AS total_cents
         FROM e JOIN big b ON e.event_date = b.event_date
         GROUP BY 1, 2 ORDER BY 1""") { (s, dir) =>
      graft.ops.DatePartitioned.dailyRevenueAboveAverageDays(s, dir)
    },

    Q("cust_scd2_history", scd2OracleSql) { (s, dir) =>
      // Type-2 SCD rebuild (ops.Scd2.fromSnapshots): three deterministic
      // snapshot deliveries of the customer dimension — a segment change
      // for every 10th key (a NO-OP for customers already in MACHINERY,
      // which must collapse) and a balance bump for every 20th. One hash
      // shuffle on the business key serves both window passes.
      val Seq(v0, v1, v2) = scd2Snapshots(s, dir)
      graft.ops.Scd2
        .fromSnapshots(v0.unionByName(v1).unionByName(v2),
          Seq("c_custkey"), "eff", Seq("segment", "bal"))
        .withColumn("bal", col("bal").cast("double"))
        .orderBy(col("c_custkey"), col("valid_from"))
    },

    Q("cust_scd2_incremental", scd2OracleSql) { (s, dir) =>
      // The incremental MERGE path against the same oracle: build history
      // from the first two deliveries, then merge the third as a change
      // batch. Closed rows and untouched keys pass through with no window
      // work (anti-join pass-through); only open rows of the ~5% changed
      // keys are re-collapsed — the shape that keeps a 100 TB dimension's
      // nightly merge proportional to the change batch, not the history.
      val Seq(v0, v1, v2) = scd2Snapshots(s, dir)
      // checkpoint the rebuilt history — merge() reads it three times
      // (untouched-key anti join, closed-row semi, open-row semi) and
      // each read re-ran the full two-delivery window pipeline (20 scans
      // in the before-plan); at warehouse scale history is a persisted
      // table and this is its in-session stand-in
      val history = graft.ops.Scd2.fromSnapshots(v0.unionByName(v1),
        Seq("c_custkey"), "eff", Seq("segment", "bal"))
        .localCheckpoint()
      graft.ops.Scd2
        .merge(history, v2, Seq("c_custkey"), "eff", Seq("segment", "bal"))
        .withColumn("bal", col("bal").cast("double"))
        .orderBy(col("c_custkey"), col("valid_from"))
    },

    Q("q5_region_revenue",
      """SELECT r_name,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_orders
         FROM region JOIN nation ON n_regionkey = r_regionkey
                     JOIN customer ON c_nationkey = n_nationkey
                     JOIN orders ON o_custkey = c_custkey
         GROUP BY r_name ORDER BY r_name""") { (s, dir) =>
      // region/nation are tiny dims → broadcast; orders⨝customer is the
      // only shuffle and it carries pre-projected columns.
      val geo = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name"))
      t(s, dir, "orders").join(geo, col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"))
    },

    Q("q6_revenue_forecast",
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.03 AND l_discount <= 0.08 AND l_quantity < 25""") { (s, dir) =>
      // Pure scan-filter-agg: every predicate pushes into the parquet scan.
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.08 &&
          col("l_quantity") < 25)
        .agg(
          sum(dec(col("l_extendedprice")) * col("l_discount").cast("decimal(4,2)"))
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },

    Q("top_customers",
      """SELECT c_custkey, c_name,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name
         ORDER BY revenue DESC, c_custkey LIMIT 10""") { (s, dir) =>
      // Aggregate the fact table BEFORE joining the dimension: the join
      // then sees one row per customer, not one per order.
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(10)
    },

    Q("order_rank_window",
      """SELECT c, o_orderkey, o_totalprice, rnk FROM (
           SELECT o_custkey AS c, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders) WHERE rnk <= 3 ORDER BY c, rnk""") { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey").as("c"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rnk"))
        .filter(col("rnk") <= 3)
        .orderBy(col("c"), col("rnk"))
    },

    // Ranking-function breadth: dense_rank / percent_rank / cume_dist /
    // ntile in one pass, partitioned by priority (bounded partitions — no
    // global window). The full (price DESC, key) ordering makes every
    // function deterministic; percent_rank and cume_dist are single exact
    // divisions, bit-equal across engines.
    Q("order_value_ranks",
      """SELECT o_orderkey, o_orderpriority,
         CAST(DENSE_RANK() OVER w AS INT) AS dr,
         PERCENT_RANK() OVER w AS pr,
         CUME_DIST() OVER w AS cd,
         CAST(NTILE(10) OVER w AS INT) AS decile
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey)
         ORDER BY o_orderkey""") { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          dense_rank().over(w).as("dr"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(10).over(w).as("decile"))
        .orderBy(col("o_orderkey"))
    },

    Q("rollup_revenue",
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""") { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    Q("cube_order_counts",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""") { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    // GROUPING SETS with grouping() markers — the general form of
    // ROLLUP/CUBE, and the markers are what make aggregate rows
    // distinguishable from rows whose key is genuinely NULL.
    Q("grouping_sets_revenue",
      """SELECT l_returnflag, l_linestatus,
         CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
         CAST(GROUPING(l_linestatus) AS INT) AS g_status,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""") { (s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    Q("quantity_quantiles",
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.25) AS p25,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_quantity, 0.95) AS p95
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      // exact percentiles: both engines use the same (n-1)·q linear
      // interpolation over the sorted values, so results are bit-equal
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.95)).as("p95"))
        .orderBy(col("l_returnflag"))
    },

    Q("customer_intersect",
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         INTERSECT SELECT o_custkey FROM orders
         ORDER BY c_custkey""") { (s, dir) =>
      t(s, dir, "customer").filter(col("c_acctbal") > 5000).select(col("c_custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")))
        .orderBy(col("c_custkey"))
    },

    // EXCEPT set-op (completes the §2.4 set-operation row with INTERSECT):
    // ordering customers outside the BUILDING market segment. (Every
    // synthetic customer has orders, so the complement-of-orderers flavor
    // would be trivially empty.)
    Q("customer_except",
      """SELECT o_custkey AS c_custkey FROM orders
         EXCEPT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         ORDER BY c_custkey""") { (s, dir) =>
      t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
        .except(t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")))
        .orderBy(col("c_custkey"))
    },

    Q("brand_part_stats",
      """SELECT p_brand, COUNT(*) AS n_items,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         COUNT(DISTINCT l_suppkey) AS n_suppliers
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""") { (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("l_suppkey")).as("n_suppliers"))
        .orderBy(col("p_brand"))
    },

    Q("customers_no_recent_orders",
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           AND o_orderdate >= TIMESTAMP '2001-01-01')
         ORDER BY c_custkey""") { (s, dir) =>
      t(s, dir, "customer")
        .join(
          t(s, dir, "orders")
            .filter(col("o_orderdate") >= to_timestamp(lit("2001-01-01"))),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    Q("monthly_revenue_growth",
      """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
           FROM orders GROUP BY 1)
         SELECT m.month, m.revenue, m.revenue - p.revenue AS mom_change
         FROM m LEFT JOIN m p ON p.month = m.month - INTERVAL 1 MONTH
         ORDER BY m.month""") { (s, dir) =>
      // `lag` over an unpartitioned window funnels every row through ONE
      // task (WindowExec warns). Month cardinality is bounded, but the
      // scale-clean formulation is a self-join on the previous CALENDAR
      // month — AQE broadcasts the tiny aggregated side. The oracle uses
      // the same calendar-join semantics (a zero-order month yields NULL
      // change for its successor, where lag would reach further back), so
      // query and oracle agree on any data, gaps included.
      val m = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(dsum(col("o_totalprice")).as("revenue"))
      val prev = m.select(col("month").as("p_month"), col("revenue").as("p_revenue"))
      m.join(prev, col("p_month") === col("month") - expr("INTERVAL 1 MONTH"), "left")
        .select(col("month"), col("revenue"),
          (col("revenue") - col("p_revenue")).as("mom_change"))
        .orderBy(col("month"))
    },

    // Rolling 7-day revenue — the RANGE-frame window surface, expressed
    // scale-clean: an unpartitioned `rangeBetween` window funnels all
    // rows through one task (the monthly_revenue_growth lesson), so the
    // rolling sum is a broadcast non-equi self-join over the DAILY
    // aggregate (one row per day — tiny at any corpus size). Day revenue
    // stays DECIMAL through the window sum (order-independent), cast to
    // double once at the end; both engines agree bit-for-bit.
    Q("ev_rolling_7d_revenue",
      """WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(12,2))) AS rev
           FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT CAST(a.day AS TIMESTAMP) AS day,
           CAST(a.rev AS DOUBLE) AS day_revenue,
           CAST(SUM(b.rev) AS DOUBLE) AS rolling_7d_revenue,
           CAST(COUNT(*) AS BIGINT) AS days_in_window
         FROM daily a JOIN daily b ON b.day BETWEEN a.day - 6 AND a.day
         GROUP BY a.day, a.rev ORDER BY day""") { (s, dir) =>
      val daily = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"))).as("rev"))
      val b = daily.select(col("day").as("b_day"), col("rev").as("b_rev"))
      daily.join(broadcast(b),
          col("b_day").between(date_sub(col("day"), 6), col("day")))
        .groupBy(col("day"), col("rev"))
        .agg(sum(col("b_rev")).cast("double").as("rolling_7d_revenue"),
          count(lit(1)).as("days_in_window"))
        .select(col("day").cast("timestamp").as("day"),
          col("rev").cast("double").as("day_revenue"),
          col("rolling_7d_revenue"), col("days_in_window"))
        .orderBy(col("day"))
    },

    // ============ clickstream semantics over the events table ============
    // (batch twins of ops.Pipelines; same shapes the streaming queries emit)

    // A1 analog: tumbling 1-minute view counts.
    Q("ev_minutely_views",
      """SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
         CAST(date_trunc('minute', ts) + INTERVAL 1 MINUTE AS TIMESTAMP) AS window_end,
         COUNT(*) AS view_count
         FROM events WHERE event_type = 'view'
         GROUP BY 1, 2 ORDER BY 1""") { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "view")
        .groupBy(window(col("ts"), "1 minute"))
        .count()
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("count").as("view_count"))
        .orderBy(col("window_start"))
    },

    // A2 analog: per-user rollup with deterministic CSV of event types.
    Q("ev_user_rollup",
      """SELECT user_id,
         CAST(date_trunc('second', MIN(ts)) AS TIMESTAMP) AS first_seen,
         CAST(date_trunc('second', MAX(ts)) AS TIMESTAMP) AS last_seen,
         COUNT(*) AS event_count,
         array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types
         FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sec(min(col("ts"))).as("first_seen"),
          sec(max(col("ts"))).as("last_seen"),
          count(lit(1)).as("event_count"),
          array_join(sort_array(collect_set(col("event_type"))), ",").as("event_types"))
        .orderBy(col("user_id"))
    },

    // A3 analog: hourly purchase revenue with exact distinct buyers.
    // Small-file compaction round-trip: the events table is first
    // fragmented into 64 files (the streaming-sink shape — one file per
    // trigger × partition), compacted back to ~4 MB files
    // (ops.Compact: ⌈bytes/target⌉ round-robin rewrite), and THEN
    // aggregated. The oracle computes the
    // same aggregate on the RAW table — hash-equality proves the
    // maintenance pass changes layout, never content. File-count and
    // byte accounting are CompactSpec's job.
    Q("ev_compacted_revenue",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val path = graft.ops.Compact.compactedEvents(s, dir)
      s.read.parquet(path)
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("revenue"))
        .orderBy(col("hour"))
    },

    Q("ev_hourly_revenue",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
         COUNT(*) AS purchase_count,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue,
         COUNT(DISTINCT user_id) AS unique_buyers
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1, 2 ORDER BY 1""") { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("purchase_count"),
          dsum(col("value")).as("total_revenue"),
          countDistinct(col("user_id")).as("unique_buyers"))
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("purchase_count"), col("total_revenue"), col("unique_buyers"))
        .orderBy(col("window_start"))
    },

    // A4 analog: hourly stats by a JSON-derived dimension (P2/P6 analog:
    // semi-structured payload field promoted to a grouping key).
    Q("ev_hourly_bucket_stats",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         CAST(json_extract_string(props, '$.k') AS INT) % 3 AS bucket,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS unique_users
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          window(col("ts"), "1 hour"),
          (get_json_object(col("props"), "$.k").cast("int") % 3).as("bucket"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("unique_users"))
        .select(col("window.start").as("window_start"), col("bucket"),
          col("n"), col("unique_users"))
        .orderBy(col("window_start"), col("bucket"))
    },

    // Sliding windows (10-minute windows every 5 minutes): each event lands
    // in two windows. The oracle derives the same window set from 5-minute
    // buckets (starts ∈ {bucket, bucket − 5 min}).
    Q("ev_sliding_views",
      """SELECT window_start,
         CAST(window_start + INTERVAL 10 MINUTE AS TIMESTAMP) AS window_end,
         COUNT(*) AS n FROM (
           SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS window_start
           FROM events WHERE event_type = 'view'
           UNION ALL
           SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) - INTERVAL 5 MINUTE AS TIMESTAMP)
           FROM events WHERE event_type = 'view')
         GROUP BY window_start ORDER BY window_start""") { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "view")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .count()
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"), col("count").as("n"))
        .orderBy(col("window_start"))
    },

    // Leakage-aware train/valid/test split: the GROUP-level assignment a
    // training pipeline needs — all events of a user land in one split
    // (the split is a deterministic function of user_id alone, so
    // user-level disjointness is structural, reproducible across runs
    // and engines, and needs no coordination at any scale). 80/10/10 by
    // the same md5 bucket doc_hash_sample uses; per split: event count,
    // distinct users, distinct event types (all-integer measures).
    Q("ev_user_split",
      """SELECT split, COUNT(*) AS n_events,
         COUNT(DISTINCT user_id) AS n_users,
         COUNT(DISTINCT event_type) AS n_types
         FROM (SELECT user_id, event_type,
           CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid'
                ELSE 'test' END AS split
           FROM (SELECT user_id, event_type,
             list_reduce(list_transform(range(8),
                 i -> CAST(strpos('0123456789abcdef',
                   substr(md5(CAST(user_id AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 10 AS b
             FROM events))
         GROUP BY split ORDER BY split""") { (s, dir) =>
      val b = graft.text.Text.hashModBucket(col("user_id"))
      Tables.events(s, dir)
        .withColumn("split",
          when(b < 8, "train").when(b === 8, "valid").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy(col("split"))
    },

    // One-scan data profiling — the audit every ingest runs before
    // trusting a table: per-column non-null and exact distinct counts.
    // Spark plans the six COUNT(DISTINCT)s as ONE expand + two-stage
    // aggregate over a single scan (no per-column re-read); the 1×12
    // aggregate row is then unpivoted with stack(). Timestamps are
    // second-truncated on both engines (ns vs µs precision differs);
    // doubles are counted on their exact parquet bit patterns.
    Q("ev_profile",
      """SELECT * FROM (
         SELECT 'event_id' AS col_name, COUNT(event_id) AS n_nonnull,
           COUNT(DISTINCT event_id) AS n_distinct FROM events
         UNION ALL SELECT 'ts', COUNT(ts),
           COUNT(DISTINCT date_trunc('second', ts)) FROM events
         UNION ALL SELECT 'user_id', COUNT(user_id),
           COUNT(DISTINCT user_id) FROM events
         UNION ALL SELECT 'event_type', COUNT(event_type),
           COUNT(DISTINCT event_type) FROM events
         UNION ALL SELECT 'value', COUNT(value),
           COUNT(DISTINCT value) FROM events
         UNION ALL SELECT 'props', COUNT(props),
           COUNT(DISTINCT props) FROM events)
         ORDER BY col_name""") { (s, dir) =>
      val agg = spreadSmallSplits(s, Tables.events(s, dir)).agg(
        count(col("event_id")).as("nn1"), countDistinct(col("event_id")).as("nd1"),
        count(col("ts")).as("nn2"),
        countDistinct(date_trunc("second", col("ts"))).as("nd2"),
        count(col("user_id")).as("nn3"), countDistinct(col("user_id")).as("nd3"),
        count(col("event_type")).as("nn4"), countDistinct(col("event_type")).as("nd4"),
        count(col("value")).as("nn5"), countDistinct(col("value")).as("nd5"),
        count(col("props")).as("nn6"), countDistinct(col("props")).as("nd6"))
      agg.select(expr(
          """stack(6,
            'event_id', nn1, nd1, 'ts', nn2, nd2, 'user_id', nn3, nd3,
            'event_type', nn4, nd4, 'value', nn5, nd5, 'props', nn6, nd6)
            AS (col_name, n_nonnull, n_distinct)"""))
        .orderBy(col("col_name"))
    },

    // A5 analog / top-k: event type popularity.
    Q("ev_top_types",
      """SELECT event_type, COUNT(*) AS n FROM events
         GROUP BY event_type ORDER BY n DESC, event_type""") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type"))
    },

    // Ingest-robustness at the decode boundary: the reference's stream
    // decode (stream_processor.py:120-126) silently nulls malformed
    // frames; production ingest needs them QUARANTINED and counted.
    // The fixture carries no malformed JSON, so the wire is rebuilt
    // in-query: each event serializes to an explicit-concat JSON line
    // (integers + strings only — both engines render them identically;
    // to_json would hand field order and float formatting to the
    // engine), and every event_id ≡ 0 (mod 7) line is truncated 5 bytes
    // — always syntactically fatal, since the line ends in a quoted
    // string field. `decodeJsonQuarantine` must route EXACTLY those to
    // the quarantine bucket; parsed buckets prove real field extraction
    // by summing an extracted BIGINT.
    //
    // The oracle deliberately contains NO JSON function: an earlier
    // try_cast(line AS JSON) form went driver-red two rounds running
    // because DuckDB's JSON-cast validation of *malformed* input is
    // version-sensitive (the three valid-input json_* oracles all
    // pass), while the engine output itself matched under DuckDB 1.0.0
    // (VERDICT r8 "What's wrong" #1). The corruption is structural —
    // event_id ≡ 0 (mod 7) ⟺ truncated ⟺ unparseable — so the oracle
    // derives bucket and sum arithmetically from that invariant; the
    // engine must still reach the same answer through a real
    // from_json parse of the corrupted wire.
    //
    // The final SUM is CAST to BIGINT: DuckDB types COALESCE(SUM(x),0)
    // as HUGEINT, which exports over Arrow as decimal128(38,0) while
    // the engine column is int64 — identical values, type-sensitive
    // hash mismatch (VERDICT r9 "What's wrong" #1). Every oracle's
    // final projection must be cast to a concrete Arrow-stable type;
    // tools/oracle_type_lint.py enforces this registry-wide.
    Q("ev_ingest_quarantine",
      """SELECT CASE WHEN event_id % 7 = 0 THEN '_quarantine'
             ELSE event_type END AS bucket,
           COUNT(*) AS n,
           CAST(COALESCE(SUM(CASE WHEN event_id % 7 = 0 THEN NULL
             ELSE event_id END), 0) AS BIGINT) AS sum_event_id
         FROM events GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      graft.source.ClickstreamSource
        .decodeJsonQuarantine(quarantineWire(s, dir),
          org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, t STRING"))
        .groupBy(when(col("is_corrupt"), lit("_quarantine"))
          .otherwise(col("data.t")).as("bucket"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("data.event_id")), lit(0L)).as("sum_event_id"))
        .orderBy(col("bucket"))
    },

    // Equi-depth discretization (feature binning): global deciles of the
    // event value — bin boundaries adapt to the distribution, so each
    // bin carries the same row mass (what quantile-based featurization
    // and histogram equalization need; equi-WIDTH bins would put most
    // of an Exp-shaped value column in one bucket). Bin assignment is
    // rank arithmetic, not NTILE (whose remainder-distribution rule
    // differs by engine): decile = (rank−1)·10 div N over the total
    // order (value, event_id). The engine ranks through GlobalRank
    // (range-partitioned two-pass — never a partitionless window) with
    // N from a 1-row broadcast; the oracle windows directly. Per-bin
    // sums ride the DECIMAL path — hash-exact.
    Q("ev_value_deciles",
      """WITH r AS (SELECT value,
           ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
           COUNT(*) OVER () AS n FROM events)
         SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
           COUNT(*) AS n_rows, MIN(value) AS lo, MAX(value) AS hi,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM r GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      // N comes from the rank pass's own offset table (driver-side, free)
      // instead of a second aggregation over the ranked frame plus a
      // 1-row broadcast join
      val (ranked, nTotal) = graft.ops.GlobalRank.withGlobalRowNumberCounted(
        Tables.events(s, dir).select(col("value"), col("event_id")),
        Seq(col("value"), col("event_id")), out = "rn")
      ranked
        .select(expr(s"(rn - 1) * 10 div ${nTotal}L").as("decile"), col("value"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_rows"), min(col("value")).as("lo"),
          max(col("value")).as("hi"), dsum(col("value")).as("total"))
        .orderBy(col("decile"))
    },

    // The skew-salted aggregation path, registered against the PLAIN
    // aggregation as its oracle: event_type has cardinality 5 over the
    // whole table — the textbook heavy-key shape where one reducer
    // receives n/5 rows. Salting fans each hot key across 32 sub-keys for
    // the partial aggregate (balanced big shuffle), then merges 5·32 tiny
    // partials. Hash-equality with the oracle proves the salt+merge
    // decomposition is exact, not just spec-plausible: counts add, and
    // the decimal-path sums are order-independent.
    Q("ev_salted_type_stats",
      """SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      graft.ops.Skew.saltedAgg(Tables.events(s, dir), Seq("event_type"),
          saltBuckets = 32)(
          Seq(count(lit(1)).as("pn"),
            sum(dec(col("value"))).as("ps")),
          Seq(sum(col("pn")).as("n"),
            sum(col("ps")).cast("double").as("total_value")))
        .orderBy(col("event_type"))
    },

    // CDC changelog apply (Delta MERGE / Hudi upsert / Flink changelog
    // compaction semantics): events re-read as a change feed keyed by
    // user_id — every event is an upsert of the user's last-seen state,
    // an 'error' event is a tombstone — and compacted to the final
    // snapshot by last-writer-wins on (ts, event_id). ONE keyed shuffle:
    // max_by combines map-side (one row per key per map task), where the
    // oracle's window formulation would shuffle-and-sort the full feed;
    // the tombstone filter runs on the ≤|keys| winners, so a user whose
    // LAST change is a delete is absent even though earlier versions
    // exist (no resurrection). Carried values only — no float arithmetic,
    // every column hash-checks raw.
    Q("ev_cdc_apply",
      """SELECT user_id, event_type AS last_type, value AS last_value,
         ts AS last_ts
         FROM (SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""") { (s, dir) =>
      graft.ops.Cdc.applyChangelog(Tables.events(s, dir),
          keys = Seq("user_id"), ordering = Seq("ts", "event_id"),
          isDelete = col("event_type") === "error")
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_value"), col("ts").as("last_ts"))
        .orderBy(col("user_id"))
    },

    // Incremental CDC fold — the day-2 shape of the row above: the
    // standing side compacts once (tombstones RETAINED — dropping them
    // would let a late older update resurrect a deleted key), the new
    // batch (every 3rd event) folds in via one keyed shuffle of
    // |state|+|batch| rows, and only then does the snapshot filter drop
    // tombstone winners. max_by is associative over the union, so the
    // fold is EXACTLY the full-log result — the oracle recomputes from
    // scratch and hash-equality proves it.
    Q("ev_cdc_incremental",
      """SELECT user_id, event_type AS last_type, value AS last_value,
         ts AS last_ts
         FROM (SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""") { (s, dir) =>
      val ev = Tables.events(s, dir)
      val standing = graft.ops.Cdc.compactedLog(
        ev.filter(col("event_id") % 3 =!= 0),
        keys = Seq("user_id"), ordering = Seq("ts", "event_id"))
      graft.ops.Cdc.mergeCompacted(standing,
          ev.filter(col("event_id") % 3 === 0),
          keys = Seq("user_id"), ordering = Seq("ts", "event_id"))
        .filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_value"), col("ts").as("last_ts"))
        .orderBy(col("user_id"))
    },

    // The STATIONARY-STATE form of the fold above: the standing
    // compacted log lives as a BUCKETED table on the key (the layout a
    // 100 TB state table keeps), the batch compacts alone (the only
    // keyed shuffle, |batch|-sized), and the full-outer winner join
    // reads the state exchange-free off its bucketed layout — CdcSpec
    // asserts the state side of the executed join carries no Exchange.
    // Same oracle as ev_cdc_incremental: the two fold forms are
    // algebraically identical, and hash-equality proves the stationary
    // rewrite (struct-compare winner, ties keep standing) is exact.
    Q("ev_cdc_bucketed_incremental",
      """SELECT user_id, event_type AS last_type, value AS last_value,
         ts AS last_ts
         FROM (SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""") { (s, dir) =>
      val ev = Tables.events(s, dir)
      val stateTable = graft.ops.Bucketed.ensure(s, "cdc_state_user",
        "user_id", nBuckets = 8, Seq(s"$dir/events.parquet"))(
        graft.ops.Cdc.compactedLog(ev.filter(col("event_id") % 3 =!= 0),
          keys = Seq("user_id"), ordering = Seq("ts", "event_id")))
      graft.ops.Cdc.mergeCompactedStationary(s.table(stateTable),
          ev.filter(col("event_id") % 3 === 0),
          keys = Seq("user_id"), ordering = Seq("ts", "event_id"))
        .filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_value"), col("ts").as("last_ts"))
        .orderBy(col("user_id"))
    },

    // CDC tombstone vacuum — the retention GC the two rows above defer
    // to (Kafka delete.retention.ms semantics). Keys are (user, day):
    // with user-only keys every winner sits at the end of the month and
    // the GC would pass vacuously; per-day keys spread winners across
    // the whole range, so the standing compacted log (every non-3rd
    // event) really drops hundreds of EXPIRED tombstones (error-winners
    // older than Jan 20, the feed's lateness bound — 428 at sf0.01)
    // before folding a strictly post-bound batch (every 3rd event
    // at-or-after the bound). Oracle = the same snapshot recomputed from
    // the equivalent UNvacuumed log, so hash-equality proves the GC
    // changes nothing a post-bound fold can observe: a batch row for a
    // vacuumed key carries ordering ≥ bound > the tombstone's and wins
    // either way, and a vacuumed key with no batch row is absent from
    // both (the snapshot filter drops tombstone winners regardless).
    // Retained (post-bound) tombstones still block resurrection —
    // CdcSpec pins that half, plus fold-invariance on synthetic feeds.
    Q("ev_cdc_vacuum",
      """WITH ev AS (SELECT *, CAST(ts AS DATE) AS day FROM events),
         log AS (SELECT * FROM ev
           WHERE event_id % 3 <> 0
              OR ts >= TIMESTAMP '2024-01-20 00:00:00')
         SELECT user_id, day, event_type AS last_type,
           value AS last_value, ts AS last_ts
         FROM (SELECT user_id, day, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, day
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM log)
         WHERE rn = 1 AND event_type <> 'error'
         ORDER BY user_id, day""") { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
      val bound = lit("2024-01-20 00:00:00").cast("timestamp")
      val standing = graft.ops.Cdc.compactedLog(
        ev.filter(col("event_id") % 3 =!= 0),
        keys = Seq("user_id", "day"), ordering = Seq("ts", "event_id"))
      val vacuumed = graft.ops.Cdc.vacuumTombstones(standing,
        isDelete = col("event_type") === "error",
        expired = col("ts") < bound)
      graft.ops.Cdc.mergeCompacted(vacuumed,
          ev.filter((col("event_id") % 3 === 0) && col("ts") >= bound),
          keys = Seq("user_id", "day"), ordering = Seq("ts", "event_id"))
        .filter(col("event_type") =!= "error")
        .select(col("user_id"), col("day"),
          col("event_type").as("last_type"),
          col("value").as("last_value"), col("ts").as("last_ts"))
        .orderBy(col("user_id"), col("day"))
    },

    // PIVOT: per-user event-type counts as columns. The pivot value list
    // is explicit — with an inferred list Spark would run an extra
    // distinct job AND the output schema would depend on the data.
    Q("ev_type_pivot",
      """SELECT user_id,
         CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
         CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase
         FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))
    },

    // UNPIVOT (melt): the inverse reshape — wide per-user type counts back
    // to long (user_id, event_type, n) form, dropping zero cells to mirror
    // the sparse long form. Oracle: stacked UNION ALL of FILTERed counts.
    Q("ev_type_unpivot",
      """WITH w AS (SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase
           FROM events GROUP BY user_id)
         SELECT user_id, event_type, CAST(n AS BIGINT) AS n FROM (
           SELECT user_id, 'view' AS event_type, view AS n FROM w
           UNION ALL SELECT user_id, 'click', click FROM w
           UNION ALL SELECT user_id, 'purchase', purchase FROM w)
         WHERE n > 0 ORDER BY user_id, event_type""") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("view", "click", "purchase"))
        .unpivot(Array(col("user_id")),
          Array(col("view"), col("click"), col("purchase")),
          "event_type", "n")
        .filter(col("n") > 0)
        .orderBy(col("user_id"), col("event_type"))
    },

    // Calendar profile: day-of-week × hour-of-day activity heatmap (the
    // dashboard staple). Spark's dayofweek is 1-based Sunday-first;
    // DuckDB's is 0-based — the oracle shifts by one.
    Q("ev_dow_hour_profile",
      """SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hod,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS unique_users
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("unique_users"))
        .orderBy(col("dow"), col("hod"))
    },

    // Funnel: view → click → purchase (conditional aggregation, two levels).
    Q("ev_funnel",
      """WITH u AS (SELECT user_id,
           MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
           FROM events GROUP BY user_id)
         SELECT CAST(SUM(v) AS BIGINT) AS users_view,
                CAST(SUM(v * c) AS BIGINT) AS users_view_click,
                CAST(SUM(v * c * p) AS BIGINT) AS users_view_click_purchase
         FROM u""") { (s, dir) =>
      val flag = (et: String) =>
        max(when(col("event_type") === et, 1).otherwise(0))
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(flag("view").as("v"), flag("click").as("c"), flag("purchase").as("p"))
        .agg(
          sum(col("v")).as("users_view"),
          sum(col("v") * col("c")).as("users_view_click"),
          sum(col("v") * col("c") * col("p")).as("users_view_click_purchase"))
    },

    // ORDERED funnel: view THEN click THEN purchase in chronological
    // order (ev_funnel counts mere co-occurrence). Each stage keeps the
    // earliest qualifying time; the next stage requires strictly later
    // events — three small aggregations, each shuffling one row per user.
    Q("ev_ordered_funnel",
      """WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         t2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
           JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t1
           WHERE e.event_type = 'click' GROUP BY e.user_id),
         t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
           JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t2
           WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT (SELECT COUNT(*) FROM t1) AS stage_view,
                (SELECT COUNT(*) FROM t2) AS stage_view_click,
                (SELECT COUNT(*) FROM t3) AS stage_view_click_purchase""") { (s, dir) =>
      val ev = Tables.events(s, dir)
      // each stage frame (one row per user) feeds BOTH the next stage's
      // gate join and its own count — checkpointed, or t1's scan+agg
      // subtree re-runs inside t2, t3 and all three counts (12 parquet
      // scans in the before-plan; 3 scans is this funnel's honest floor)
      def stage(et: String, prev: Option[DataFrame]): DataFrame = {
        val base = ev.filter(col("event_type") === et)
        val gated = prev match {
          case Some(p) => base.join(p, "user_id").filter(col("ts") > col("t"))
          case None    => base
        }
        gated.groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
          .select(col("user_id"), col("t2").as("t"))
      }
      val t1 = stage("view", None).localCheckpoint()
      val t2 = stage("click", Some(t1)).localCheckpoint()
      val t3 = stage("purchase", Some(t2)) // single consumer — no ckpt
      t1.agg(count(lit(1)).as("stage_view"))
        .crossJoin(t2.agg(count(lit(1)).as("stage_view_click")))
        .crossJoin(t3.agg(count(lit(1)).as("stage_view_click_purchase")))
    },

    // Weekly cohort retention: users grouped by first-seen week; how many
    // were active again the following week.
    Q("ev_weekly_retention",
      """WITH cohort AS (SELECT user_id,
           CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
           FROM events GROUP BY user_id),
         activity AS (SELECT DISTINCT user_id,
           CAST(date_trunc('week', ts) AS TIMESTAMP) AS week FROM events)
         SELECT c.cohort_week, COUNT(DISTINCT c.user_id) AS n_users,
           COUNT(DISTINCT a.user_id) AS n_retained_next_week
         FROM cohort c LEFT JOIN activity a
           ON a.user_id = c.user_id
           AND a.week = c.cohort_week + INTERVAL 7 DAY
         GROUP BY c.cohort_week ORDER BY c.cohort_week""") { (s, dir) =>
      val ev = Tables.events(s, dir)
      // disambiguate the self-derived sides by renaming before the join
      val cohort = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val activity = ev
        .select(col("user_id").as("a_user"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      cohort
        .join(activity,
          col("a_user") === col("user_id") &&
            col("week") === col("cohort_week") + expr("INTERVAL 7 DAY"),
          "left")
        .groupBy(col("cohort_week"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("a_user")).as("n_retained_next_week"))
        .orderBy(col("cohort_week"))
    },

    // User journeys: first five events per user, in event-time order.
    Q("ev_journeys",
      """WITH r AS (SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events)
         SELECT user_id, COUNT(*) AS n_events,
           string_agg(event_type, ',' ORDER BY rn) AS journey
         FROM r WHERE rn <= 5 GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 5)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_join(
            transform(sort_array(collect_list(struct(col("rn"), col("event_type")))),
              _.getField("event_type")), ",").as("journey"))
        .orderBy(col("user_id"))
    },

    // Batch sessionization: split a user's events at >30-minute gaps
    // (the batch analog of session_window; see Pipelines.sessionsWindowed).
    Q("ev_sessionized",
      """WITH g AS (SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (SELECT user_id, ts,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_idx
           FROM g)
         SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
           CAST(date_trunc('second', MIN(ts)) AS TIMESTAMP) AS sess_start,
           CAST(date_trunc('second', MAX(ts)) AS TIMESTAMP) AS sess_end,
           COUNT(*) AS n_events
         FROM sess GROUP BY user_id, sess_idx ORDER BY user_id, sess_idx""") { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(lag(col("ts"), 1).over(w).isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))) > 1800, 1)
            .otherwise(0).as("brk"))
        .select(col("user_id"), col("ts"),
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("sess_idx"))
        .groupBy(col("user_id"), col("sess_idx"))
        .agg(sec(min(col("ts"))).as("sess_start"), sec(max(col("ts"))).as("sess_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sess_idx"), col("sess_start"), col("sess_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_idx"))
    },

    // The session_window OPERATOR itself (Pipelines.sessionsWindowed —
    // the *correct* streaming session formulation, whose state drops at
    // the watermark; SURVEY.md §7.4.2), driven in batch mode over the
    // driver events table with user_id as the session key and a
    // 30-minute gap. Boundary semantics pinned EMPIRICALLY, not from
    // the docs: Spark's session merge treats the window end as CLOSED —
    // an event at exactly prev.ts + gap still merges (the sf0.1 fixture
    // has exactly one such truncated gap, and the engine merges it) —
    // so the island break is diff > gap, the same rule ev_sessionized
    // uses. Timestamps are second-truncated BEFORE windowing on both
    // sides: session_window
    // compares exact microseconds, while SQL date_diff('second') counts
    // second-boundary crossings — on the micros-resolution fixtures the
    // two disagree for gaps inside (gap−1s, gap+1s), which sf0.1's
    // event density actually hits (caught by the round-8 full sf0.1
    // comparator sweep; sf0.01 was green by luck of the gaps). This
    // gives the production operator its own driver row instead of only
    // the reference-faithful groupBy(session_id) rollup.
    Q("ev_session_windows",
      """WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts, event_id
           FROM events),
         g AS (SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (SELECT user_id, ts,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_idx
           FROM g)
         SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           COUNT(*) AS event_count
         FROM sess GROUP BY user_id, sess_idx
         ORDER BY user_id, session_start""") { (s, dir) =>
      graft.ops.Pipelines.sessionsWindowed(
          Tables.events(s, dir).select(
            col("user_id").as("session_id"), col("user_id"),
            sec(col("ts")).as("timestamp")),
          gap = "30 minutes")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("event_count"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Interval × interval overlap join: which user sessions overlap the
    // daily maintenance windows (one 2-hour window per fixture day at a
    // deterministic day-of-month-derived hour — both engines generate
    // the identical windows from the data's own calendar). The
    // inequality pair would plan as a nested loop; the engine quantizes
    // both interval sets into 2-hour cells, equi-joins on the cell, and
    // keeps each pair only at its overlap's FIRST cell — exact, no
    // distinct shuffle (ops.RangeJoin.intervalOverlapJoin). All bounds
    // are epoch-second BIGINTs of second-truncated timestamps, so the
    // overlap arithmetic is integer-exact in both engines; the oracle
    // is the plain inequality join.
    Q("ev_session_window_overlap",
      """WITH g AS (SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s0 AS (SELECT user_id, ts,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_idx
           FROM g),
         sess AS (SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
           CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS ls,
           CAST(epoch(date_trunc('second', MAX(ts))) AS BIGINT) AS le
           FROM s0 GROUP BY user_id, sess_idx),
         wins AS (SELECT CAST(wday AS TIMESTAMP) AS window_day,
           CAST(epoch(wday) AS BIGINT)
             + (EXTRACT(day FROM wday) % 12 + 6) * 3600 AS ws
           FROM (SELECT DISTINCT date_trunc('day', ts) AS wday FROM events))
         SELECT s.user_id, s.sess_idx, w.window_day,
           CAST(LEAST(s.le, w.ws + 7200) - GREATEST(s.ls, w.ws) AS BIGINT)
             AS overlap_sec
         FROM sess s JOIN wins w ON s.ls <= w.ws + 7200 AND w.ws <= s.le
         ORDER BY s.user_id, s.sess_idx, w.window_day""") { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(lag(col("ts"), 1).over(w).isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))) > 1800, 1)
            .otherwise(0).as("brk"))
        .select(col("user_id"), col("ts"),
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("sess_idx"))
        .groupBy(col("user_id"), col("sess_idx"))
        .agg(unix_timestamp(sec(min(col("ts")))).as("ls"),
          unix_timestamp(sec(max(col("ts")))).as("le"))
      val wins = Tables.events(s, dir)
        .select(date_trunc("DAY", col("ts")).as("window_day")).distinct()
        .select(col("window_day"),
          (unix_timestamp(col("window_day")) +
            (dayofmonth(col("window_day")) % 12 + 6).cast("long") * 3600L).as("ws"))
        .withColumn("we", col("ws") + 7200L)
      graft.ops.RangeJoin.intervalOverlapJoin(sess, wins,
          lStart = "ls", lEnd = "le", rStart = "ws", rEnd = "we", cellSec = 7200L)
        .select(col("user_id"), col("sess_idx"), col("window_day"),
          (least(col("le"), col("we")) - greatest(col("ls"), col("ws")))
            .as("overlap_sec"))
        .orderBy(col("user_id"), col("sess_idx"), col("window_day"))
    },

    // As-of join: attribute each purchase to the user's latest prior view
    // (point-in-time lookup; oracle uses DuckDB's native ASOF JOIN).
    Q("ev_purchase_attribution",
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
         CAST(date_trunc('second', v.ts) AS TIMESTAMP) AS view_ts
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id AND v.ts <= p.ts
         ORDER BY purchase_id""") { (s, dir) =>
      val ev = Tables.events(s, dir)
      graft.ops.AsOf.lastPriorJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "view"),
          by = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightPayloadCols = Seq("event_id", "ts"))
        .select(col("event_id").as("purchase_id"),
          col("asof.event_id").as("view_id"),
          sec(col("asof.ts")).as("view_ts"))
        .orderBy(col("purchase_id"))
    },

    // Range join: events within one hour after each purchase, same user
    // (bucketized equi-join implementation — see ops.RangeJoin; oracle is
    // the plain inequality join).
    Q("ev_post_purchase_activity",
      """SELECT p.event_id AS purchase_id, COUNT(e.event_id) AS n_following
         FROM events p LEFT JOIN events e
           ON e.user_id = p.user_id AND e.ts > p.ts
           AND e.ts <= p.ts + INTERVAL 1 HOUR
         WHERE p.event_type = 'purchase'
         GROUP BY p.event_id ORDER BY purchase_id""") { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val pairs = graft.ops.RangeJoin.timeRangeJoin(
        purchases, ev, by = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        windowSec = 3600L, leftCols = Seq("event_id"), rightCols = Seq("event_id"))
      val counts = pairs.groupBy(col("l_event_id"))
        .agg(count(lit(1)).as("n_following"))
      purchases
        .join(counts, purchases("event_id") === counts("l_event_id"), "left")
        .select(col("event_id").as("purchase_id"),
          coalesce(col("n_following"), lit(0L)).as("n_following"))
        .orderBy(col("purchase_id"))
    },

    // Exact streaming-dedup analog: distinct (user_id, event_type) pairs.
    Q("ev_dedup_pairs",
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""") { (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .orderBy(col("user_id"), col("event_type"))
    },

    // Rolling z-score anomaly detection over the per-minute count series —
    // the capability the reference README claims (README.md:123-124) but
    // never implements. The flag is the integer inequality
    // (n·x − s)² > 9·(n·ss − s²) carried in DECIMAL(38,0)/HUGEINT, so
    // both engines decide it exactly (no stddev/sqrt, no libm); see
    // ops.Anomaly. Baseline = previous 30 observed minutes per type,
    // warmup 10.
    Q("ev_anomalies",
      """WITH c AS (SELECT event_type,
           CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
           COUNT(*) AS cnt FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, window_start, cnt,
           COUNT(*) OVER win AS n_base,
           CAST(SUM(cnt) OVER win AS BIGINT) AS s_base,
           SUM(CAST(cnt AS HUGEINT) * cnt) OVER win AS ss_base
           FROM c
           WINDOW win AS (PARTITION BY event_type ORDER BY window_start
             ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING))
         SELECT event_type, window_start, cnt, n_base, s_base FROM w
         WHERE n_base >= 10 AND
           (CAST(n_base AS HUGEINT) * cnt - s_base)
             * (CAST(n_base AS HUGEINT) * cnt - s_base)
             > 9 * (n_base * ss_base - CAST(s_base AS HUGEINT) * s_base)
         ORDER BY event_type, window_start""") { (s, dir) =>
      val counts = Tables.events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("minute", col("ts")).as("window_start"))
        .agg(count(lit(1)).as("cnt"))
      graft.ops.Anomaly
        .zScoreFlags(counts, "event_type", "window_start", "cnt",
          lookback = 30, minBaseline = 10, k = 3)
        .select(col("event_type"), col("window_start"), col("cnt"),
          col("n_base"), col("s_base"))
        .orderBy(col("event_type"), col("window_start"))
    },

    // User-journey transition graph: directed counts between consecutive
    // event types of each user (the Markov-chain edge list behind the
    // README's promised journey dashboard). One partition-local window
    // pass per user — no self-join — then a map-side-combined count over
    // ≤ |V|² keys, so the shuffle carries aggregated rows only.
    Q("ev_transition_counts",
      """WITH t AS (SELECT event_type AS src,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
           FROM events)
         SELECT src, dst, COUNT(*) AS n FROM t WHERE dst IS NOT NULL
         GROUP BY src, dst ORDER BY src, dst""") { (s, dir) =>
      graft.ops.Graph.transitionCounts(Tables.events(s, dir))
        .orderBy(col("src"), col("dst"))
    },

    // Deterministic integer PageRank over that transition graph: 10
    // damped power iterations carried entirely in BIGINTs (scale 10⁶,
    // damping 85/100, floored edge contributions — ops.Graph.pageRank
    // defines the exact recurrence). Float PageRank would sum
    // contributions in partition order and never hash-match; the integer
    // fixed point is engine-independent. The oracle unrolls the identical
    // recurrence as one chained CTE per iteration (recursive CTEs
    // disallow aggregation in the recursive term).
    Q("ev_pagerank", pageRankOracle(10)) { (s, dir) =>
      graft.ops.Graph.pageRank(
        graft.ops.Graph.transitionCounts(Tables.events(s, dir)), iters = 10)
        .orderBy(col("node"))
    },

    // Misra–Gries heavy hitters over users — the frequency-sketch
    // companion to ev_hll_users: one bounded-state merge-combined pass,
    // the only shape "top keys" can take once the key domain outgrows a
    // reducer hash table. Estimates are merge-order-dependent (like HLL)
    // → rows-only check; SketchesSpec proves the deterministic guarantee
    // est ∈ [f − N/(k+1), f] against exact counts under adversarial
    // partitionings.
    Q.unchecked("ev_heavy_hitters") { (s, dir) =>
      graft.ops.Sketches.heavyHitters(
        Tables.events(s, dir), "user_id", k = 64, topN = 20)
    },

    // The SAME Misra–Gries path in its provably-exact regime: when the
    // key domain is ≤ k, no counter is ever evicted — reduce never
    // decrements (buffer holds < k keys) and merge never subtracts the
    // (k+1)-th count (union ≤ domain ≤ k) — so est_count collapses to
    // the exact frequency at EVERY scale, independent of merge order.
    // Key = user_id mod 32 (a cohort-bucket domain, bounded by
    // construction, not by the fixture) with k = 64. This turns the
    // sketch machinery itself — aggregator, shuffle merge, bound
    // arithmetic — into an oracle-checkable surface; the unbounded-domain
    // config above keeps the rows-only guarantee check.
    Q("ev_heavy_hitters_exact",
      """WITH c AS (SELECT user_id % 32 AS key,
           CAST(COUNT(*) AS BIGINT) AS est_count FROM events GROUP BY 1),
         n AS (SELECT CAST(COUNT(*) // 65 AS BIGINT) AS max_underestimate
           FROM events)
         SELECT key, est_count, max_underestimate FROM c CROSS JOIN n
         ORDER BY est_count DESC, key LIMIT 20""") { (s, dir) =>
      graft.ops.Sketches.heavyHitters(
        Tables.events(s, dir).select((col("user_id") % 32).as("uid_bucket")),
        "uid_bucket", k = 64, topN = 20)
    },

    // Greenwald–Khanna quantile sketch per event type — the third
    // mergeable sketch beside ev_hll_users (distinct) and
    // ev_heavy_hitters (frequency): bounded-state percentiles for when a
    // per-group sort is off the table. Summary contents depend on merge
    // order (like HLL) → rows-only; SketchesSpec proves the rank-error
    // guarantee |true_rank − p·N| ≤ N/accuracy against exactly sorted
    // data under adversarial partitionings. The EXACT percentile surface
    // is oracle-checked separately (quantity_quantiles).
    Q.unchecked("ev_value_quantile_sketch") { (s, dir) =>
      graft.ops.Sketches.quantileSketch(
        Tables.events(s, dir).filter(col("value").isNotNull),
        "event_type", "value", ps = Seq(0.5, 0.9, 0.99), accuracy = 1000)
        .orderBy(col("event_type"), col("p"))
    },

    // The SAME Greenwald–Khanna path in its provably-exact regime (the
    // ev_heavy_hitters_exact pattern, third leg): accuracy ≥ N makes
    // the rank-error bound N/accuracy < 1, which pins the returned
    // element to EXACTLY rank ⌈p·n⌉ (1-based over the group's sorted
    // values) independent of partitioning or merge order — verified by
    // probe across all (group, p) on the fixture, and both engines
    // compute ⌈p·n⌉ on the identical IEEE product. The summary
    // machinery (per-partition compress, shuffle merge, query rule)
    // is thereby oracle-checked to equality; the bounded-accuracy
    // config above keeps the rows-only guarantee check.
    Q("ev_quantile_sketch_exactmode",
      """WITH e AS (SELECT event_type, value FROM events
           WHERE value IS NOT NULL),
         r AS (SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n FROM e),
         p(p) AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE))
         SELECT event_type, p, value AS approx_value,
           CAST(CEIL(CAST(n AS DOUBLE) / 10000000) AS BIGINT) AS max_rank_err
         FROM r CROSS JOIN p
         WHERE rn = CAST(CEIL(p * n) AS BIGINT)
         ORDER BY event_type, p""") { (s, dir) =>
      graft.ops.Sketches.quantileSketch(
        Tables.events(s, dir).filter(col("value").isNotNull),
        "event_type", "value", ps = Seq(0.5, 0.9, 0.99), accuracy = 10000000)
        .orderBy(col("event_type"), col("p"))
    },

    // Count-Min point-frequency sketch — the fourth mergeable sketch, and
    // the only one whose registered query is FULLY oracle-checked: CMS
    // counters are pure sums (merge = commutative matrix addition), so
    // the sketch state is partition-order-invariant and DuckDB can replay
    // the hash family to reproduce the identical matrix. The matrix is a
    // plain groupBy((d, bucket)).count() — map-side combine caps the
    // shuffle at d·w rows per task regardless of key cardinality, which
    // is what a frequency lookup has to cost when the key domain outgrows
    // a reducer hash table. Probes: the top-50 users by exact count
    // (deterministic tiebreak), each estimate an overestimate ≥ exact.
    Q("ev_cms_user_counts", {
      val hash = "((pa.a * (p.user_id % 2147483647) + pa.b) % 2147483647) % 2048"
      s"""WITH params(d, a, b) AS (VALUES
           (0, CAST(1103515245 AS BIGINT), CAST(12345 AS BIGINT)),
           (1, CAST(69069 AS BIGINT), CAST(362437 AS BIGINT)),
           (2, CAST(134775813 AS BIGINT), CAST(1 AS BIGINT)),
           (3, CAST(214013 AS BIGINT), CAST(2531011 AS BIGINT))),
         counters AS (
           SELECT d, ((a * (user_id % 2147483647) + b) % 2147483647) % 2048 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM events CROSS JOIN params GROUP BY 1, 2),
         probes AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
           FROM events GROUP BY 1
           ORDER BY exact_cnt DESC, user_id LIMIT 50)
         SELECT p.user_id, p.exact_cnt, CAST(MIN(c.c) AS BIGINT) AS cms_est
         FROM probes p CROSS JOIN params pa
         JOIN counters c ON c.d = pa.d AND c.bucket = $hash
         GROUP BY 1, 2 ORDER BY exact_cnt DESC, user_id"""
    }) { (s, dir) =>
      val events = Tables.events(s, dir)
      val counters = graft.ops.Sketches.Cms.counters(events, "user_id", width = 2048)
      val probes = events.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id")).limit(50)
      graft.ops.Sketches.Cms.estimate(counters, probes, "user_id", width = 2048)
        .orderBy(col("exact_cnt").desc, col("user_id"))
    },

    // A6: HLL++ distinct (the reference's approx_count_distinct) — estimate
    // values are engine-specific, so no SQL oracle; the ScalaTest spec
    // checks the estimates against exact counts within the configured rsd.
    Q.unchecked("ev_hll_users") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy(col("event_type"))
    },

    // Sketch set algebra: pairwise audience overlap between event types
    // by HLL inclusion-exclusion — est(A∩B) = est(A)+est(B)−est(A∪B) —
    // with the exact intersection beside it. The union sketch is built by
    // declarative expansion (each event joins the other types, ≤|T|−1
    // copies; |T| is the tiny type domain), so no sketch objects cross
    // the API and everything stays one codegen'd plan. Estimates are
    // engine-specific → rows-only; SketchesSpec bounds the
    // inclusion-exclusion error against exact counts.
    Q.unchecked("ev_hll_overlap") { (s, dir) =>
      graft.ops.Sketches.hllOverlap(
        Tables.events(s, dir), "event_type", "user_id")
        .orderBy(col("a"), col("b"))
    },

    // The exact half of the overlap row above, split out as its own
    // oracle-checked surface (VERDICT r8 #4): pairwise exact audience
    // intersection between event types. Distinct (type, user) first —
    // the self-join then carries at most |T| rows per user, never the
    // raw event multiplicity — and the pair aggregate is map-side
    // partial over a 10-pair domain. This is the number the HLL
    // inclusion-exclusion estimate is graded against in-row.
    Q("ev_overlap_exact",
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events)
         SELECT x.t AS a, y.t AS b,
           CAST(COUNT(*) AS BIGINT) AS exact_overlap
         FROM tu x JOIN tu y ON x.u = y.u AND x.t < y.t
         GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      val tu = Tables.events(s, dir)
        .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
      tu.join(tu.select(col("t").as("tb"), col("u")), "u")
        .where(col("t") < col("tb"))
        .groupBy(col("t").as("a"), col("tb").as("b"))
        .agg(count(lit(1)).as("exact_overlap"))
        .orderBy(col("a"), col("b"))
    },

    // Materialized sketch table (ops.Sketches.sketchTable): one
    // serialized HLL sketch per day makes COUNT(DISTINCT) incremental —
    // weekly (or any ad-hoc range) distinct-user counts come from
    // merging the daily sketch rows, never re-scanning events, and a new
    // day appends one row. Estimates are engine-side (like ev_hll_users)
    // → rows-only; the exact count rides in-row and SketchesSpec pins
    // the merge algebra (merged dailies ≡ direct sketch, append ≡
    // rebuild). The estimate-free half of this row is oracle-checked as
    // ev_sketch_rollup_exact below.
    Q.unchecked("ev_sketch_rollup") { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("d", to_date(col("ts")))
      val daily = graft.ops.Sketches.sketchTable(ev, Seq("d"), "user_id")
      val weekly = graft.ops.Sketches.sketchRollup(
          daily.withColumn("week", date_trunc("week", col("d"))), Seq("week"))
      val exact = ev.withColumn("week", date_trunc("week", col("d")))
        .groupBy(col("week")).agg(countDistinct(col("user_id")).as("exact_users"))
      weekly.join(exact, "week")
        .select(col("week").cast("date").cast("string").as("week"),
          col("est_distinct").cast("long").as("est_users"),
          col("exact_users"), col("n_rows"))
        .orderBy(col("week"))
    },

    // The exact half of the sketch rollup above, split into its own
    // oracle-checked row (VERDICT r9 #6, the ev_overlap_exact idiom):
    // the daily→weekly n_rows rollup arithmetic rides the SAME
    // sketchTable/sketchRollup plan shape (daily groupBy, weekly
    // re-aggregate) and the weekly exact distinct-user count sits
    // beside it — this is the number ev_sketch_rollup's HLL estimate
    // is graded against in-row. Only the estimate column itself (an
    // engine-specific HLL value) stays rows-only.
    Q("ev_sketch_rollup_exact",
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM events GROUP BY 1),
         weekly AS (SELECT CAST(date_trunc('week', d) AS DATE) AS week,
             CAST(SUM(n_rows) AS BIGINT) AS n_rows
           FROM daily GROUP BY 1),
         exact AS (SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
           FROM events GROUP BY 1)
         SELECT CAST(w.week AS VARCHAR) AS week, e.exact_users, w.n_rows
         FROM weekly w JOIN exact e USING (week) ORDER BY 1""") { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("d", to_date(col("ts")))
      val daily = graft.ops.Sketches.sketchTable(ev, Seq("d"), "user_id")
      val weekly = graft.ops.Sketches.sketchRollup(
          daily.withColumn("week", date_trunc("week", col("d"))), Seq("week"))
      val exact = ev.withColumn("week", date_trunc("week", col("d")))
        .groupBy(col("week")).agg(countDistinct(col("user_id")).as("exact_users"))
      weekly.join(exact, "week")
        .select(col("week").cast("date").cast("string").as("week"),
          col("exact_users"), col("n_rows"))
        .orderBy(col("week"))
    },

    // One-pass Pearson correlation audit across lineitem measure pairs —
    // the ANALYZE-style companion to lineitem_profile (is price entangled
    // with quantity? discount with tax?). Everything that must be exact
    // IS exact: measures become integer units scan-side (quantity whole,
    // money/rates in hundredths via the DECIMAL(12,2) view), all 12
    // moment sums accumulate in DECIMAL(38,0)/HUGEINT (order-independent,
    // overflow-free: Σp² ≈ 6.6e20 at sf1 would overflow BIGINT), and each
    // corr is then ONE identical IEEE tree — cast, two sqrts, a multiply,
    // a divide — so both engines emit the same bits. One scan, one
    // aggregate row on the shuffle, three stacked output rows.
    Q("lineitem_corr",
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS q,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p,
           CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS d,
           CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) AS t
           FROM lineitem),
         s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(CAST(q AS HUGEINT)) AS sq, SUM(CAST(p AS HUGEINT)) AS sp,
           SUM(CAST(d AS HUGEINT)) AS sd, SUM(CAST(t AS HUGEINT)) AS st,
           SUM(CAST(q AS HUGEINT) * q) AS sqq, SUM(CAST(p AS HUGEINT) * p) AS spp,
           SUM(CAST(d AS HUGEINT) * d) AS sdd, SUM(CAST(t AS HUGEINT) * t) AS stt,
           SUM(CAST(q AS HUGEINT) * p) AS sqp, SUM(CAST(d AS HUGEINT) * t) AS sdt,
           SUM(CAST(q AS HUGEINT) * d) AS sqd
           FROM b)
         SELECT pair, CAST(n AS BIGINT) AS n,
           CAST(num AS DOUBLE) /
             (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))) AS corr
         FROM (
           SELECT 'discount_tax' AS pair, n, n*sdt - sd*st AS num,
             n*sdd - sd*sd AS vx, n*stt - st*st AS vy FROM s
           UNION ALL SELECT 'quantity_discount', n, n*sqd - sq*sd,
             n*sqq - sq*sq, n*sdd - sd*sd FROM s
           UNION ALL SELECT 'quantity_price', n, n*sqp - sq*sp,
             n*sqq - sq*sq, n*spp - sp*sp FROM s)
         ORDER BY pair""") { (s, dir) =>
      val dec38 = (c: Column) => c.cast("decimal(38,0)")
      // spread the PROJECTED 4-long frame before the moment sums: the
      // single-row-group lineitem file pins the partial aggregation —
      // 12 decimal(38,0) multiply-sums per row, far above the tokenize
      // kernel's CPU/byte — on one task (measured 1.9 s at sf0.1; the
      // lineitem_profile precedent, with the shuffle carrying 4 longs
      // per row instead of the full table)
      val base = graft.ops.ScanSpread.spread(s,
        Tables(s, dir, "lineitem")
          .select(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
        graft.ops.ScanSpread.KernelFloor)
        .select(
          col("l_quantity").cast("long").as("q"),
          (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("p"),
          (col("l_discount").cast("decimal(12,2)") * 100).cast("long").as("d"),
          (col("l_tax").cast("decimal(12,2)") * 100).cast("long").as("t"))
      val sums = base.agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(dec38(col("q"))).cast("decimal(38,0)").as("sq"),
          sum(dec38(col("p"))).cast("decimal(38,0)").as("sp"),
          sum(dec38(col("d"))).cast("decimal(38,0)").as("sd"),
          sum(dec38(col("t"))).cast("decimal(38,0)").as("st"),
          sum(dec38(col("q")) * dec38(col("q"))).cast("decimal(38,0)").as("sqq"),
          sum(dec38(col("p")) * dec38(col("p"))).cast("decimal(38,0)").as("spp"),
          sum(dec38(col("d")) * dec38(col("d"))).cast("decimal(38,0)").as("sdd"),
          sum(dec38(col("t")) * dec38(col("t"))).cast("decimal(38,0)").as("stt"),
          sum(dec38(col("q")) * dec38(col("p"))).cast("decimal(38,0)").as("sqp"),
          sum(dec38(col("d")) * dec38(col("t"))).cast("decimal(38,0)").as("sdt"),
          sum(dec38(col("q")) * dec38(col("d"))).cast("decimal(38,0)").as("sqd"))
      def corr(sxy: String, x: String, xx: String, y: String, yy: String) =
        s"CAST(n*$sxy - $x*$y AS DOUBLE) / " +
          s"(sqrt(CAST(n*$xx - $x*$x AS DOUBLE)) * sqrt(CAST(n*$yy - $y*$y AS DOUBLE)))"
      sums.select(
          expr("stack(3, " +
            s"'discount_tax', ${corr("sdt", "sd", "sdd", "st", "stt")}, " +
            s"'quantity_discount', ${corr("sqd", "sq", "sqq", "sd", "sdd")}, " +
            s"'quantity_price', ${corr("sqp", "sq", "sqq", "sp", "spp")}" +
            ") AS (pair, corr)"),
          col("n").cast("long").as("n"))
        .select(col("pair"), col("n"), col("corr"))
        .orderBy(col("pair"))
    },

    Q("lineitem_profile",
      """SELECT * FROM (
         SELECT 'l_orderkey' AS column_name,
           COUNT(*) - COUNT(l_orderkey) AS n_nulls,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_val,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_val FROM lineitem
         UNION ALL SELECT 'l_linenumber',
           COUNT(*) - COUNT(l_linenumber),
           CAST(COUNT(DISTINCT l_linenumber) AS BIGINT),
           CAST(MIN(l_linenumber) AS VARCHAR), CAST(MAX(l_linenumber) AS VARCHAR) FROM lineitem
         UNION ALL SELECT 'l_quantity',
           COUNT(*) - COUNT(l_quantity),
           CAST(COUNT(DISTINCT CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT),
           CAST(MIN(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR),
           CAST(MAX(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) FROM lineitem
         UNION ALL SELECT 'l_returnflag',
           COUNT(*) - COUNT(l_returnflag),
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
           CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR) FROM lineitem
         UNION ALL SELECT 'l_shipdate',
           COUNT(*) - COUNT(l_shipdate),
           CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
           CAST(CAST(date_trunc('second', MIN(l_shipdate)) AS TIMESTAMP) AS VARCHAR),
           CAST(CAST(date_trunc('second', MAX(l_shipdate)) AS TIMESTAMP) AS VARCHAR) FROM lineitem
         ) ORDER BY column_name""") { (s, dir) =>
      // ANALYZE-style column profile in ONE scan: all null counts,
      // distinct counts, and min/max land in a single agg (Spark plans
      // the multi-distinct via Expand + partial aggregation — one pass
      // over the table, shuffling only aggregate state), then the single
      // row unpivots to the long stats form. The oracle recomputes each
      // column's row independently.
      val li = spreadSmallSplits(s,
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"), col("l_shipdate")))
      val qty = col("l_quantity").cast("decimal(12,2)")
      val one = li.agg(
        count(lit(1)).as("nr"),
        count(col("l_orderkey")).as("c1"), countDistinct(col("l_orderkey")).as("d1"),
        min(col("l_orderkey")).cast("string").as("mn1"),
        max(col("l_orderkey")).cast("string").as("mx1"),
        count(col("l_linenumber")).as("c2"), countDistinct(col("l_linenumber")).as("d2"),
        min(col("l_linenumber")).cast("string").as("mn2"),
        max(col("l_linenumber")).cast("string").as("mx2"),
        count(col("l_quantity")).as("c3"), countDistinct(qty).as("d3"),
        min(qty).cast("string").as("mn3"), max(qty).cast("string").as("mx3"),
        count(col("l_returnflag")).as("c4"), countDistinct(col("l_returnflag")).as("d4"),
        min(col("l_returnflag")).cast("string").as("mn4"),
        max(col("l_returnflag")).cast("string").as("mx4"),
        count(col("l_shipdate")).as("c5"), countDistinct(col("l_shipdate")).as("d5"),
        sec(min(col("l_shipdate"))).cast("string").as("mn5"),
        sec(max(col("l_shipdate"))).cast("string").as("mx5"))
      one.select(expr(
        """stack(5,
           'l_orderkey',   nr - c1, d1, mn1, mx1,
           'l_linenumber', nr - c2, d2, mn2, mx2,
           'l_quantity',   nr - c3, d3, mn3, mx3,
           'l_returnflag', nr - c4, d4, mn4, mx4,
           'l_shipdate',   nr - c5, d5, mn5, mx5)
           AS (column_name, n_nulls, n_distinct, min_val, max_val)"""))
        .orderBy(col("column_name"))
    },

    // Declarative data-quality gate (the Deequ/dbt-test shape): each
    // check reduces its table to one (check, total, violations,
    // pass_rate) row — conditional aggregates, a distinct-count, and two
    // key-only anti-joins; violations never materialize row-level. The
    // range check is deliberately failing (value ≤ 250 clips the real
    // tail) so the report proves it counts, not just passes.
    Q("data_quality_report",
      """WITH rows AS (
           SELECT 'documents_text_nonempty' AS check_name,
             CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END)
               AS BIGINT) AS violations FROM documents
           UNION ALL
           SELECT 'events_event_id_unique', COUNT(*),
             COUNT(*) - COUNT(DISTINCT event_id) FROM events
           UNION ALL
           SELECT 'events_type_in_set', COUNT(*),
             SUM(CASE WHEN event_type NOT IN
               ('click', 'view', 'purchase', 'signup', 'error')
               THEN 1 ELSE 0 END) FROM events
           UNION ALL
           SELECT 'events_user_id_not_null', COUNT(*),
             SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) FROM events
           UNION ALL
           SELECT 'events_value_in_range', COUNT(*),
             SUM(CASE WHEN value < 0 OR value > 250 THEN 1 ELSE 0 END)
             FROM events
           UNION ALL
           SELECT 'lineitem_orderkey_refs_orders',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem
              WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
           UNION ALL
           SELECT 'lineitem_quantity_positive', COUNT(*),
             SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) FROM lineitem
           UNION ALL
           SELECT 'orders_custkey_refs_customer',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders
              WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)))
         SELECT check_name, CAST(total AS BIGINT) AS total,
           CAST(violations AS BIGINT) AS violations,
           CAST(total - violations AS DOUBLE) / total AS pass_rate
         FROM rows ORDER BY check_name""") { (s, dir) =>
      import graft.ops.Quality
      import graft.ops.Quality.{Predicate, RefIntegrity, Unique}
      val events = Tables.events(s, dir)
      val docs = Tables(s, dir, "documents")
      val orders = Tables(s, dir, "orders")
      val lineitem = Tables(s, dir, "lineitem")
      val customer = Tables(s, dir, "customer")
      Quality.report(Seq(
        Predicate("documents_text_nonempty", docs,
          col("text").isNull || trim(col("text")) === ""),
        Unique("events_event_id_unique", events, Seq("event_id")),
        Predicate("events_type_in_set", events,
          !col("event_type").isin("click", "view", "purchase", "signup", "error")),
        Predicate("events_user_id_not_null", events, col("user_id").isNull),
        Predicate("events_value_in_range", events,
          col("value") < 0 || col("value") > 250),
        RefIntegrity("lineitem_orderkey_refs_orders",
          lineitem, "l_orderkey", orders, "o_orderkey"),
        Predicate("lineitem_quantity_positive", lineitem,
          col("l_quantity") <= 0),
        RefIntegrity("orders_custkey_refs_customer",
          orders, "o_custkey", customer, "c_custkey")))
        .orderBy(col("check_name"))
    },

    // A/B-test readout: two-proportion z-test on high-value purchase
    // conversion (value > 200 keeps the rates interior at every sf —
    // plain "any purchase" saturates to 100%/100%, a degenerate pooled
    // variance). Variants assigned deterministically (user_id mod 2 —
    // the hash split an experiment framework persists). Per-user conversion
    // collapses map-side; the rest is arithmetic over one 2-row
    // aggregate. Every float op is a single IEEE add/sub/mul/div/sqrt of
    // exact inputs with the same tree in both engines → z matches
    // bit-for-bit.
    Q("ev_ab_test",
      """WITH conv AS (SELECT user_id % 2 AS variant, user_id,
           MAX(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS converted
           FROM events GROUP BY 1, 2),
         per AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(converted) AS BIGINT) AS c FROM conv GROUP BY variant),
         p AS (SELECT
           MAX(CASE WHEN variant = 0 THEN n END) AS n0,
           MAX(CASE WHEN variant = 0 THEN c END) AS c0,
           MAX(CASE WHEN variant = 1 THEN n END) AS n1,
           MAX(CASE WHEN variant = 1 THEN c END) AS c1 FROM per)
         SELECT n0, c0, n1, c1,
           CAST(c0 AS DOUBLE) / n0 AS rate0,
           CAST(c1 AS DOUBLE) / n1 AS rate1,
           ((CAST(c0 AS DOUBLE) / n0) - (CAST(c1 AS DOUBLE) / n1)) /
             sqrt(((CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) *
                   (1.0 - (CAST(c0 + c1 AS DOUBLE) / (n0 + n1)))) *
                  ((1.0 / n0) + (1.0 / n1))) AS z
         FROM p""") { (s, dir) =>
      val conv = Tables.events(s, dir)
        .groupBy(pmod(col("user_id"), lit(2)).as("variant"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 200, 1)
          .otherwise(0)).as("converted"))
      val per = conv.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
      val p = per.agg(
        max(when(col("variant") === 0, col("n"))).as("n0"),
        max(when(col("variant") === 0, col("c"))).as("c0"),
        max(when(col("variant") === 1, col("n"))).as("n1"),
        max(when(col("variant") === 1, col("c"))).as("c1"))
      val r0 = col("c0").cast("double") / col("n0")
      val r1 = col("c1").cast("double") / col("n1")
      val pp = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1"))
      p.select(col("n0"), col("c0"), col("n1"), col("c1"),
        r0.as("rate0"), r1.as("rate1"),
        ((r0 - r1) / sqrt((pp * (lit(1.0) - pp)) *
          ((lit(1.0) / col("n0")) + (lit(1.0) / col("n1"))))).as("z"))
    },

    // Item-item co-occurrence (the "users who touched X touched Y"
    // item-similarity matrix recommenders and co-view audits build):
    // distinct (user, item) pairs, per-user basket capped at 50 items by
    // deterministic rank — the guard that keeps the within-user
    // self-join sub-quadratic when one account touches millions of items
    // (the standard co-view cap; lossless here, fixture max is 67 → the
    // cap BITES and both engines drop the same rows). Pair counts
    // map-side-combine; cosine n_ab/√(n_a·n_b) is one sqrt + one
    // division of exact BIGINTs, bit-identical in both engines; support
    // ≥ 5 bounds the output to genuinely co-consumed pairs.
    Q("ev_item_cooccurrence",
      """WITH ui AS (SELECT DISTINCT user_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS item FROM events),
         c AS (SELECT user_id, item FROM (SELECT user_id, item,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY item) AS rn
             FROM ui) WHERE rn <= 50),
         n AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY item),
         p AS (SELECT a.item AS item_a, b.item AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
           FROM c a JOIN c b ON a.user_id = b.user_id AND a.item < b.item
           GROUP BY 1, 2)
         SELECT item_a, item_b, n_ab, n_ab / sqrt(na.n * nb.n) AS cosine
         FROM p JOIN n na ON na.item = p.item_a
                JOIN n nb ON nb.item = p.item_b
         WHERE n_ab >= 5 ORDER BY item_a, item_b""") { (s, dir) =>
      // Pair generation WITHOUT the self-join: the old a⋈b shape
      // re-executed the whole scan→distinct→window pipeline on BOTH
      // join inputs (nothing was materialized) and shuffled the b side
      // a second time. One pass instead: per-user sorted item array
      // (sort+slice ≡ the rn ≤ 50 window cap — items are distinct, so
      // no tie ambiguity), checkpointed (~|users| rows of ≤50 ints),
      // then ordered pairs expand IN-ARRAY (x before y in a sorted
      // array ⟺ x < y, exactly the join's item_a < item_b) and both
      // the pair counts and the per-item counts read the same blocks.
      val lists = Tables.events(s, dir)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("item"))
        .distinct()
        .groupBy(col("user_id"))
        .agg(slice(sort_array(collect_list(col("item"))), 1, 50).as("items"))
        .localCheckpoint()
      val itemN = lists.select(explode(col("items")).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).as("n"))
      lists.select(explode(expr(
          """flatten(transform(items, (x, i) ->
               transform(slice(items, i + 2, size(items)),
                 y -> struct(x AS item_a, y AS item_b))))""")).as("p"))
        .select(col("p.item_a"), col("p.item_b"))
        .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
        .join(itemN.toDF("item_a", "na"), "item_a")
        .join(itemN.toDF("item_b", "nb"), "item_b")
        .select(col("item_a"), col("item_b"), col("n_ab"),
          (col("n_ab") / sqrt(col("na") * col("nb"))).as("cosine"))
        .orderBy(col("item_a"), col("item_b"))
    })
}
