package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.storage.StorageLevel

/** Graph analytics over the event stream: the user-journey transition
  * graph (the Markov-chain view behind the reference README's promised
  * "user journey" dashboard, `README.md:121,139-147`) and a deterministic
  * PageRank over it.
  *
  * Scale discipline: the edge list is built with one partition-local
  * window pass per user (no self-join) and collapses immediately to at
  * most |V|² aggregated rows, so the iterative stage touches tiny,
  * corpus-size-independent state no matter how many events were scanned.
  */
object Graph {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.ops.Graph")

  /** Conf key for the over-budget triangle grid's scratch filesystem —
    * set it to the job's scratch FS (`hdfs://…/tmp`, `s3://…`) at
    * deployment scale; defaults to local java.io.tmpdir. Create, write,
    * read and delete all resolve through THIS path's filesystem, so
    * they always agree (ADVICE r14).
    */
  val ScratchDirKey = "spark.graft.scratch.dir"

  /** Reclaim triangle-grid scratch left by a KILLED predecessor (its
    * `finally` never ran): delete `graft_tri_grid*` directories last
    * modified before this JVM started. The horizon makes the sweep safe
    * for THIS process's own live scratch; concurrent grid runs from
    * older still-live JVMs on the same scratch root are outside the
    * single-bench-campaign discipline this repo's derived stores
    * already assume ([[graft.sim.IvfStore]] single-writer contract).
    * One file listing when there is nothing to do.
    */
  private[ops] def sweepStaleScratch(fs: org.apache.hadoop.fs.FileSystem,
                                     root: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(root)) return
    val horizon = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    fs.listStatus(root).foreach { e =>
      if (e.isDirectory && e.getPath.getName.startsWith("graft_tri_grid") &&
          e.getModificationTime < horizon) {
        log.info(s"reclaiming stale triangle-grid scratch ${e.getPath} " +
          s"(modified ${e.getModificationTime}, before JVM start $horizon)")
        try fs.delete(e.getPath, true)
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** Iteration-state checkpointing for the big-edge-list loops below —
    * the measured rationale (both sf10 failure modes) lives on
    * [[IterState]], which dupGroups' min-label propagation shares.
    */
  private def ckptSer(df: DataFrame): DataFrame = IterState.ckptSer(df)

  private def freeCkpt(df: DataFrame): Unit = IterState.freeCkpt(df)

  /** Directed transition counts between consecutive events of each user
    * (event-time order, `event_id` tiebreak): edge (src → dst, weight n).
    * The window is partitioned by user — Spark plans one shuffle on
    * user_id and sorts within partitions; the subsequent count is
    * map-side combined on ≤ |V|² keys.
    */
  def transitionCounts(events: DataFrame, key: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col(key).as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
  }

  /** Damped PageRank over a weighted edge list `(src, dst, n)`, with all
    * arithmetic in 64-bit integers so the result is engine-independent
    * (float contributions would sum in partition order). Semantics, fixed
    * by definition (the DuckDB oracle implements the identical formula):
    *
    *   rank₀(v)    = S                       (S = `scale`)
    *   rankᵢ₊₁(v)  = ⌊15·S/100⌋ + Σ_{u→v} ⌊rankᵢ(u)·85·n(u,v) / (100·outw(u))⌋
    *
    * (integer division truncates; all operands are non-negative, so
    * Spark's `div` and DuckDB's `//` agree). Dangling-node mass is
    * dropped each round — a defined semantics, not an approximation
    * accident. `iters` fixed rounds of: join ranks onto the aggregated
    * edge list, integer-sum per destination — the same bounded-state loop
    * shape as `Dedup.dupGroups`' label propagation. The iteration state
    * is |V| rows regardless of how much data produced the edges; for
    * graphs where |V| itself is huge, checkpoint every few rounds exactly
    * as `dupGroups` does (here the plans stay tiny: |V| ≤ |event types|).
    */
  /** One event of the streaming transition form. */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                      event_type: String)
  /** One emitted transition edge instance (aggregate downstream). */
  final case class Edge(src: String, dst: String)
  /** Per-user carry: the last seen event across micro-batches. */
  final case class LastEv(ts: Long, event_id: Long, tpe: String)

  /** ONLINE twin of [[transitionCounts]]' edge generation: consumes an
    * in-order event stream, keeps ONE (ts, event_id, type) triple per
    * user in `GroupState`, and emits each (prev → next) edge the moment
    * the next event arrives — so cross-micro-batch transitions are
    * produced exactly once, whatever the batch boundaries (spec-pinned:
    * any chunking ≡ the batch window pass). State is O(1) per user;
    * unbounded user churn wants a timeout eviction wrapper, same caveat
    * as [[Anomaly.zScoreFlagsStream]]. Within a micro-batch a user's
    * events are processed in (ts, event_id) order, making the edge
    * stream independent of arrival interleaving inside the batch.
    */
  def transitionsStream(events: Dataset[Ev]): Dataset[Edge] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, Edge](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state: GroupState[LastEv]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = List.newBuilder[Edge]
          var last = state.getOption
          sorted.foreach { e =>
            last.foreach(l => out += Edge(l.tpe, e.event_type))
            last = Some(LastEv(e.ts.getTime, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  def pageRank(edges: DataFrame, iters: Int = 10, scale: Long = 1000000L): DataFrame = {
    // materialize the AGGREGATED edge list once (≤ |V|² rows — tiny next
    // to whatever scan produced it): without this every power iteration's
    // lineage would re-run the upstream edge aggregation (measured 3× on
    // the registered query), and the derived nodes/outw scans ride the
    // same cached copy.
    val e0 = edges.localCheckpoint()
    // LOOP INVARIANTS are checkpointed once: uncheckpointed, every
    // iteration's lineage re-ran the node-distinct and the out-weight
    // aggregation + join from e0's blocks — two extra stages × iters
    // for frames that never change (measured as a third of the
    // registered query's jobs at sf0.1).
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val outw = e0.groupBy(col("src")).agg(sum(col("n")).as("outw"))
    val ew = e0.join(outw, "src") // src, dst, n, outw — ≤ |V|² rows
      .localCheckpoint()
    freeCkpt(e0) // both invariants hold copies; e0's blocks are dead
    val teleport = scale * 15L / 100L
    var ranks = nodes.select(col("node"), lit(scale).as("rank"))
    for (i <- 1 to iters) {
      // Dangling nodes ride the AGGREGATION instead of a second join: a
      // zero-contribution row per node unioned under the same groupBy
      // gives sum(c) = inflow for reached nodes and 0 for dangling ones
      // — identical to the old left-join + coalesce (edge weights never
      // produce rows outside `nodes`), one exchange and one broadcast
      // build per round fewer.
      val contrib = ew
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("(rank * 85 * n) div (100 * outw)").as("c"))
        .unionAll(nodes.select(col("node"), lit(0L).as("c")))
      // truncate lineage each round: ranks is ≤ |V| rows, and without
      // the checkpoint the final action analyzes/executes a plan that
      // deepens by a join + an aggregation per iteration. The
      // superseded round's blocks are freed immediately ([[freeCkpt]] —
      // tiny here, but the same discipline that keeps kCore's disk
      // bounded; the first iteration must not free the checkpointed
      // `nodes`, which the initial non-checkpointed `ranks` plan shares).
      val next = contrib
        .groupBy(col("node"))
        .agg((lit(teleport) + sum(col("c"))).as("rank"))
        .localCheckpoint()
      if (i > 1) freeCkpt(ranks)
      ranks = next
    }
    // the returned frame is itself a checkpoint and shares no blocks with
    // the loop invariants — free them now instead of waiting for GC (the
    // ADVICE r15 note: long sessions run many queries; deterministic
    // free is the module's stated discipline)
    freeCkpt(nodes)
    freeCkpt(ew)
    ranks
  }

  /** Per-vertex triangle counts and local clustering coefficients over an
    * undirected edge list `(a_id, b_id)` with `a_id < b_id`, each edge
    * once — the cliquishness audit of the near-dup graph (dup clusters
    * are cliques; a vertex with high degree but low clustering is a hub
    * joining unrelated groups, the classic false-positive smell).
    *
    * Scale shape: edges orient from the (degree, id)-smaller endpoint to
    * the larger — the standard preprocessing that bounds wedge
    * generation by O(m^1.5) REGARDLESS of hub degree (a vertex's
    * oriented out-degree is ≤ √(2m), so no single-task wedge explosion
    * on skewed graphs; an unoriented wedge join would be quadratic in
    * the hub's degree). Each triangle is then enumerated exactly once at
    * its orientation-minimal vertex via one wedge self-join + one edge
    * semi-join, all IDs-only shuffles on bounded keys.
    */
  def triangleStats(edges: DataFrame,
                    aCol: String = "a_id", bCol: String = "b_id",
                    broadcastBudget: Long = -1L): DataFrame = {
    // checkpoint the edge list and the degree table (round-16): the
    // wedge pipeline references deg twice and sym everywhere, so the
    // un-materialized tree held ~40 copies of the upstream scan — most
    // of the query's wall was Catalyst planning that tree (measured
    // 0.9 s driver gap at sf0.1), not execution. e doubles as the edge
    // census the broadcast gate needs (count over the checkpoint).
    // Serialized disk-only state, the kCore footprint discipline; the
    // returned frame still references both, so they are reclaimed by
    // the ContextCleaner when the caller's action completes — bounded
    // at |E| + |V| rows.
    val e = IterState.ckptSer(edges.select(col(aCol).as("x"), col(bCol).as("y")))
    val sym = e.unionAll(e.select(col("y").as("x"), col("x").as("y")))
    val deg = IterState.ckptSer(
      sym.groupBy(col("x")).agg(count(lit(1)).as("deg"))
        .select(col("x").as("v_id"), col("deg")))
    val perVertex = cornerCounts(sym, deg, e.count(), broadcastBudget)
    deg.join(perVertex, Seq("v_id"), "left")
      .select(col("v_id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("deg") >= 2,
          (lit(2L) * col("triangles")).cast("double") /
            (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)))
  }

  /** Each triangle of the undirected graph enumerated exactly once, at
    * its orientation-minimal vertex. `sym` is the symmetrized edge list
    * (x, y), `deg` the (v_id, deg) table over it. Returns (u, v, w) with
    * u ≺ v ≺ w under the orientation order.
    *
    * Orientation order ≺ = (deg, id): each undirected edge keeps the
    * direction smaller ≺ larger — the standard preprocessing that bounds
    * per-vertex oriented out-degree by √(2m) REGARDLESS of hub degree,
    * so no single-task explosion on skewed graphs.
    *
    * EDGE ITERATOR, not a wedge join: for oriented edge (a, b), the
    * closing vertices are exactly N⁺(a) ∩ N⁺(b) (the triangle a≺b≺c has
    * all three oriented edges, and is found only at its minimal edge) —
    * one merge walk of two sorted out-adjacency arrays via the
    * `SortedIntersectElems` kernel. The previous formulation generated
    * the full oriented WEDGE stream and closed it with a semi join: on
    * the sf1 dup graph that is 408M materialized wedge rows + 408M hash
    * probes, where the edge iterator does the same arithmetic as ~1.2G
    * primitive comparisons inside one fused kernel and materializes
    * ONLY real triangles (54 s → 11 s at sf1, identical output).
    * Out-adjacency is broadcast (total = m longs — the same IDs-only
    * payload the wedge close used to broadcast). Callers on edge sets
    * that may OUTGROW broadcast go through [[cornerCounts]], which
    * gates on a measured edge census and grids the enumeration; this
    * raw (u, v, w) form is for edge sets small by construction (the
    * contracted graph H, sub-budget graphs).
    */
  private def closedWedges(sym: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = sym
      .join(deg.select(col("v_id").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("v_id").as("y"), col("deg").as("dy")), "y")
    val oriented = withDeg.filter(
        col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("x").as("u"), col("y").as("v"))
    // N⁺ sorted by id — the merge-walk precondition; one row per vertex,
    // Σ|N⁺| = m elements total
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbr"))
    oriented
      .join(broadcast(adj.select(col("u"), col("nbr").as("nu"))), "u")
      .join(broadcast(adj.select(col("u").as("v"), col("nbr").as("nv"))), "v")
      .select(col("u"), col("v"),
        explode(graft.functions.HashExpressions.sortedIntersect(
          col("nu"), col("nv"))).as("w"))
  }

  /** Per-vertex triangle-corner counts `(v_id, triangles)` — the shared
    * core of [[triangleStats]] and [[triangleCountSampled]], BROADCAST-
    * GATED on a measured edge census (`mEdges`; planner stats are blind
    * to the aggregation that built the edge list — the
    * `ExchangeSizing.shjBuildParts` rationale).
    *
    * Under the budget, one lazy plan: [[closedWedges]] with both
    * adjacency sides broadcast, each triangle exploding into its three
    * corners feeding a map-side-combined count. (A unionAll of three
    * projections reads as equivalent but re-executes the whole wedge
    * pipeline per branch — Spark does not common-subexpression unions —
    * which tripled the dominant stage: 90 s → 54 s at sf1.)
    *
    * Over the budget (the sf10 dup graph: 391 M edges ⇒ ~6 GB of
    * adjacency, ×2 for both sides — an unconditional broadcast is a
    * driver/executor OOM at deployment heaps), the enumeration GRIDS:
    * vertices hash into S slices with S chosen so one round's two
    * adjacency slices fit the budget; round (su, sv) handles exactly
    * the oriented edges (u ∈ su, v ∈ sv), so every closed wedge is
    * found in exactly one round (its minimal edge's cell — same
    * exactly-once argument as the AllPairs hot grid). Rounds run
    * SEQUENTIALLY, each materializing only its ≤|V|-row corner-count
    * partial; per-round broadcast residency is ≤ the budget by
    * construction (a lazy union of all rounds would instead hold every
    * slice at once — 2·B total, no better than the ungated plan).
    *
    * SLICE-PARTITIONED grid state (round-14 verdict ask #4): the
    * oriented list and adjacency are written ONCE to a scratch layout
    * partitioned on the grid keys — oriented under (gu, gv), adjacency
    * under its slice key — so each round's scans are PARTITION-PRUNED
    * to exactly its slice directories. The previous shape checkpointed
    * both whole and re-SCANNED them per round to build the broadcasts:
    * at sf10's S = 6 that is 2·S² full adjacency passes + S² full
    * oriented passes (~970 GB of checkpoint reads); the partitioned
    * layout reads the oriented list once and each adjacency slice 2·S
    * times (~115 GB) — the 36 sequential ~2 GB broadcast REBUILDS were
    * the grid's one improvable constant. Scratch lives under the
    * [[ScratchDirKey]] filesystem (java.io.tmpdir by default; point it
    * at the job's scratch FS at deployment scale), is deleted when the
    * rounds finish, and a killed run's debris is reclaimed by the next
    * run's entry sweep. The fat nu/nv arrays never
    * cross an exchange in either path: they attach from broadcast at
    * stream time and die inside the stage.
    */
  private def cornerCounts(sym: DataFrame, deg: DataFrame, mEdges: Long,
                           budgetOverride: Long = -1L): DataFrame = {
    val spark = sym.sparkSession
    // hash-relation pricing through the shared helper (round-15: the
    // sf10 grid run logged GC-locker retries deserializing its ~2 GB-raw
    // slice broadcasts — the old flat 16 B/edge estimate under-priced
    // UnsafeHashedRelation's page/pointer overhead exactly as ADVICE r13
    // flagged for the census gates; 8 B of field data per edge entry
    // under hashedRelationBytes' 16 B + 4x model prices the DESERIALIZED
    // relation, so the slice count S is chosen against what the rounds
    // actually hold in memory. Larger S means more, smaller rounds —
    // total broadcast-build volume grows as 2·S·bytes, but each round's
    // resident pair stays inside the budget instead of thrashing the
    // GC, and the merge-walk CPU (the Σg³ wedge mass) is unchanged.)
    val estBytes = ExchangeSizing.hashedRelationBytes(mEdges, 8)
    val budget = if (budgetOverride > 0) budgetOverride
                 else ExchangeSizing.broadcastBudgetBytes(spark)
    if (estBytes <= budget) {
      closedWedges(sym, deg)
        .select(explode(array(col("u"), col("v"), col("w"))).as("v_id"))
        .groupBy(col("v_id")).agg(count(lit(1)).as("triangles"))
    } else {
      val slices = math.max(2L,
        math.min(16L, 2L * estBytes / math.max(1L, budget) + 1)).toInt
      log.warn(s"triangle broadcast gate engaged: $mEdges edges " +
        s"(~${estBytes >> 20} MiB adjacency) over budget " +
        s"${budget >> 20} MiB - gridding into ${slices}x$slices " +
        "sequential rounds")
      val withDeg = sym
        .join(deg.select(col("v_id").as("x"), col("deg").as("dx")), "x")
        .join(deg.select(col("v_id").as("y"), col("deg").as("dy")), "y")
      val s = lit(slices)
      // scratch root resolved through ONE filesystem for write, read
      // and cleanup (ADVICE r14: a driver-local createTempDirectory
      // whose schemeless path Spark then resolves against fs.defaultFS
      // would, on an HDFS/S3-default cluster, write the parquet to the
      // default FS while cleanup deleted only the empty local dir —
      // leaking ~100 GB-class scratch per run). `spark.graft.scratch.dir`
      // points it at the job's scratch FS at deployment scale;
      // java.io.tmpdir is the local-mode default.
      val scratchRoot = new org.apache.hadoop.fs.Path(
        spark.conf.get(ScratchDirKey, "file:" + sys.props("java.io.tmpdir")))
      val fs = scratchRoot.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // a killed JVM never runs this method's finally — reclaim any
      // predecessor's debris before creating our own (round-14 verdict
      // ask #4, the recoverSplits entry-discipline precedent)
      sweepStaleScratch(fs, scratchRoot)
      val scratch = new org.apache.hadoop.fs.Path(scratchRoot,
        s"graft_tri_grid_${java.lang.ProcessHandle.current().pid()}_" +
          java.util.UUID.randomUUID().toString.take(8))
      fs.mkdirs(scratch)
      val orientedPath = new org.apache.hadoop.fs.Path(scratch, "oriented").toString
      val adjPath = new org.apache.hadoop.fs.Path(scratch, "adj").toString
      try {
        // ONE pass builds the oriented list, landing pre-sliced on the
        // grid keys; the adjacency aggregates FROM that layout (one
        // read) and lands sliced on its own key. Both writes replace
        // the old whole-state checkpoints.
        withDeg.filter(
            col("dx") < col("dy") ||
              (col("dx") === col("dy") && col("x") < col("y")))
          .select(col("x").as("u"), col("y").as("v"),
            pmod(hash(col("x")), s).as("gu"), pmod(hash(col("y")), s).as("gv"))
          .write.partitionBy("gu", "gv").parquet(orientedPath)
        val oriented = spark.read.parquet(orientedPath)
        oriented.groupBy(col("u"))
          .agg(sort_array(collect_list(col("v"))).as("nbr"))
          .withColumn("g", pmod(hash(col("u")), s))
          .write.partitionBy("g").parquet(adjPath)
        val adj = spark.read.parquet(adjPath)
        val partials = for (su <- 0 until slices; sv <- 0 until slices) yield {
          // partition filters: each scan below reads ONLY its slice
          // directories (static pruning on the partition columns)
          val nu = adj.filter(col("g") === su)
            .select(col("u"), col("nbr").as("nu"))
          val nv = adj.filter(col("g") === sv)
            .select(col("u").as("v"), col("nbr").as("nv"))
          // eager checkpoint = this round EXECUTES here, before the next
          // round's broadcasts are built
          ckptSer(oriented
            .filter(col("gu") === su && col("gv") === sv)
            .join(broadcast(nu), "u")
            .join(broadcast(nv), "v")
            .select(col("u"), col("v"),
              explode(graft.functions.HashExpressions.sortedIntersect(
                col("nu"), col("nv"))).as("w"))
            .select(explode(array(col("u"), col("v"), col("w"))).as("v_id"))
            .groupBy(col("v_id")).agg(count(lit(1)).as("triangles")))
        }
        partials.reduce(_ unionAll _)
          .groupBy(col("v_id")).agg(sum(col("triangles")).as("triangles"))
      } finally {
        // every round is materialized (eager ckptSer) before we get
        // here — the final aggregation reads checkpoint blocks, never
        // the scratch parquet. Same FS handle as the writes (ADVICE
        // r14); a KILLED JVM skips this, which is what the entry
        // sweep above repairs on the next run.
        try fs.delete(scratch, true)
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** [[triangleStats]] with TWIN-GROUP CONTRACTION — the exact path for
    * graphs whose wedge mass is dominated by exact-duplicate CLIQUES
    * (identical documents), the common shape of web-corpus dup graphs.
    * Measured honestly on the sf1 fixture it does NOT win: that graph's
    * communities are near-cliques with distinct token sets (28,496 twin
    * groups over 34,732 vertices; contracted wedge mass 408M of the
    * original 409M), so contraction collapses nothing there and the
    * registered queries use the direct edge-iterator [[triangleStats]].
    * Kept as the library path for clique-dominated inputs, where the
    * closed forms below remove the wedge mass entirely.
    *
    * `groups` maps each vertex to a twin-group id under which members
    * are TRUE TWINS of the pair graph: every group is a clique and all
    * members have identical adjacency outside it. For a Jaccard pair
    * graph this holds STRUCTURALLY for groups keyed by (block keys,
    * distinct-token-set fingerprint): same token set ⇒ Jaccard 1 with
    * each other (clique) and identical Jaccard against every third
    * document (same external adjacency).
    *
    * PRECONDITIONS, and what is (not) validated: the vertex→group map
    * must be total and functional over edge-carrying vertices — this IS
    * validated up front (one IDs-only pass; missing or duplicate group
    * rows throw instead of silently dropping edges). The twin PROPERTY
    * itself (clique + identical external adjacency) is the caller's
    * contract and is NOT validated — checking it requires rebuilding
    * the neighborhood structure the contraction exists to avoid; a
    * non-twin grouping yields wrong counts, not an error. Derive
    * `groups` structurally (e.g. token-set fingerprints), never
    * heuristically.
    *
    * Under that property every triangle count is a closed form over the
    * CONTRACTED graph H (one node per group, one edge per adjacent group
    * pair, node weight s = group size). For a vertex in group g with
    * H-neighbourhood N(g):
    *
    *   deg(v)  = (s_g − 1) + Σ_{h∈N(g)} s_h
    *   tri(v)  = C(s_g−1, 2)                  (both others inside g)
    *           + (s_g − 1) · Σ_{h∈N(g)} s_h   (one in g, one outside)
    *           + Σ_{h∈N(g)} C(s_h, 2)         (both in one neighbour)
    *           + Σ_{g,h1,h2 ∆ in H} s_h1·s_h2 (two different neighbours)
    *
    * Only the last term enumerates wedges — on H, whose wedge mass is
    * the original's divided by the product of the participating group
    * sizes. The result is EXACTLY [[triangleStats]]'s output
    * (GraphSpec pins contracted ≡ direct on planted and fixture
    * graphs); the only new shuffles are the group-key maps (IDs-only)
    * and a distinct over contracted edges.
    */
  def triangleStatsContracted(edges: DataFrame, groups: DataFrame,
                              aCol: String = "a_id", bCol: String = "b_id",
                              vCol: String = "v_id", gCol: String = "grp"): DataFrame = {
    val g = groups.select(col(vCol).as("m_v"), col(gCol).as("m_g"))
    val e = edges.select(col(aCol).as("x"), col(bCol).as("y"))
    val mapped = e
      .join(g.select(col("m_v").as("x"), col("m_g").as("gx")), "x")
      .join(g.select(col("m_v").as("y"), col("m_g").as("gy")), "y")
    val verts = e.select(col("x").as("m_v"))
      .unionAll(e.select(col("y").as("m_v")))
      .distinct()
    // Precondition guard (ADVICE r8): the inner joins below silently
    // DROP any edge endpoint absent from `groups`, and a vertex with
    // two group rows would double-count — both make every dependent
    // count wrong with no error. One cheap distributed pass over the
    // (IDs-only) distinct endpoints validates the map is total and
    // functional before any arithmetic runs.
    val badMap = verts.join(g, Seq("m_v"), "left")
      .groupBy(col("m_v")).agg(count(col("m_g")).as("k"))
      .filter(col("k") =!= 1)
    require(badMap.isEmpty,
      "triangleStatsContracted: `groups` must map every edge-carrying " +
        "vertex to exactly one group (missing or duplicate rows found)")
    // members = vertices that actually carry edges (triangleStats emits
    // exactly these); sizes s_g over them
    val members = verts.join(g, "m_v")
    val sizes = members.groupBy(col("m_g")).agg(count(lit(1)).as("s"))
    // contracted undirected edge set (one row per adjacent group pair)
    val he = mapped.filter(col("gx") =!= col("gy"))
      .select(least(col("gx"), col("gy")).as("ga"),
        greatest(col("gx"), col("gy")).as("gb"))
      .distinct()
    val hsym = he.select(col("ga").as("x"), col("gb").as("y"))
      .unionAll(he.select(col("gb").as("x"), col("ga").as("y")))
    // per-group neighbour aggregates: A = Σ s_h, B = Σ C(s_h, 2)
    val nbr = hsym
      .join(sizes.select(col("m_g").as("y"), col("s").as("sy")), "y")
      .groupBy(col("x").as("m_g"))
      .agg(sum(col("sy")).as("A"),
        // s·(s−1) is even, so the half is exact integer arithmetic
        sum((col("sy") * (col("sy") - 1) / 2).cast("long")).as("B"))
    // weighted H-triangle credits: triangle (u,v,w) pays each corner the
    // product of the OTHER two corner sizes
    val hdeg = hsym.groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .select(col("x").as("v_id"), col("deg"))
    val wTri = closedWedges(hsym, hdeg)
      .join(sizes.select(col("m_g").as("u"), col("s").as("su")), "u")
      .join(sizes.select(col("m_g").as("v"), col("s").as("sv")), "v")
      .join(sizes.select(col("m_g").as("w"), col("s").as("sw")), "w")
      .select(explode(array(
        struct(col("u").as("m_g"), (col("sv") * col("sw")).as("wt")),
        struct(col("v").as("m_g"), (col("su") * col("sw")).as("wt")),
        struct(col("w").as("m_g"), (col("su") * col("sv")).as("wt")))).as("c"))
      .groupBy(col("c.m_g").as("m_g")).agg(sum(col("c.wt")).as("W"))
    val perGroup = sizes
      .join(nbr, Seq("m_g"), "left")
      .join(wTri, Seq("m_g"), "left")
      .select(col("m_g"),
        (col("s") - 1 + coalesce(col("A"), lit(0L))).as("deg"),
        (((col("s") - 1) * (col("s") - 2) / 2).cast("long") +
          (col("s") - 1) * coalesce(col("A"), lit(0L)) +
          coalesce(col("B"), lit(0L)) +
          coalesce(col("W"), lit(0L))).as("triangles"))
    members.join(perGroup, "m_g")
      .select(col("m_v").as("v_id"), col("deg"), col("triangles"))
      .withColumn("clustering",
        when(col("deg") >= 2,
          (lit(2L) * col("triangles")).cast("double") /
            (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)))
  }

  /** Edge-sparsified approximate GLOBAL triangle count (Tsourakakis et
    * al.'s DOULION estimator) — the scale path for the triangle audit
    * when the graph's own wedge mass makes the exact count the most
    * expensive query in the suite (the sf1 dup graph: 407M wedges, 54 s;
    * [[triangleStats]] is already wedge-optimal there — the remaining
    * lever is not enumerating every wedge).
    *
    * Each edge is kept iff `md5(a|b) mod keepDen < keepNum` — a
    * DETERMINISTIC coin (the corpus-sampling idiom from
    * `Text.hashModBucket`), so the sparsified graph, and therefore the
    * whole output row, is a pure function of the input: rerun-stable,
    * partition-invariant, and replayable by any engine with md5 — which
    * is what lets a sampling estimator sit under an exact-hash oracle.
    * Every triangle survives with probability p³ (p = keepNum/keepDen),
    * so `kept_triangles · (keepDen/keepNum)³` is unbiased for the true
    * count; wedge mass — the cost driver — falls by p² (sf1
    * measurements in SCALE.md; concentration spec-checked on planted
    * graphs). Arithmetic stays in BIGINTs (`div`), so both engines
    * agree exactly.
    *
    * Returns ONE row: (total_edges, kept_edges, kept_triangles,
    * est_triangles). Variance ∝ 1/p³ per triangle but concentrates
    * sharply on triangle-dense graphs (the audit's target); for sparse
    * graphs the exact count is already cheap — run [[triangleStats]].
    */
  def triangleCountSampled(edges: DataFrame, keepNum: Int, keepDen: Int,
                           aCol: String = "a_id", bCol: String = "b_id",
                           broadcastBudget: Long = -1L): DataFrame = {
    require(keepNum >= 1 && keepNum <= keepDen, "need 0 < keepNum <= keepDen")
    val e = edges.select(col(aCol).as("x"), col(bCol).as("y"))
    val coin = conv(substring(md5(
        concat_ws("|", col("x").cast("string"), col("y").cast("string"))),
      1, 8), 16, 10).cast("long") % keepDen
    val keptE = e.filter(coin < keepNum)
    val sym = keptE.unionAll(keptE.select(col("y").as("x"), col("x").as("y")))
    val deg = sym.groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .select(col("x").as("v_id"), col("deg"))
    val scale = keepDen.toLong * keepDen * keepDen
    val inv = keepNum.toLong * keepNum * keepNum
    // the census that gates the broadcast doubles as the kept_edges
    // output column
    val kept = keptE.count()
    // every kept triangle contributes exactly 3 corner rows, so the
    // corner-count sum is 3·T and the div is integer-exact
    cornerCounts(sym, deg, kept, broadcastBudget)
      .agg(sum(col("triangles")).as("c3"))
      .select(expr("coalesce(c3, 0L) div 3").as("kept_triangles"))
      .crossJoin(e.agg(count(lit(1)).as("total_edges")))
      .select(col("total_edges"), lit(kept).as("kept_edges"),
        col("kept_triangles"),
        expr(s"kept_triangles * ${scale}L div ${inv}L").as("est_triangles"))
  }

  /** k-core decomposition by SYNCHRONOUS peeling, a fixed number of
    * rounds: each round simultaneously removes every vertex whose
    * current degree is < k, together with its edges. After enough
    * rounds the surviving subgraph is THE k-core (the unique maximal
    * subgraph with minimum degree ≥ k); the round-count parameter keeps
    * the recurrence deterministic and finite so an oracle can unroll it
    * exactly — GraphSpec proves the fixpoint is the true k-core, and
    * the registered query's round count is convergence-checked on the
    * fixtures.
    *
    * On the near-dup graph this extracts the dense duplication BACKBONE:
    * boilerplate/template clusters are near-cliques (every member
    * k-core-survives) while thin accidental chains peel away — the
    * standard pre-filter before cluster-level curation decisions
    * (SemDeDup-style prune-the-cluster, keep-one policies).
    *
    * Scale shape: each round is one map-side-combined degree aggregation
    * + two IDs-only semi joins on the shrinking edge list, checkpointed
    * per round so plan depth stays constant (the [[pageRank]] /
    * `Dedup.dupGroups` discipline). Rounds are a fixed small constant;
    * each round's cost is bounded by the CURRENT edge count, which only
    * shrinks. Checkpoint state is the CANONICAL edge list in SERIALIZED
    * storage with the superseded round freed as soon as its successor
    * materializes ([[ckptSer]]/[[freeCkpt]]) — the pre-round-13 shape
    * (deserialized, symmetrized, all rounds pinned) accumulated ~6× the
    * necessary footprint and filled the box's disk on the sf10 dup
    * graph (391 M edges) before any peel completed.
    *
    * Returns `(v_id, core_deg)` for surviving vertices — `core_deg` is
    * the degree WITHIN the core, ≥ k at the fixpoint.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
            aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    // The loop state is the CANONICAL (a < b) edge list — half the rows
    // of the symmetrized form the pre-round-13 code checkpointed; the
    // symmetric view exists only inside each round's degree aggregation,
    // where it costs shuffle rows but no storage. With serialized
    // storage and the previous round freed as soon as the next is
    // materialized, peak checkpoint footprint is ~2 × 24 B × |E| no
    // matter the round count (391 M sf10 edges ⇒ ~19 GB peak, measured;
    // the deserialized symmetrized variant filled 75 GB of disk and
    // died).
    var e = ckptSer(edges.select(col(aCol).as("x"), col(bCol).as("y")))
    var r = 0
    var lastKeep = -1L
    var converged = false
    val budget = ExchangeSizing.broadcastBudgetBytes(edges.sparkSession)
    // LAZY round state (round-16): the survivor census count is the
    // round's one action — it materializes this round's `keep` AND the
    // previous round's pending `next` in one job, where the eager form
    // paid three jobs (+ driver barriers) per round. Superseded frames
    // are queued and freed only after the action that materialized
    // their successor (a truncated checkpoint cannot be recomputed once
    // unpersisted); peak footprint stays the documented ~2 rounds.
    var pendingFrees: List[DataFrame] = Nil
    while (r < rounds && !converged) {
      // One scan for the degree census: exploding both endpoints of each
      // edge into the aggregation beats a unionAll of two projections,
      // which executes the checkpoint scan once per branch — at the
      // third decade every extra pass over the edge state is ~10 GB of
      // disk read. The survivor set is checkpointed because it feeds
      // both endpoint semi joins (Spark does not common-subexpression
      // shared subplans) and its census doubles as the convergence test.
      val keep = IterState.ckptSerLazy(
        e.select(explode(array(col("x"), col("y"))).as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("v")))
      val keepCount = keep.count()
      // keep (and, through its lineage, this round's `e`) is now
      // materialized and truncated — the frames it superseded are dead
      pendingFrees.foreach(freeCkpt)
      pendingFrees = Nil
      if (keepCount == lastKeep) {
        // Early exit at the fixpoint: peeling only REMOVES edges, so
        // degrees only fall and survivor sets shrink MONOTONICALLY —
        // an unchanged survivor COUNT therefore means the unchanged
        // SET, and this round's joins would rebuild `e` bit-for-bit.
        // Skipping them (and every later round, all no-ops) returns a
        // result identical to running all `rounds`, which is what the
        // unrolled oracle computes.
        converged = true
        freeCkpt(keep)
      } else {
        // ≤ one id per surviving vertex — almost always broadcastable,
        // and the planner cannot see that through the checkpoint's
        // default stats. Broadcast semi joins prune the edge list in
        // ONE scan with ZERO shuffle of the edges; above the budget
        // (planetary vertex counts) the joins fall back to the
        // shuffled plan. Priced through the shared hash-relation
        // estimate (8 raw bytes per id row — ADVICE r13 rationale on
        // ExchangeSizing.hashedRelationBytes).
        val keepSide =
          if (ExchangeSizing.hashedRelationBytes(keepCount, 8) <= budget)
            (d: DataFrame) => broadcast(d)
          else (d: DataFrame) => d
        val next = IterState.ckptSerLazy(e
          .join(keepSide(keep.select(col("v").as("x"))), Seq("x"), "leftsemi")
          .join(keepSide(keep.select(col("v").as("y"))), Seq("y"), "leftsemi"))
        // e and keep stay alive until `next` materializes (next round's
        // census, or the explicit sync below on rounds exhaustion)
        pendingFrees = List(e, keep)
        e = next
        lastKeep = keepCount
        r += 1
      }
    }
    if (pendingFrees.nonEmpty) {
      // rounds exhausted with the last fold never materialized: sync it
      // so the superseded frames can still be freed deterministically
      // before returning (the disk-footprint discipline above)
      e.count()
      pendingFrees.foreach(freeCkpt)
      pendingFrees = Nil
    }
    e.select(explode(array(col("x"), col("y"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("core_deg"))
      .select(col("v").as("v_id"), col("core_deg"))
  }

  /** Community detection by SYNCHRONOUS weighted label propagation over a
    * directed weighted edge list `(src, dst, w)` — symmetrized here, so a
    * community is dense under co-transition in either direction. Every
    * aggregated weight must be positive; the query fails otherwise.
    *
    * Classic async LPA is order-dependent; this variant is deterministic
    * by construction (and therefore oracle-checkable): every round each
    * node adopts the label with the greatest incident weight among its
    * neighbors' CURRENT labels, ties broken by the smallest label, for a
    * fixed number of rounds. Isolated nodes keep their own label.
    *
    * Scale shape: identical to [[pageRank]] — the symmetrized edge list
    * is checkpointed once (≤ |V|² aggregated rows regardless of how many
    * events produced it), and each round is one join + one map-side-
    * combined aggregation + one per-node window, all on edge-list-sized
    * data. Rounds are a fixed small constant, not data-dependent.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    val sym = edges.select(col("src"), col("dst"), col("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      // the zero-weight self-label fold below is only equivalent to the
      // old dangling-node left join while every edge weight is POSITIVE
      // (a w ≤ 0 edge could tie the self-label row and win via the
      // label-asc tie-break): fail on a violating edge, checked lazily
      // inside the checkpoint job below rather than by a separate scan
      .withColumn("w", when(col("w") > 0, col("w")).otherwise(raise_error(
        lit("labelPropagation requires every aggregated edge weight w > 0"))))
    val e0 = sym.localCheckpoint()
    // same loop-invariant discipline as pageRank: the node table feeds
    // the dangling-node left join EVERY round — checkpointed once
    // instead of re-running the distinct from e0 per iteration
    val nodes = e0.select(col("src").as("node")).distinct()
      .localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (i <- 1 to iters) {
      // Isolated nodes ride the aggregation instead of a dangling-node
      // left join: a zero-weight self-label row per node under the same
      // groupBy leaves every real candidate's wsum unchanged and can
      // never WIN against one (edge weights here are positive counts —
      // both callers aggregate `count`/`sum(n)` ≥ 1), while a node with
      // no labeled neighbor keeps its own label — identical to the old
      // coalesce, one join and one broadcast build per round fewer.
      val scored = e0
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .select(col("src"), col("label"), col("w"))
        .unionAll(nodes.select(col("node").as("src"),
          col("node").as("label"), lit(0L).as("w")))
        .groupBy(col("src"), col("label")).agg(sum(col("w")).as("wsum"))
      val pick = Window.partitionBy(col("src"))
        .orderBy(col("wsum").desc, col("label"))
      // same lineage truncation + free-previous-round discipline as
      // pageRank: |V|-row label table, plan otherwise deepens by a
      // join + window per round
      val next = scored
        .withColumn("rn", row_number().over(pick)).where(col("rn") === 1)
        .select(col("src").as("node"), col("label"))
        .localCheckpoint()
      if (i > 1) freeCkpt(labels)
      labels = next
    }
    // same deterministic-free discipline as pageRank: the returned
    // labels checkpoint shares no blocks with the loop invariants
    freeCkpt(nodes)
    freeCkpt(e0)
    labels
  }
}
