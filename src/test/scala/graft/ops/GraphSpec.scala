package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class GraphSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private def events(parts: Int) = {
    import spark.implicits._
    // user 1: a→b→a→c ; user 2: b→b→c ; user 3: a (no transition)
    Seq(
      (1L, ts(10), 1L, "a"), (1L, ts(20), 2L, "b"),
      (1L, ts(30), 3L, "a"), (1L, ts(40), 4L, "c"),
      (2L, ts(10), 5L, "b"), (2L, ts(20), 6L, "b"), (2L, ts(30), 7L, "c"),
      (3L, ts(10), 8L, "a"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .repartition(parts)
  }

  test("transitionCounts: consecutive per-user pairs in event-time order") {
    val got = Graph.transitionCounts(events(4))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("a", "b") -> 1L, ("b", "a") -> 1L, ("a", "c") -> 1L,
      ("b", "b") -> 1L, ("b", "c") -> 1L))
  }

  /** Independent driver-side reimplementation of the exact integer
    * recurrence (Map-based, no Spark) — the spec's oracle. */
  private def refPageRank(edges: Map[(String, String), Long], iters: Int,
                          scale: Long): Map[String, Long] = {
    val nodes = (edges.keys.map(_._1) ++ edges.keys.map(_._2)).toSet
    val outw = edges.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum }
    val teleport = scale * 15L / 100L
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val inflow = edges.toSeq
        .map { case ((u, v), w) => v -> rank(u) * 85L * w / (100L * outw(u)) }
        .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
      rank = nodes.map(v => v -> (teleport + inflow.getOrElse(v, 0L))).toMap
    }
    rank
  }

  test("pageRank matches the independent integer reference, any partitioning") {
    val edgeMap = Map(
      ("a", "b") -> 3L, ("b", "a") -> 1L, ("a", "c") -> 1L,
      ("b", "b") -> 2L, ("c", "a") -> 5L)
    val expect = refPageRank(edgeMap, iters = 10, scale = 1000000L)
    for (parts <- Seq(1, 7)) {
      import spark.implicits._
      val edges = edgeMap.toSeq.map { case ((s, d), n) => (s, d, n) }
        .toDF("src", "dst", "n").repartition(parts)
      val got = Graph.pageRank(edges, iters = 10)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect, s"parts=$parts")
    }
  }

  test("transitionsStream ≡ batch edge counts under any micro-batch chunking") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val types = Array("a", "b", "c", "d")
    val rows = (0L until 300L).map { i =>
      (1L + rnd.nextInt(5), ts(i), i, types(rnd.nextInt(types.length)))
    }
    val batch = Graph.transitionCounts(
      rows.toDF("user_id", "ts", "event_id", "event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (chunk <- Seq(23, 300)) {
      val stream = MemoryStream[Graph.Ev]
      val q = Graph.transitionsStream(stream.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(s"edges_$chunk").start()
      try {
        rows.grouped(chunk).foreach { c => // event-time-ordered feed
          stream.addData(c.map { case (u, t, id, tp) => Graph.Ev(u, t, id, tp) }: _*)
          q.processAllAvailable()
        }
        val got = spark.table(s"edges_$chunk").groupBy("src", "dst").count()
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(got == batch, s"chunk=$chunk")
      } finally q.stop()
    }
  }

  test("pageRank invariants: teleport floor, sink absorbs, source decays") {
    import spark.implicits._
    // a → b → c, c is a sink (dangling), a has no inflow
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("src", "dst", "n")
    val r = Graph.pageRank(edges, iters = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val teleport = 150000L
    assert(r.values.forall(_ >= teleport))
    assert(r("a") == teleport) // no incoming edges → teleport only
    assert(r("b") > r("a") && r("c") > r("b"))
  }

  test("triangleStats ≡ brute-force enumeration on a random graph, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val edgeSet = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L if rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    val want: Map[Long, (Long, Long)] = { // v → (deg, triangles)
      val nbrs = (edgeSet.flatMap { case (a, b) => Seq(a -> b, b -> a) })
        .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
      nbrs.map { case (v, ns) =>
        val tri = ns.toSeq
          .map(x => ns.count(y => x < y && nbrs(x).contains(y))).sum.toLong
        v -> (ns.size.toLong, tri)
      }
    }
    for (parts <- Seq(1, 7)) {
      val got = Graph.triangleStats(
          edgeSet.toDF("a_id", "b_id").repartition(parts))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got.keySet == want.keySet, s"parts=$parts: vertex sets differ")
      want.foreach { case (v, (d, t)) =>
        val (gd, gt, gc) = got(v)
        assert(gd == d && gt == t, s"parts=$parts v=$v: ($gd,$gt) != ($d,$t)")
        val expC = if (d >= 2) 2.0 * t / (d * (d - 1)) else 0.0
        assert(gc == expC, s"parts=$parts v=$v clustering")
      }
    }
  }

  test("triangleStats grid fallback ≡ broadcast plan when the budget gate engages") {
    import spark.implicits._
    // A 1-byte budget forces the sequential (su, sv)-grid enumeration —
    // the sf10 shape, where 391M edges of adjacency outgrow what any
    // deployment should broadcast. Every triangle must still be found
    // exactly once (at the grid cell of its minimal oriented edge).
    val rnd = new scala.util.Random(178)
    val edgeSet = (for {
      a <- 0L until 60L; b <- (a + 1) until 60L if rnd.nextDouble() < 0.2
    } yield (a, b)).toSeq
    val edges = edgeSet.toDF("a_id", "b_id")
    val want = Graph.triangleStats(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = Graph.triangleStats(edges, broadcastBudget = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want, "gated grid enumeration must match the broadcast plan")
    val sampledWant = Graph.triangleCountSampled(edges, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val sampledGot = Graph.triangleCountSampled(edges, 1, 2, broadcastBudget = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(sampledGot == sampledWant, "gated sampled count must match")
  }

  test("triangle grid scratch: conf-keyed root, stale predecessor debris reclaimed on entry, own scratch removed on exit") {
    import spark.implicits._
    // round-14 verdict ask #4 + ADVICE r14: the grid's scratch now
    // resolves through ONE conf-keyed filesystem, and a killed
    // predecessor's debris (its `finally` never ran) is swept on entry.
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_root")
    val stale = root.resolve("graft_tri_grid_deadpid_00000000")
    java.nio.file.Files.createDirectories(stale)
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(jvmStart - 60000L))
    // a FRESH-looking dir (mtime now) must survive the sweep — it could
    // belong to this very process
    val fresh = root.resolve("graft_tri_grid_live_11111111")
    java.nio.file.Files.createDirectories(fresh)
    spark.conf.set(Graph.ScratchDirKey, "file:" + root)
    try {
      val rnd = new scala.util.Random(178)
      val edgeSet = (for {
        a <- 0L until 60L; b <- (a + 1) until 60L if rnd.nextDouble() < 0.2
      } yield (a, b)).toSeq
      val edges = edgeSet.toDF("a_id", "b_id")
      val want = Graph.triangleStats(edges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val got = Graph.triangleStats(edges, broadcastBudget = 1L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want, "grid through the conf-keyed scratch diverged")
      assert(!java.nio.file.Files.exists(stale),
        "stale predecessor scratch was not reclaimed on entry")
      assert(java.nio.file.Files.exists(fresh),
        "sweep deleted a fresh (possibly live) scratch dir")
      // and our own run's scratch is gone (the finally path)
      val debris = java.nio.file.Files.list(root).iterator()
      val leftover = new scala.collection.mutable.ArrayBuffer[String]
      while (debris.hasNext) {
        val n = debris.next().getFileName.toString
        if (n.startsWith("graft_tri_grid") && n != fresh.getFileName.toString)
          leftover += n
      }
      assert(leftover.isEmpty, s"run left scratch behind: $leftover")
    } finally spark.conf.unset(Graph.ScratchDirKey)
  }

  test("triangleStats: clique is all-triangles, star is none — hub degree safe") {
    import spark.implicits._
    // K5 clique (ids 0-4) + a 20-leaf star at hub 100
    val clique = for { a <- 0L until 5L; b <- (a + 1) until 5L } yield (a, b)
    val star = (1L to 20L).map(l => (100L, 100L + l))
    val got = Graph.triangleStats((clique ++ star).toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    (0L until 5L).foreach { v =>
      assert(got(v) == ((4L, 6L, 1.0)), s"clique vertex $v") // C(4,2) wedges all closed
    }
    assert(got(100L) == ((20L, 0L, 0.0)), "star hub has no triangles")
    assert(got(101L) == ((1L, 0L, 0.0)), "leaf")
  }

  test("triangleStatsContracted ≡ triangleStats on a twin-expanded random graph") {
    import spark.implicits._
    // Random contracted graph H on 12 group nodes, random group sizes
    // 1..4, expanded to the full twin graph G: cliques inside groups,
    // complete bipartite between adjacent groups — exactly the structure
    // an exact-dup cluster graph has. Contraction must reproduce
    // triangleStats bit-for-bit, under any partitioning.
    val rnd = new scala.util.Random(123)
    val nGroups = 12
    val sizes = (0 until nGroups).map(_ => 1 + rnd.nextInt(4))
    val memberIds: Seq[Seq[Long]] = {
      var next = 0L
      sizes.map { s => val ids = (next until next + s).toSeq; next += s; ids }
    }
    val hEdges = for {
      a <- 0 until nGroups; b <- (a + 1) until nGroups
      if rnd.nextDouble() < 0.25
    } yield (a, b)
    val intra = memberIds.flatMap(ids =>
      for { i <- ids.indices; j <- (i + 1) until ids.size } yield (ids(i), ids(j)))
    val cross = hEdges.flatMap { case (ga, gb) =>
      for { u <- memberIds(ga); v <- memberIds(gb) }
        yield (math.min(u, v), math.max(u, v))
    }
    val edges = (intra ++ cross).toDF("a_id", "b_id")
    val groups = memberIds.zipWithIndex
      .flatMap { case (ids, gi) => ids.map(v => (v, s"g$gi")) }
      .toDF("v_id", "grp")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val direct = key(Graph.triangleStats(edges))
    for (parts <- Seq(1, 5)) {
      val contracted = key(Graph.triangleStatsContracted(
        edges.repartition(parts), groups.repartition(parts)))
      assert(contracted == direct, s"parts=$parts: contracted != direct")
    }
  }

  test("triangleStatsContracted with all-singleton groups ≡ triangleStats") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val edgeSet = (for {
      a <- 0L until 30L; b <- (a + 1) until 30L if rnd.nextDouble() < 0.2
    } yield (a, b)).toSeq
    val edges = edgeSet.toDF("a_id", "b_id")
    val groups = (0L until 30L).map(v => (v, v.toString)).toDF("v_id", "grp")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(key(Graph.triangleStatsContracted(edges, groups)) ==
      key(Graph.triangleStats(edges)))
  }

  test("triangleCountSampled at p=1 ≡ exact count; est arithmetic is integer-exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val edgeSet = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L if rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    val exact = Graph.triangleStats(edgeSet.toDF("a_id", "b_id"))
      .agg(org.apache.spark.sql.functions.sum("triangles")).as[Long].head() / 3
    val r = Graph.triangleCountSampled(edgeSet.toDF("a_id", "b_id"), 1, 1).head()
    assert(r.getLong(0) == edgeSet.size && r.getLong(1) == edgeSet.size)
    assert(r.getLong(2) == exact && r.getLong(3) == exact)
  }

  test("triangleCountSampled concentrates on a triangle-dense graph; partition-invariant") {
    import spark.implicits._
    // 8 disjoint K20 cliques: 8·C(20,3) = 9120 triangles — the dense
    // regime the sampled audit targets (sparse graphs run the exact one)
    val edges = for {
      c <- 0L until 8L; a <- 0L until 20L; b <- (a + 1) until 20L
    } yield (c * 100 + a, c * 100 + b)
    val exact = 8L * 1140
    for ((num, den, tol) <- Seq((1, 2, 0.15), (1, 4, 0.35))) {
      val rows = Seq(1, 7).map(p =>
        Graph.triangleCountSampled(edges.toDF("a_id", "b_id").repartition(p), num, den).head())
      assert(rows(0) == rows(1), s"p=$num/$den: not partition-invariant")
      val r = rows.head
      assert(r.getLong(0) == edges.size)
      assert(r.getLong(3) == r.getLong(2) * den * den * den / (num * num * num))
      val relErr = math.abs(r.getLong(3) - exact).toDouble / exact
      assert(relErr < tol, s"p=$num/$den: est=${r.getLong(3)} exact=$exact relErr=$relErr")
    }
  }

  /** Sequential reference: peel synchronously until fixpoint; returns
    * surviving vertex → within-core degree. */
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var es = edges
    var changed = true
    while (changed) {
      val deg = es.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, xs) => v -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != es.size
      es = next
    }
    es.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, xs) => v -> xs.size }
  }

  test("kCore reaches the true k-core on a random graph, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val edgeSet = (for {
      a <- 0L until 50L; b <- (a + 1) until 50L if rnd.nextDouble() < 0.12
    } yield (a, b)).toSeq
    for (k <- Seq(2, 3, 4); parts <- Seq(1, 7)) {
      val want = refKCore(edgeSet, k)
      val got = Graph.kCore(edgeSet.toDF("a_id", "b_id").repartition(parts),
          k, rounds = 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(got == want, s"k=$k parts=$parts")
      assert(got.values.forall(_ >= k), s"k=$k: fixpoint must have min degree >= k")
    }
  }

  test("kCore peels SYNCHRONOUSLY: a path erodes one layer per round from both ends") {
    import spark.implicits._
    // path 0-1-2-3-4-5-6, k=2: endpoints have degree 1 and peel together
    val path = (0L until 6L).map(i => (i, i + 1))
    val after1 = Graph.kCore(path.toDF("a_id", "b_id"), k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(after1 == Set(1L, 2L, 3L, 4L, 5L), "round 1 removes only the two endpoints")
    val after3 = Graph.kCore(path.toDF("a_id", "b_id"), k = 2, rounds = 3)
      .collect()
    assert(after3.isEmpty, "a path has an empty 2-core")
    // a cycle is its own 2-core at any round count
    val cycle = (0L until 8L).map(i => (i, (i + 1) % 8))
    val got = Graph.kCore(cycle.toDF("a_id", "b_id"), k = 2, rounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (0L until 8L).toSet && got.values.forall(_ == 2L))
  }

  test("kCore: K5 with pendant chains keeps exactly the clique at k=3") {
    import spark.implicits._
    val clique = for { a <- 0L until 5L; b <- (a + 1) until 5L } yield (a, b)
    val chains = (0L until 5L).flatMap(v => Seq((v, 100 + v), (100 + v, 200 + v)))
    val got = Graph.kCore((clique ++ chains).toDF("a_id", "b_id"), k = 3, rounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 5L).map(_ -> 4L).toMap,
      "3-core is the K5 alone, each at within-core degree 4")
  }

  test("labelPropagation: two dense cliques joined by one weak edge separate cleanly") {
    import spark.implicits._
    // clique A = {1,2,3}, clique B = {10,11,12}, internal weight 10,
    // one weight-1 bridge 3–10
    val intra = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L))
      .map { case (a, b) => (a, b, 10L) }
    val edges = (intra :+ ((3L, 10L, 1L))).toDF("src", "dst", "w")
    val got = Graph.labelPropagation(edges, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(got) .size == 1, s"clique A split: $got")
    assert(Set(10L, 11L, 12L).map(got).size == 1, s"clique B split: $got")
    assert(got(1L) != got(10L), s"cliques merged across the weak bridge: $got")
  }

  test("labelPropagation: deterministic under repartitioning; isolated node keeps its label") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 2L), (7L, 7L, 1L))
      .toDF("src", "dst", "w").where(col("src") =!= col("dst"))
    val base = Graph.labelPropagation(edges, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shuffled = Graph.labelPropagation(edges.repartition(7), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base == shuffled)
  }

  test("labelPropagation: a zero aggregated edge weight fails, naming the precondition") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 0L)).toDF("src", "dst", "w")
    val e = intercept[Exception](Graph.labelPropagation(edges, 2).collect())
    assert(e.getMessage.contains("edge weight w > 0"), e.getMessage)
  }
}
