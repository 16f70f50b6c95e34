package graftbench

import java.math.MathContext
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.{HashExpressions, TextExpressions, VectorExpressions}
import graft.queries.CorpusQueries
import graft.source.Tables
import graft.text.Text

/** `batch_corpus`: a fixed lane of registered queries from
  * `SparkEntry.queries` over a generated fixture.
  *
  * Set-up (untimed): `CorpusQueries.prebuildStores`, then the digest pass,
  * which folds an order-insensitive digest of every result out of
  * `queryExecution.toRdd` (the plan the timed passes run) and compares it
  * with the goldens; one untimed noop pass follows. Timed passes
  * materialize each query through the noop sink, as `graft.Bench` does.
  * The fixture and the query order are fixed, so the seed does not change
  * a run: the goldens need one fixture, and queries share stores, so a
  * seeded order moved per-query times by up to 2x between seeds.
  */
object BatchSuite {

  /** Dedup, similarity and text kernels, shuffles and checkpoints, plus
    * `ev_item_cooccurrence`, which keeps the `ops` family measured.
    */
  val lane: Seq[String] = Seq(
    "doc_bpe_encoded", "doc_minhash_pairs", "doc_containment_pairs",
    "emb_knn_join", "mm_decoded_features", "ev_item_cooccurrence")

  val MinPasses = 3

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case "doc" | "cust" => "text"
    case "emb" | "ann" => "sim"
    case "mm" => "mm"
    case _ => "ops"
  }

  // ---- output digest --------------------------------------------------

  private val mc = new MathContext(9)

  private def fmtDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  /** Canonical text of one value. Floating-point values keep 9
    * significant digits, so partition-order summation noise does not
    * change the digest.
    */
  private def render(v: Any, dt: DataType): String = if (v == null) "∅" else dt match {
    case DoubleType => fmtDouble(v.asInstanceOf[Double])
    case FloatType => fmtDouble(v.asInstanceOf[Float].toDouble)
    case BinaryType => java.util.Arrays.toString(v.asInstanceOf[Array[Byte]])
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).map(i =>
        render(if (a.isNullAt(i)) null else a.get(i, et), et)).mkString("[", ",", "]")
    case st: StructType => renderRow(v.asInstanceOf[InternalRow], st.fields.map(_.dataType))
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val ks = m.keyArray()
      val vs = m.valueArray()
      (0 until m.numElements()).map { i =>
        render(ks.get(i, kt), kt) + "=" + render(if (vs.isNullAt(i)) null else vs.get(i, vt), vt)
      }.sorted.mkString("{", ",", "}")
    case _ => v.toString
  }

  private def renderRow(r: InternalRow, types: Array[DataType]): String =
    types.indices.map(i => render(if (r.isNullAt(i)) null else r.get(i, types(i)), types(i)))
      .mkString("(", ",", ")")

  /** (rows, digest): the digest is the wrapping sum and the xor of a
    * 64-bit hash of every row's canonical text, so row order is ignored
    * and duplicates still count.
    */
  def digest(df: DataFrame): (Long, String) = {
    val types = df.schema.fields.map(_.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var s = 0L; var x = 0L
      it.foreach { r =>
        val t = renderRow(r, types)
        val h = (MurmurHash3.stringHash(t, 17).toLong << 32) ^
          (MurmurHash3.stringHash(t, 31).toLong & 0xffffffffL)
        n += 1; s += h; x ^= h
      }
      Iterator((n, s, x))
    }.collect()
    val (n, s, x) = parts.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (d, e, f)) =>
      (a + d, b + e, c ^ f) }
    (n, f"$s%016x$x%016x")
  }

  // ---- goldens ----------------------------------------------------------

  /** One line per query: name, rows, schema, digest ("-" when the query
    * has no oracle and only its schema and row count are checked).
    */
  final case class Golden(rows: Long, schema: String, digest: String)

  private def goldenPath(o: Opts): Path = Path.of(o.goldens, s"${o.scale}.tsv")

  private def readGoldens(o: Opts): Map[String, Golden] = {
    val p = goldenPath(o)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, r, s, d) = l.split("\t", 4)
      n -> Golden(r.toLong, s, d)
    }.toMap
  }

  private def writeGoldens(o: Opts, add: Map[String, Golden]): Unit = {
    val all = readGoldens(o) ++ add
    Files.createDirectories(goldenPath(o).getParent)
    Files.write(goldenPath(o), all.toSeq.sortBy(_._1).map { case (n, g) =>
      s"$n\t${g.rows}\t${g.schema}\t${g.digest}" }.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }

  // ---- the workload -----------------------------------------------------

  def run(spark: SparkSession, o: Opts, tracer: Tracer,
          sparkLayer: Option[SparkLayer], planLayer: Option[PlanLayer]): Result = {
    val dir = o.fixtures
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql.keySet
    val sc = spark.sparkContext
    var failed = 0L
    var attempted = 0L
    val notes = mutable.LinkedHashMap.empty[String, Any]

    val setupId = tracer.newId()
    val s0 = Clock.nowUs
    val b0 = Clock.nowUs
    val builds = CorpusQueries.prebuildStores(spark, dir)
    var bt = b0
    builds.foreach { case (name, secs) =>
      val e = bt + (secs * 1e6).toLong
      tracer.add(name, "build", bt, e, setupId, "setup")
      bt = e
    }

    // untimed digest pass, compared with the goldens
    val goldens = readGoldens(o)
    val fresh = mutable.Map.empty[String, Golden]
    val mismatches = mutable.ArrayBuffer.empty[String]
    val digestMs = mutable.LinkedHashMap.empty[String, Double]
    lane.foreach { q =>
      attempted += 1
      val d0 = System.nanoTime()
      try {
        val df = queries(q)(spark, dir)
        val (rows, dig) = digest(df)
        digestMs(q) = (System.nanoTime() - d0) / 1e6
        val g = Golden(rows, df.schema.simpleString, if (oracle(q)) dig else "-")
        fresh(q) = g
        goldens.get(q) match {
          case Some(want) if want == g => ()
          case Some(want) => mismatches += s"$q: got $g, golden $want"
          case None if !o.writeGoldens => mismatches += s"$q: no golden"
          case None => ()
        }
      } catch { case e: Throwable =>
        mismatches += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    failed += mismatches.size
    if (o.writeGoldens) writeGoldens(o, fresh.toMap)
    // one untimed pass through the noop sink, so the timed passes start
    // with the write path's code generated and JIT-compiled
    val w0 = System.nanoTime()
    lane.foreach { q =>
      try queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // the digest pass already counted it
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    tracer.add("setup", "setup", s0, Clock.nowUs, req = "setup", id = setupId)
    val setupS = (System.currentTimeMillis() - Proc.jvmStartMs) / 1000.0

    // timed passes
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val famS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    var buildMs, execMs, persisted = 0.0
    val plan0 = planLayer.map(_.planMs.sum()).getOrElse(0.0)
    val spark0 = sparkLayer.map { l => org.apache.spark.graftbench.Bus.drain(sc); l.totals }
    val t0 = System.nanoTime()
    var pass = 0
    // at least MinPasses, so every run has the same number of samples
    // per query whichever side of the window the last pass ends
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val passId = tracer.newId()
      val p0 = Clock.nowUs
      val c0 = Proc.cpuNs
      val pw0 = System.nanoTime()
      lane.foreach { q =>
        attempted += 1
        val qid = tracer.newId()
        val req = s"pass-$pass/$q"
        if (tracer.enabled) sc.setLocalProperty(Layers.SpanKey, s"$qid|$req")
        val q0 = Clock.nowUs
        val ms0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        try {
          val df = queries(q)(spark, dir)
          val n1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val n2 = System.nanoTime()
          buildMs += (n1 - n0) / 1e6
          execMs += (n2 - n1) / 1e6
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (n2 - n0) / 1e6
          famS(family(q)) += (n2 - n0) / 1e9
        } catch { case e: Throwable =>
          failed += 1
          mismatches += s"$q (timed): ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        windows += ((ms0, System.currentTimeMillis()))
        if (tracer.enabled) {
          sc.setLocalProperty(Layers.SpanKey, null)
          tracer.add(q, "query", q0, Clock.nowUs, passId, req, qid)
          persisted += sc.getPersistentRDDs.size
        }
      }
      passWall += (System.nanoTime() - pw0) / 1e9
      passCpu += (Proc.cpuNs - c0) / 1e9
      tracer.add(s"pass $pass", "pass", p0, Clock.nowUs, req = s"pass-$pass", id = passId)
      pass += 1
    }
    val medianOf = lane.flatMap(q => perQuery.get(q).map(xs => q -> Stats.median(xs.toSeq)))
    val medians = medianOf.map(_._2)

    val layers: Map[String, Double] = (sparkLayer, planLayer) match {
      case (Some(sl), Some(pl)) =>
        org.apache.spark.graftbench.Bus.drain(sc)
        val before = spark0.getOrElse(Map.empty)
        val perPass = sl.totals.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) / pass }
        val planMs = (pl.planMs.sum() - plan0) / pass
        val gapMs = windows.map { case (a, b) => sl.gapMs(a, b) }.sum / pass
        perPass ++ kernelPass(spark, dir, tracer) ++ Map(
          "queries.build_ms" -> buildMs / pass,
          "queries.plan_ms" -> planMs,
          "queries.exec_ms" -> math.max(0.0, execMs / pass - planMs),
          "spark.driver_gap_ms" -> gapMs,
          "spark.persisted_rdds_after" -> persisted / pass) ++
          Layers.families.map(f => s"$f.queries_s" -> famS(f) / pass)
      case _ => Map.empty
    }

    notes ++= Seq(
      "suite_s" -> Stats.median(passWall.toSeq),
      "query_geomean_ms" -> Stats.geomean(medians),
      "query_p90_ms" -> Stats.quantile(medians, 0.9),
      "passes" -> pass,
      "pass_wall_s" -> passWall.toSeq,
      "pass_cpu_s" -> passCpu.toSeq,
      "query_median_ms" -> medianOf.toMap,
      "builds_s" -> builds.toMap,
      "digest_pass_ms" -> digestMs.toMap,
      "warm_pass_s" -> warmS,
      "output_mismatches" -> mismatches.toSeq)
    Result(
      correct = failed == 0,
      attempted = attempted,
      failed = failed,
      e2e = Map(
        "setup_s" -> setupS,
        "cpu_s" -> Stats.median(passCpu.toSeq),
        "throughput_per_s" -> lane.size / Stats.median(passWall.toSeq),
        "latency_p50_ms" -> Stats.median(medians),
        "latency_geomean_ms" -> Stats.geomean(medians)),
      layers = layers ++ builds.map { case (n, s) => s"build.${n}_s" -> s },
      extra = notes.toMap)
  }

  /** One timed pass of each public kernel over the fixture's documents and
    * embeddings, replicated to about 10k rows; each kernel runs once
    * untimed first so codegen is not counted.
    */
  private def kernelPass(spark: SparkSession, dir: String, tracer: Tracer): Map[String, Double] = {
    val rnd = new scala.util.Random(7L)
    val reps = spark.range(0L, 20L).withColumnRenamed("id", "rep")
    val docs = Tables(spark, dir, "documents").select("doc_id", "text").crossJoin(reps)
    val emb = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .crossJoin(spark.range(0L, 50L).withColumnRenamed("id", "rep"))
    val toks = Text.tokens(col("text"))
    val planes = Array.fill(16 * 64)(rnd.nextGaussian())
    val cents = Array.fill(16 * 64)(rnd.nextGaussian())
    val prime = 2147483647L
    val a = Array.fill(64)((rnd.nextLong() & Long.MaxValue) % (prime - 1) + 1)
    val b = Array.fill(64)((rnd.nextLong() & Long.MaxValue) % (prime - 1) + 1)
    val merges = Seq(("t", "h"), ("th", "e"), ("a", "r"), ("e", "r"), ("i", "n"),
      ("o", "r"), ("s", "t"), ("a", "n"))
    val kernels: Seq[(String, DataFrame)] = Seq(
      "vecDot" -> emb.select(VectorExpressions.vecDot(col("embedding"), col("embedding"))),
      "lshSignBits" -> emb.select(VectorExpressions.lshSignBits(col("embedding"), planes, 16, 64)),
      "minhashSig" -> docs.select(VectorExpressions.minhashSig(
        HashExpressions.shingleHashes(toks, 3), a, b, prime)),
      "nearestCentroids" -> emb.select(VectorExpressions.nearestCentroids(
        col("embedding"), cents, 16, 64, 2)),
      "shingleHashes" -> docs.select(HashExpressions.shingleHashes(toks, 3)),
      "textFeatures" -> docs.select(TextExpressions.textFeatures(col("text"),
        Text.langProfiles, Text.bigramProfiles)),
      "bpeEncode" -> docs.select(TextExpressions.bpeEncode(col("text"), merges)),
      "editDistanceWithin" -> docs.select(TextExpressions.editDistanceWithin(
        substring(col("text"), 1, 24), substring(col("text"), 3, 24), 3)))
    val parent = tracer.newId()
    val k0 = Clock.nowUs
    val out = kernels.map { case (name, df) =>
      df.write.format("noop").mode("overwrite").save()
      val t0 = Clock.nowUs
      df.write.format("noop").mode("overwrite").save()
      val t1 = Clock.nowUs
      tracer.add(name, "functions", t0, t1, parent, s"kernel/$name")
      s"functions.${name}_ms" -> (t1 - t0) / 1000.0
    }.toMap
    tracer.add("kernels", "kernels", k0, Clock.nowUs, req = "kernels", id = parent)
    out
  }
}
