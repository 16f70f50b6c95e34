package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.gen.ClickstreamGen
import graft.model.Schemas
import graft.ops.Pipelines
import graft.runtime.{ClickstreamProcessor, StreamConfig, StreamRunner}
import graft.serve.Dashboard
import graft.sink.{InMemoryKV, JdbcSink, KeyValuePipeline, KeyValueSink}
import graft.source.ClickstreamSource

/** `stream_catchup`: the reference's product path under a backlog.
  *
  * Seeded generator events are rendered to JSON wire values in set-up,
  * one text file per 10,000-event chunk. The timed loop moves one chunk at
  * a time into a file-stream directory and waits until all six queries of
  * `ClickstreamProcessor.start` have committed it (closed loop). The
  * queries run with the deployed `StreamConfig` (RocksDB state, batchId
  * ledger) and a trigger interval of 0, and write to in-memory Derby
  * through `JdbcSink.upsertPortable` and to an `InMemoryKV`. One reader
  * thread polls a `serve.Dashboard` over the same sinks at a fixed
  * open-loop rate. At the end the sinks are compared with a batch
  * evaluation of the same `ops.Pipelines` functions over the same events.
  */
object StreamCatchup {
  val ChunkEvents = 10000
  val MinChunks = 3

  private val ddl = Seq(
    """CREATE TABLE page_view_stats (window_start TIMESTAMP NOT NULL,
      |window_end TIMESTAMP NOT NULL, page VARCHAR(128) NOT NULL,
      |view_count BIGINT, PRIMARY KEY (window_start, window_end, page))""",
    """CREATE TABLE user_sessions (session_id VARCHAR(64) NOT NULL,
      |user_id INT NOT NULL, session_start TIMESTAMP, session_end TIMESTAMP,
      |event_count BIGINT, pages_visited VARCHAR(32672),
      |event_types VARCHAR(32672), PRIMARY KEY (session_id, user_id))""",
    """CREATE TABLE purchase_stats (window_start TIMESTAMP NOT NULL,
      |window_end TIMESTAMP NOT NULL, purchase_count BIGINT,
      |total_revenue DOUBLE, unique_buyers BIGINT,
      |PRIMARY KEY (window_start, window_end))""",
    """CREATE TABLE device_stats (window_start TIMESTAMP NOT NULL,
      |window_end TIMESTAMP NOT NULL, device_type VARCHAR(32) NOT NULL,
      |browser VARCHAR(32) NOT NULL, operating_system VARCHAR(32) NOT NULL,
      |visit_count BIGINT, unique_users BIGINT, unique_sessions BIGINT,
      |PRIMARY KEY (window_start, window_end, device_type, browser,
      |operating_system))""").map(_.stripMargin.replace('\n', ' '))

  /** One sink call, keyed by the streaming query id and batch id that
    * Spark sets as local properties on the micro-batch thread.
    */
  final case class SinkCall(label: String, queryId: String, batchId: String,
                            startUs: Long, endUs: Long, ok: Boolean)

  /** Counts sink calls, failed ones included; a second call for one
    * (query, batch, label) is a retry.
    */
  final class SinkLog(spark: SparkSession) {
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[SinkCall]()

    /** Runs one sink call and records it, whether it returns or throws, so
      * an attempt that `JdbcSink.retry` repeats is logged and timed too.
      */
    def timed[T](label: String)(f: => T): T = {
      val t0 = Clock.nowUs
      var ok = false
      try { val r = f; ok = true; r }
      finally {
        val sc = spark.sparkContext
        calls.add(SinkCall(label, String.valueOf(sc.getLocalProperty("sql.streaming.queryId")),
          String.valueOf(sc.getLocalProperty("streaming.sql.batchId")), t0, Clock.nowUs, ok))
      }
    }

    def retries: Long = calls.asScala.toSeq
      .groupBy(c => (c.label, c.queryId, c.batchId)).values.map(_.size - 1L).sum
    def failures: Long = calls.asScala.count(!_.ok).toLong

    /** Total ms of the calls whose label satisfies `p`. */
    def ms(p: String => Boolean): Double =
      calls.asScala.filter(c => p(c.label)).map(c => c.endUs - c.startUs).sum / 1000.0
  }

  /** KV wrapper: times each pipeline `execute` and counts its commands. */
  final class TimedKV(inner: KeyValueSink, log: SinkLog) extends KeyValueSink {
    val ops = new AtomicLong
    override def pipeline(): KeyValuePipeline = {
      val p = inner.pipeline()
      new KeyValuePipeline {
        private var n = 0
        private var counts = false
        def set(k: String, v: String): Unit = { n += 1; p.set(k, v) }
        def setEx(k: String, v: String, ttl: Long): Unit = { n += 1; p.setEx(k, v, ttl) }
        def increment(k: String, by: Long): Unit = { n += 1; counts = true; p.increment(k, by) }
        def incrementByFloat(k: String, by: Double): Unit = {
          n += 1; counts = true; p.incrementByFloat(k, by) }
        def addTimeSeries(k: String, ts: Long, v: Long, ttl: Long): Unit = {
          n += 1; p.addTimeSeries(k, ts, v, ttl) }
        def expire(k: String, ttl: Long): Unit = { n += 1; p.expire(k, ttl) }
        def delete(k: String): Unit = { n += 1; p.delete(k) }
        def execute(): Unit = {
          ops.addAndGet(n)
          n = 0
          log.timed(if (counts) "kv" else "kv.ledger")(p.execute())
        }
      }
    }
    def get(key: String): Option[String] = inner.get(key)
    def getCounter(key: String): Long = inner.getCounter(key)
    def getTimeSeries(key: String): Seq[(Long, Long)] = inner.getTimeSeries(key)
    override def close(): Unit = inner.close()
  }

  /** Open-loop dashboard reader: request k is due at t0 + k/rate and its
    * latency is measured from that due time, so a stalled server shows up
    * as queueing delay instead of fewer samples.
    */
  final class Reader(port: Int, rate: Double) extends Thread("graftbench-reader") {
    private val page = java.net.URLEncoder.encode(Schemas.Vocab.pages.head, "UTF-8")
    val paths: Seq[(String, String)] = Seq(
      "counter" -> s"/kv/counter?key=page_views:$page",
      "series" -> s"/kv/series?key=page_views_ts:$page",
      "sql" -> "/sql?table=page_view_stats&limit=100")
    /** (endpoint, latency ms, ok, due time ns) of every read. */
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Boolean, Long)]()
    @volatile private var stopping = false
    private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    setDaemon(true)

    override def run(): Unit = {
      val periodNs = (1e9 / rate).toLong
      val t0 = System.nanoTime()
      var k = 0L
      while (!stopping) {
        val due = t0 + k * periodNs
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val (kind, path) = paths((k % paths.size).toInt)
        val ok =
          try {
            val r = client.send(HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
              HttpResponse.BodyHandlers.ofString())
            r.statusCode() == 200 && r.body().startsWith("{")
          } catch { case _: Exception => false }
        samples.add((kind, (System.nanoTime() - due) / 1e6, ok, due))
        k += 1
      }
    }

    def finish(): Unit = { stopping = true; join(30000L) }
  }

  def run(spark: SparkSession, o: Opts, tracer: Tracer,
          sparkLayer: Option[SparkLayer]): Result = {
    val poolChunks = if (o.scale == "tiny") 2 else 16
    val root = Path.of(o.work, s"stream-${o.seed}-${System.nanoTime()}")
    val staging = root.resolve("staging")
    val watch = root.resolve("watch")
    Files.createDirectories(watch)

    // -- set-up: generate and render the backlog, one file per chunk
    val g0 = Clock.nowUs
    val events = ClickstreamGen.events(spark, poolChunks.toLong * ChunkEvents,
      numPartitions = poolChunks, seed = o.seed)
    ClickstreamGen.toWire(events).select("value").write.text(staging.toString)
    val chunks = Files.list(staging).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    require(chunks.size == poolChunks, s"expected $poolChunks chunk files, got ${chunks.size}")
    val g1 = Clock.nowUs
    tracer.add("render", "gen", g0, g1, req = "setup")

    // -- sinks: in-memory Derby with unique keys, and the KV store
    val cfg = JdbcSink.JdbcConfig(s"jdbc:derby:memory:graftbench${o.seed}_${System.nanoTime()};create=true",
      user = "", password = "", driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val boot = java.sql.DriverManager.getConnection(cfg.url)
    try ddl.foreach(sql => boot.createStatement().execute(sql)) finally boot.close()
    val log = new SinkLog(spark)
    val kvStore = new InMemoryKV
    val kv = new TimedKV(kvStore, log)
    val jdbcRows = new ConcurrentHashMap[String, java.lang.Long]()
    val write: (DataFrame, String) => Unit = { (df, table) =>
      val keys = ClickstreamProcessor.tableKeys(table)
      log.timed(s"jdbc.$table") {
        if (tracer.enabled) {
          val obs = Observation(s"rows_$table")
          JdbcSink.upsertPortable(df.observe(obs, count(lit(1)).as("n")), table, keys, cfg)
          jdbcRows.merge(table, obs.get("n").asInstanceOf[Long], (a, b) => a + b)
        } else JdbcSink.upsertPortable(df, table, keys, cfg)
      }
    }

    // -- the six queries over a JSON file stream, as runtime.Main deploys them
    val layer = new StreamLayer
    spark.streams.addListener(layer)
    val runner = new StreamRunner(spark, StreamConfig(root.resolve("ckpt").toString,
      batchDurationSec = 0, useRocksDbStateStore = true, ledger = Some(kv)))
    val raw = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
      .option("maxFilesPerTrigger", 1).text(watch.toString)
    ClickstreamProcessor.start(runner, ClickstreamSource.decodeJson(raw), write, kv)
    val names = Layers.streamQueries
    val dashboard = new Dashboard(kvStore,
      Some((cfg, ClickstreamProcessor.tableKeys.keySet)), 0)

    def push(i: Int): Unit =
      Files.move(chunks(i), watch.resolve(f"chunk-$i%05d.txt"), StandardCopyOption.ATOMIC_MOVE)

    // Untimed chunks: the first pays planning and codegen, and the fourth
    // carries a one-time state-store cost (5.3-8.5 s against 4-5 s for
    // the chunks after it).
    val warmChunks = if (o.scale == "tiny") 1 else 4
    // The reader starts before the last warm chunk, so its own first
    // requests (HTTP client, Derby statement compilation) are not timed.
    val reader = new Reader(dashboard.boundPort, o.readRate)
    var failed = 0L
    // A chunk that is not committed within a minute fails the run; the
    // thread dump says where it stopped.
    def stuck(c: Int): Unit = {
      failed += 1
      System.err.println(s"[perfbench] chunk $c not committed by all six queries after 60 s")
      Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
        System.err.println(s"  thread ${t.getName} ${t.getState}: " +
          st.take(6).mkString(" <- "))
      }
    }
    (0 until warmChunks).foreach { c =>
      if (c == warmChunks - 1) reader.start()
      push(c)
      if (!layer.awaitCommitted(names, (c + 1).toLong * ChunkEvents, 60000L)) stuck(c)
    }
    val warmEnd = Clock.nowUs
    val setupS = (System.currentTimeMillis() - Proc.jvmStartMs) / 1000.0

    // -- timed window: closed loop over chunks, open-loop readers beside it
    val cpu0 = Proc.cpuNs
    val t0 = System.nanoTime()
    val lat = mutable.ArrayBuffer.empty[Double]
    val chunkSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var i = warmChunks
    // at least MinChunks timed chunks, so a slow host does not end the
    // window with fewer samples
    while (i < poolChunks && failed == 0 && (i - warmChunks < MinChunks ||
        (System.nanoTime() - t0) / 1e9 < o.seconds)) {
      val v0 = Clock.nowUs
      val n0 = System.nanoTime()
      push(i)
      if (layer.awaitCommitted(names, (i + 1).toLong * ChunkEvents, 60000L)) {
        lat += (System.nanoTime() - n0) / 1e6
        chunkSpans += ((s"chunk-$i", v0, Clock.nowUs))
      } else stuck(i)
      i += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Proc.cpuNs - cpu0) / 1e9
    reader.finish()
    val timedChunks = lat.size
    val sparkTotals = sparkLayer.map { l =>
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext); l.totals }
    runner.stopAll()
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

    // -- output checks: sinks vs a batch evaluation over the same events
    val pushed = ClickstreamSource.decodeJson(spark.read.text(watch.toString))
    val mismatches = check(spark, pushed, cfg, kvStore)
    val reads = reader.samples.asScala.toSeq.filter(_._4 >= t0)
    val readErrors = reads.count(!_._3)
    failed += mismatches.size + readErrors

    // -- traced extras: source decode as a batch call per pushed chunk, spans
    val decodeMs = if (!tracer.enabled) 0.0 else (0 until i).map { c =>
      val d0 = Clock.nowUs
      ClickstreamSource.decodeJson(spark.read.text(watch.resolve(f"chunk-$c%05d.txt").toString))
        .write.format("noop").mode("overwrite").save()
      val d1 = Clock.nowUs
      tracer.add(s"decode chunk $c", "source.decode", d0, d1, req = s"chunk-$c")
      (d1 - d0) / 1000.0
    }.sum
    if (tracer.enabled) addSpans(tracer, layer, log, ("warm-up", g1, warmEnd) +: chunkSpans.toSeq)

    dashboard.close()
    try java.sql.DriverManager.getConnection(cfg.url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () }

    val tailPct = if (lat.size > 10) 100.0 * (1.0 - 10.0 / lat.size) else 100.0
    val e2e = Map(
      "setup_s" -> setupS,
      "cpu_s" -> cpuS / math.max(timedChunks, 1),
      "throughput_per_s" -> timedChunks.toDouble * ChunkEvents / wallS,
      "latency_p50_ms" -> Stats.median(lat.toSeq),
      "latency_geomean_ms" -> Stats.geomean(lat.toSeq))
    def p50(kind: String): Double = Stats.median(reads.filter(_._1 == kind).map(_._2))
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else sparkTotals.getOrElse(Map.empty) ++ layer.totals ++
        Layers.jdbcTables.flatMap(t => Seq(
          s"sink.jdbc.$t.ms" -> log.ms(_ == s"jdbc.$t"),
          s"sink.jdbc.$t.rows" -> Option(jdbcRows.get(t)).fold(0.0)(_.doubleValue))) ++
        Map(
          "sink.kv.execute_ms" -> log.ms(_.startsWith("kv")),
          "sink.kv.ops" -> kv.ops.get.toDouble,
          "sink.retries" -> log.retries.toDouble,
          "serve.counter_p50_ms" -> p50("counter"),
          "serve.series_p50_ms" -> p50("series"),
          "serve.sql_p50_ms" -> p50("sql"),
          "serve.errors" -> readErrors.toDouble,
          "serve.read_p50_ms" -> Stats.median(reads.map(_._2)),
          "serve.read_p99_ms" -> Stats.quantile(reads.map(_._2), 0.99),
          "source.decode_ms" -> decodeMs,
          "gen.render_s" -> (g1 - g0) / 1e6)
    Result(
      correct = failed == 0,
      attempted = timedChunks + reads.size + warmChunks,
      failed = failed,
      e2e = e2e,
      layers = layers,
      extra = Map(
        "events_per_s" -> e2e("throughput_per_s"),
        "chunk_latency_p50_ms" -> e2e("latency_p50_ms"),
        "chunk_latency_tail_ms" -> Stats.quantile(lat.toSeq, tailPct / 100.0),
        "chunk_latency_tail_percentile" -> tailPct,
        "chunk_latencies_ms" -> lat.toSeq,
        "timed_chunks" -> timedChunks,
        "timed_window_s" -> wallS,
        "process_cpu_s_window" -> cpuS,
        "dash_reads" -> reads.size,
        "dash_reads_per_s" -> o.readRate,
        "sink_failed_calls" -> log.failures,
        "dash_read_p50_ms" -> Stats.median(reads.map(_._2)),
        "dash_read_p99_ms" -> Stats.quantile(reads.map(_._2), 0.99),
        "output_mismatches" -> mismatches))
  }

  /** Chunk → trigger (from progress events) → sink call spans. */
  private def addSpans(tracer: Tracer, layer: StreamLayer, log: SinkLog,
                       chunks: Seq[(String, Long, Long)]): Unit = {
    val chunkIds = chunks.map { case (req, a, b) =>
      (tracer.add(req, "chunk", a, b, req = req), req, a) }
    def owner(us: Long): (Long, String) =
      chunkIds.filter(_._3 <= us).lastOption.orElse(chunkIds.headOption)
        .map(x => (x._1, x._2)).getOrElse((0L, ""))
    val trig = layer.triggers.asScala.toSeq.filter(_.rows > 0).map { t =>
      val (parent, req) = owner(t.startUs)
      (t.queryId, t.batchId.toString) -> (tracer.add(s"${t.query} batch ${t.batchId}",
        "runtime.trigger", t.startUs, t.endUs, parent, req), req)
    }.toMap
    log.calls.asScala.foreach { c =>
      val (parent, req) = trig.getOrElse((c.queryId, c.batchId), owner(c.startUs))
      tracer.add(if (c.ok) c.label else s"${c.label} (failed)", "sink", c.startUs, c.endUs,
        parent, req)
    }
  }

  private def norm(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => t.getTime.toString
    case d: Double => f"$d%.2f"
    case d: java.lang.Double => f"${d.doubleValue}%.2f"
    case n: java.lang.Number => n.longValue.toString
    case other => other.toString
  }

  /** Mismatch descriptions; empty when every sink holds what a batch
    * evaluation of the same pipelines over `events` gives.
    */
  private def check(spark: SparkSession, events: DataFrame,
                    cfg: JdbcSink.JdbcConfig, kv: InMemoryKV): Seq[String] = {
    val expected = Map(
      "page_view_stats" -> Pipelines.pageViews(events),
      "user_sessions" -> Pipelines.sessions(events),
      "purchase_stats" -> Pipelines.conversions(events),
      "device_stats" -> Pipelines.deviceStats(events))
    val conn = java.sql.DriverManager.getConnection(cfg.url)
    val tables = try expected.toSeq.flatMap { case (table, df) =>
      val cols = df.columns.toSeq
      val want = df.collect().map(r => cols.indices.map(i => norm(r.get(i))).mkString("|"))
        .sorted.toSeq
      val rs = conn.createStatement().executeQuery(s"SELECT ${cols.mkString(", ")} FROM $table")
      val got = mutable.ArrayBuffer.empty[String]
      while (rs.next()) got += cols.indices.map(i => norm(rs.getObject(i + 1))).mkString("|")
      val g = got.sorted.toSeq
      if (g == want) None
      else Some(s"$table: ${g.size} rows in Derby, ${want.size} expected, " +
        s"${g.diff(want).size} unexpected")
    } finally conn.close()

    val purchases = events.filter(col("event_type") === "purchase")
      .agg(count(lit(1)), sum(col("total_amount").cast("decimal(18,2)")).cast("double"))
      .collect()(0)
    val views = events.filter(col("event_type") === "page_view")
      .groupBy("page").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counters =
      (if (kv.getCounter("purchases:count") != purchases.getLong(0))
        Seq(s"purchases:count ${kv.getCounter("purchases:count")} != ${purchases.getLong(0)}")
      else Nil) ++
      (if (math.abs(kv.getFloatCounter("revenue:total") - purchases.getDouble(1)) >= 0.005)
        Seq(f"revenue:total ${kv.getFloatCounter("revenue:total")}%.2f != ${purchases.getDouble(1)}%.2f")
      else Nil) ++
      Schemas.Vocab.pages.flatMap { p =>
        val want = views.getOrElse(p, 0L)
        if (kv.getCounter(s"page_views:$p") != want)
          Some(s"page_views:$p ${kv.getCounter(s"page_views:$p")} != $want") else None
      }
    tables ++ counters
  }
}
