package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1`
  * plus the paths `perfbench/run.py` passes. Writes the full record, with
  * every end-to-end and per-layer value it measured and, when traced, the
  * spans, to `--record`; `perfbench/run.py` builds the result line from it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Path.of(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Path.of(o.work, "warehouse").toString)
      .config("spark.sql.streaming.stopTimeout", "10s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(o.trace)
    val sparkLayer = if (o.trace) Some(new SparkLayer(tracer)) else None
    val planLayer = if (o.trace) Some(new PlanLayer) else None
    sparkLayer.foreach(spark.sparkContext.addSparkListener)
    planLayer.foreach(spark.listenerManager.register)

    val res =
      try o.workload match {
        case "stream_catchup" => StreamCatchup.run(spark, o, tracer, sparkLayer)
        case "batch_corpus" => BatchSuite.run(spark, o, tracer, sparkLayer, planLayer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()

    val e2e = res.e2e + ("peak_rss_mb" -> Proc.peakRssMb)
    val recordPath = Path.of(o.record)
    Files.createDirectories(recordPath.getParent)
    val spansFile = if (o.trace) {
      val p = Path.of(o.record.stripSuffix(".json") + ".spans.jsonl")
      tracer.writeJsonLines(p)
      p.getFileName.toString
    } else null
    val record = Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "scale" -> o.scale, "stamp" -> Json.Raw(o.stamp),
      "jvm_flags" -> Proc.jvmFlags, "local_cpus" -> cpus,
      "correct" -> res.correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "end_to_end" -> e2e, "per_layer" -> res.layers,
      "self_time_ms" -> tracer.selfTimeMs, "spans" -> spansFile,
      "details" -> res.extra))
    Files.write(recordPath, (record + "\n").getBytes(StandardCharsets.UTF_8))

    // Streaming and listener threads are non-daemon in places; the record
    // is written, so end the JVM here.
    sys.exit(0)
  }
}
