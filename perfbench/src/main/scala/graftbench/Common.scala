package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Command-line options of one benchmark run (see perfbench/README.md). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    scale: String,
    fixtures: String,
    work: String,
    goldens: String,
    record: String,
    stamp: String,
    writeGoldens: Boolean,
    readRate: Double)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toInt,
      trace = req("trace") == "1",
      scale = m.getOrElse("scale", "default"),
      fixtures = req("fixtures"),
      work = req("work"),
      goldens = req("goldens"),
      record = req("record"),
      stamp = m.getOrElse("stamp", "{}"),
      writeGoldens = m.get("write-goldens").contains("1"),
      readRate = m.getOrElse("read-rate", "10").toDouble)
  }
}

/** What a workload hands back to [[Main]]. `e2e` carries every end-to-end
  * metric, `layers` the per-layer metrics a traced run collected, `extra`
  * anything else worth keeping in the record (not printed on stdout).
  */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    layers: Map[String, Double],
    extra: Map[String, Any])

/** Process-level counters of this JVM. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def jvmFlags: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Epoch-microsecond clock with nanoTime resolution. Spark's listener
  * events carry epoch milliseconds, so spans from both sources share it.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Long, name: String, layer: String, startUs: Long,
                      endUs: Long, parent: Long, req: String)

/** In-memory span store of a traced run. Every span has a name, a layer,
  * start and end (epoch µs), a parent span id (0 = root) and a request id
  * shared by all spans of one chunk or one query. A disabled tracer
  * records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def add(name: String, layer: String, startUs: Long, endUs: Long,
          parent: Long = 0L, req: String = "", id: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id == 0L) newId() else id
      spans.add(Span(sid, name, layer, startUs, endUs, parent, req))
      sid
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in ms: each span's duration minus the durations
    * of its direct children (floored at 0; concurrent children can cover
    * more than their parent's wall time).
    */
  def selfTimeMs: Map[String, Double] = {
    val ss = all
    val childUs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endUs - c.startUs).sum }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => math.max(0L,
        (s.endUs - s.startUs) - childUs.getOrElse(s.id, 0L))).sum / 1000.0
    }
  }

  def writeJsonLines(path: Path): Unit = {
    val lines = all.sortBy(_.startUs).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "parent" -> s.parent,
        "req" -> s.req))
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the record and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append("\\u%04x".format(c.toInt))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Pre-rendered JSON passed through verbatim. */
  final case class Raw(json: String)
}
