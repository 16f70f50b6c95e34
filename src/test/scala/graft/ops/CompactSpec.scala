package graft.ops

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CompactSpec extends SparkSpec {

  private def fingerprint(path: String) =
    spark.read.parquet(path)
      .agg(count(lit(1)), sum(col("event_id")),
        sum(col("value").cast("decimal(12,2)")))
      .head()

  test("compact: file-count arithmetic, byte accounting, content multiset preserved") {
    val work = Files.createTempDirectory("graft-compact").toFile
    // fragment the smallest fixture into 32 small files
    val frag = new File(work, "frag")
    graft.source.Tables.events(spark, sfDir)
      .repartition(32)
      .write.parquet(frag.getAbsolutePath)
    val fragFiles = frag.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(fragFiles.length == 32)
    val bytes = fragFiles.map(_.length).sum
    // target forcing >1 output file
    val target = bytes / 3 + 1
    val out = new File(work, "compacted")
    val stats = Compact.compact(spark, frag.getAbsolutePath, out, target)
    assert(stats.filesBefore == 32 && stats.bytesBefore == bytes)
    val expectN = ((bytes + target - 1) / target).toInt
    assert(stats.filesAfter == expectN, s"got ${stats.filesAfter}, want $expectN")
    assert(out.listFiles().count(_.getName.endsWith(".parquet")) == expectN)
    // content identical as a multiset (count + key sum + exact value sum)
    assert(fingerprint(out.getAbsolutePath) == fingerprint(frag.getAbsolutePath))
    // compacting small files re-encodes: per-file overhead amortizes, so
    // the rewrite never balloons the table
    assert(stats.bytesAfter <= stats.bytesBefore * 2)
    // re-compacting the compacted store preserves content again
    val out2 = new File(work, "compacted2")
    Compact.compact(spark, out.getAbsolutePath, out2, target)
    assert(fingerprint(out2.getAbsolutePath) == fingerprint(frag.getAbsolutePath))
  }

  test("compactedEvents: build-once cache, second call serves the same path") {
    val p1 = Compact.compactedEvents(spark, sfDir, fragFiles = 8, targetBytes = 1L << 20)
    val p2 = Compact.compactedEvents(spark, sfDir, fragFiles = 8, targetBytes = 1L << 20)
    assert(p1 == p2)
    assert(fingerprint(p1).getLong(0) ==
      graft.source.Tables.events(spark, sfDir).count())
  }

  test("compactedEvents: a changed events input maps to a fresh store") {
    val dir = Files.createTempDirectory("graft-compact-stale")
    val events = dir.resolve("events.parquet")
    Files.copy(java.nio.file.Paths.get(sfDir, "events.parquet"), events)
    val p1 = Compact.compactedEvents(spark, dir.toString, fragFiles = 4, targetBytes = 1L << 20)
    assert(events.toFile.setLastModified(events.toFile.lastModified() + 73000))
    val p2 = Compact.compactedEvents(spark, dir.toString, fragFiles = 4, targetBytes = 1L << 20)
    assert(p1 != p2)
  }
}
