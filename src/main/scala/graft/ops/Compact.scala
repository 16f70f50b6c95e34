package graft.ops

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction — the table-maintenance pass every streaming
  * ingest eventually needs. A micro-batch sink writes one file per
  * (trigger × partition); after a week a 100 TB event table is millions
  * of kilobyte-files, and every scan pays a task per file plus a footer
  * read per task (the same row-group parallelism physics measured for
  * `lineitem_profile` — decode parallelism is bounded by files/row
  * groups, so BOTH too-many-small and too-few-big files starve a
  * cluster). Compaction rewrites a snapshot into ~`targetBytes` files:
  * output file count is sized from the INPUT byte total
  * (⌈bytes/target⌉, floor 1), the rewrite is one round-robin
  * repartition (no shuffle key — pure bin-packing; composing with
  * [[Layout]]'s z-order/Hilbert sort is the clustered variant), and the
  * new snapshot lands via [[Materialize.publish]] so readers never
  * observe a half-written table.
  *
  * The row-identity contract — compaction changes LAYOUT, never content
  * — is what the registered query proves: `ev_compacted_revenue` runs an
  * aggregate over a fragment-then-compact copy of the events table and
  * must hash-match the DuckDB oracle computed on the RAW table.
  * `CompactSpec` pins the file-count arithmetic, byte accounting, and
  * multiset row preservation.
  */
object Compact {

  final case class CompactStats(filesBefore: Int, bytesBefore: Long,
                                filesAfter: Int, bytesAfter: Long)

  private def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  /** Rewrite the parquet directory at `in` into `out` with ~targetBytes
    * files. Returns the before/after accounting. `out` must not exist;
    * the write is staged and published by [[Materialize.publish]].
    */
  def compact(spark: SparkSession, in: String, out: File,
              targetBytes: Long): CompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val before = dataFiles(new File(in))
    val bytesBefore = before.map(_.length).sum
    val n = math.max(1L, (bytesBefore + targetBytes - 1) / targetBytes).toInt
    val staging = new File(out.getPath + ".staging." +
      java.lang.ProcessHandle.current().pid())
    spark.read.parquet(in).repartition(n)
      .write.mode("overwrite").parquet(staging.getAbsolutePath)
    Materialize.publish(staging, out)
    val after = dataFiles(out)
    CompactStats(before.size, bytesBefore, after.size, after.map(_.length).sum)
  }

  /** Fragment-then-compact copy of the events table, two [[Materialize]]
    * stores: the events rows (second-truncated ts — the registry
    * determinism contract) are first written as `fragFiles` small files —
    * the streaming-sink shape — and then compacted to ~`targetBytes`
    * files. Returns the compacted path.
    */
  def compactedEvents(spark: SparkSession, dir: String,
                      fragFiles: Int = 64,
                      targetBytes: Long = 4L * 1024 * 1024): String = {
    val events = Seq(s"$dir/events.parquet")
    Materialize.stored(spark, s"events_compacted|$fragFiles|$targetBytes", events) { p =>
      val frag = Materialize.stored(spark, s"events_fragmented|$fragFiles", events) { f =>
        graft.source.Tables.events(spark, dir)
          .withColumn("ts", date_trunc("second", col("ts")))
          .repartition(fragFiles)
          .write.parquet(f)
      }
      compact(spark, frag, new File(p), targetBytes)
    }
  }
}
