package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.source.Tables

/** Deterministic Zipf(1)-vocabulary corpus, generated identically in Spark
  * and DuckDB from `doc_id` alone (the fixture documents table supplies
  * only the id universe, so the corpus exists wherever the fixtures do).
  *
  * Why it exists: the fixture documents' 31-token vocabulary is the
  * adversarial DENSE case for token-bucket candidate generation — every
  * round's PairStats on it measures the worst case, not the realistic one.
  * This corpus has the realistic shape: token frequency ∝ 1/rank over a
  * ~2047-word vocabulary, so `doc_jaccard_pairs_zipf` re-proves the
  * non-degenerate candidate volume under the driver's oracle check every
  * round.
  *
  * Construction, per (doc, position): a minstd LCG chain yields a bucket
  * `b ~ Uniform(0..10)` and a rank uniform in `[2^b, 2^(b+1))`. Equal mass
  * per dyadic bucket is exactly the Zipf(1) integral (`∫1/r dr` over
  * `[2^b, 2^(b+1)]` is a constant), so P(rank = r) ≈ (1/11)·1/r. Every
  * 50th doc (`doc_id % 50 == 17`) is a planted near-duplicate of its
  * predecessor: same token stream, last 3 positions re-drawn under its own
  * id — the pairs the jaccard query must find. All arithmetic is 63-bit
  * integer (ANSI-safe), so both engines agree bit-for-bit.
  */
object ZipfCorpus {
  private val P = 2147483647L // minstd modulus (2^31 - 1)
  private val A = 48271L      // minstd multiplier

  /** Spark side: (doc_id, text). */
  def apply(s: SparkSession, dir: String): DataFrame = {
    def tok(a: Column, j: Column): Column = {
      val x = (a * lit(100003L) + j * lit(7919L) + lit(12345L)) % lit(P)
      val h = (x * lit(A)) % lit(P)
      val h2 = (h * lit(A)) % lit(P)
      val b = (h % lit(11L)).cast("int")
      val w = element_at(array((0 to 10).map(k => lit(1L << k)): _*), b + lit(1))
      concat(lit("t"), (w + h2 % w).cast("string"))
    }
    Tables(s, dir, "documents").select(col("doc_id"))
      .withColumn("base",
        when(col("doc_id") % 50 === 17, col("doc_id") - 1).otherwise(col("doc_id")))
      .withColumn("n_tok",
        (lit(30L) + ((col("base") * lit(A) + lit(999983L)) % lit(P)) % lit(40L)).cast("int"))
      .withColumn("text", array_join(
        transform(sequence(lit(0), col("n_tok") - 1),
          j => when(j >= col("n_tok") - 3, tok(col("doc_id"), j))
            .otherwise(tok(col("base"), j))), " "))
      .select("doc_id", "text")
  }

  /** The generated corpus as a [[graft.ops.Materialize]] store:
    * [[apply]]'s text is COMPUTED, so every downstream re-scan would
    * replay the 65-term generator chain — the AllPairs pipeline alone
    * reads its input five times (ranks, hot-bucket census, both prefix
    * sides, verify join-back), which made regeneration ~4/5ths of
    * `doc_jaccard_pairs_zipf`'s runtime. A real pipeline generates a
    * synthetic corpus TO A TABLE once and scans it like any other input;
    * this reproduces that shape.
    */
  def materialized(s: SparkSession, dir: String): DataFrame =
    graft.ops.Materialize.cached(s, "zipf_corpus", Seq(s"$dir/documents.parquet"))(
      apply(s, dir))

  /** DuckDB side: one SELECT producing the identical (doc_id, text). */
  val sql: String = {
    def tok(a: String): String = {
      val x = s"(($a * 100003 + j * 7919 + 12345) % $P)"
      val h = s"(($x * $A) % $P)"
      val h2 = s"(($h * $A) % $P)"
      val b = s"($h % 11)"
      val w = s"([1,2,4,8,16,32,64,128,256,512,1024][$b + 1])"
      s"'t' || CAST($w + $h2 % $w AS VARCHAR)"
    }
    s"""SELECT doc_id, array_to_string(list_transform(range(n_tok),
          j -> CASE WHEN j >= n_tok - 3 THEN ${tok("doc_id")}
               ELSE ${tok("base")} END), ' ') AS text
        FROM (SELECT doc_id, base,
                30 + (((base * $A + 999983) % $P) % 40) AS n_tok
              FROM (SELECT doc_id,
                      CASE WHEN doc_id % 50 = 17 THEN doc_id - 1 ELSE doc_id END AS base
                    FROM documents))"""
  }
}
