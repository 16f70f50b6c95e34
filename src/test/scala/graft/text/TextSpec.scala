package graft.text

import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

class TextSpec extends SparkSpec {

  private def one(text: String) = {
    import spark.implicits._
    Seq(text).toDF("text")
  }

  test("fimSplit: parts reassemble the document, cuts bounded and deterministic") {
    val docs = graft.source.Tables(spark, sfDir, "documents").limit(300)
    val got = Text.fimSplit(docs).collect().map(r => (r.getLong(0),
      r.getLong(1), r.getLong(2), r.getLong(3),
      r.getString(4), r.getString(5), r.getString(6)))
    assert(got.nonEmpty)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (id, n, lo, hi, pre, mid, suf) =>
      assert(0 <= lo && lo <= hi && hi <= n, s"doc $id cuts out of range")
      // token-level reassembly: the three parts concatenate to the doc
      val joined = Seq(pre, mid, suf).filter(_.nonEmpty).mkString(" ")
      assert(joined == texts(id), s"doc $id does not reassemble")
      assert(pre.split(" ").count(_.nonEmpty) == lo)
      assert(suf.split(" ").count(_.nonEmpty) == n - hi)
    }
    // deterministic: a second run yields the identical splits
    val again = Text.fimSplit(docs).collect().map(r => (r.getLong(0),
      r.getLong(1), r.getLong(2), r.getLong(3),
      r.getString(4), r.getString(5), r.getString(6)))
    assert(got.toSet == again.toSet)
  }

  test("token counting: whitespace and BPE-ish") {
    val r = one("Hello world, 42 tests!").select(
      Text.tokenCount(col("text")).as("ws"),
      Text.bpeTokenCount(col("text")).as("bpe")).collect()(0)
    assert(r.getInt(0) == 4)
    // Hello | world | , | 4 | 2 | tests | ! → 7 pieces
    assert(r.getInt(1) == 7)
  }

  test("language ID picks the profile with most stopword hits") {
    val cases = Seq(
      "the cat sat on the mat and it is happy" -> "en",
      "der hund ist nicht in das haus und die katze" -> "de",
      "le chat est dans la maison et les oiseaux" -> "fr",
      "el perro y la casa es una maravilla en madrid" -> "es",
      "你好世界" -> "zh",
      "zzz qqq xxx" -> "und")
    cases.foreach { case (text, expect) =>
      val got = one(text).select(Text.langId(col("text"))).collect()(0).getString(0)
      assert(got == expect, s"'$text' → $got, expected $expect")
    }
  }

  test("n-gram language ID identifies languages by characteristic bigrams") {
    val cases = Seq(
      "the weather then gathered there" -> "en",
      // long English prose must NOT drift to fr/es (frequency scoring,
      // not presence — presence saturates and the tie-break is fixed)
      ("it was about the question of when the weather might then change " +
        "and whether they thought that other things would still stand there") -> "en",
      "schneller geschichten auch einander zeichen" -> "de",
      "la question nécessite quelques nouveaux journaux pour toujours" -> "fr",
      "los resultados estaban claros para la ciudad de madrid" -> "es",
      "你好" -> "zh")
    cases.foreach { case (text, expect) =>
      val got = one(text).select(Text.langIdNgram(col("text"))).collect()(0).getString(0)
      assert(got == expect, s"'$text' → $got, expected $expect")
    }
  }

  test("quality score stays in [0,1] and ranks diverse text above spam") {
    val good = "a reasonably long sentence with many distinct meaningful words in it today"
    val spam = "buy buy buy buy buy buy buy buy buy buy buy buy"
    val q = (t: String) =>
      one(t).select(Text.qualityScore(col("text"))).collect()(0).getDouble(0)
    assert(q(good) > q(spam))
    Seq(good, spam, "x", "").foreach { t =>
      val v = q(t); assert(v >= 0.0 && v <= 1.0, s"'$t' → $v")
    }
  }

  test("fingerprints: rolling hash is order-sensitive, md5 matches reference value") {
    val fp = (t: String) =>
      one(t).select(Text.rollingFingerprint(col("text"))).collect()(0).getLong(0)
    assert(fp("ab") != fp("ba"))
    assert(fp("same text") == fp("same text"))
    val m = one("hello").select(Text.fingerprint(col("text"))).collect()(0).getString(0)
    assert(m == "5d41402abc4b2a76b9719d911017c592")
  }

  test("ratio features computed over tokens") {
    val r = one("the a the xyz").select(
      Text.stopwordRatio(col("text"), Seq("the", "a")).as("stop"),
      Text.distinctRatio(col("text")).as("dist")).collect()(0)
    assert(r.getDouble(0) == 0.75)
    assert(r.getDouble(1) == 0.75)
  }

  test("fused TextFeatures kernel equals the composed expressions everywhere") {
    import spark.implicits._
    // fixture corpus + crafted edges: multi-space, leading/trailing ws,
    // punct/digit-heavy, CJK short-circuit, profile-free text
    val crafted = Seq("the cat and the hat is in that box for it",
      "  leading and   multi  space ", "99 bottles!! of 99 beers?? on-the-wall",
      "\u4e00\u9fff chinese chars", "zzz qqq xxx", "der hund und die katze ist nicht hier",
      "le chat est dans la maison pour que", "a",
      // non-ASCII mixed case: forces UTF8String's slow lowercase path \u2014
      // pins that the fused kernel lowercases exactly like Spark's lower()
      // (dotted \u0130, German \u00df/umlauts, accented caps) beyond the ASCII cases
      "\u0130stanbul ISTANBUL Stra\u00dfe GR\u00dcN \u00c9lan \u00c9COLE the cat",
      "\u00c7A VA tr\u00e8s BIEN je suis L\u00c0 que le").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val fixture = graft.source.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val d = (crafted ++ fixture).toDF("doc_id", "text")
    val both = d.select(col("doc_id"),
        Text.featuresStruct(col("text")).as("f"),
        Text.langId(col("text")).as("e_stop"),
        Text.langIdNgram(col("text")).as("e_ngram"),
        Text.qualityScore(col("text")).as("e_quality"),
        Text.bpeTokenCount(col("text")).as("e_bpe"),
        Text.tokenCount(col("text")).as("e_ntok"),
        size(array_distinct(split(col("text"), "\\s+"))).as("e_dist"))
      .select(col("doc_id"), col("f.stop_lang"), col("e_stop"),
        col("f.ngram_lang"), col("e_ngram"),
        Text.qualityFromFeatures(col("f")).as("quality"), col("e_quality"),
        col("f.bpe_tokens"), col("e_bpe"), col("f.n_tokens"), col("e_ntok"),
        col("f.distinct_tokens"), col("e_dist"))
      .collect()
    both.foreach { r =>
      assert(r.getString(1) == r.getString(2), s"stop_lang @${r.getLong(0)}: $r")
      assert(r.getString(3) == r.getString(4), s"ngram_lang @${r.getLong(0)}: $r")
      assert(r.getDouble(5) == r.getDouble(6), s"quality @${r.getLong(0)}: $r")
      assert(r.getInt(7) == r.getInt(8), s"bpe @${r.getLong(0)}: $r")
      assert(r.getInt(9) == r.getInt(10), s"n_tokens @${r.getLong(0)}: $r")
      assert(r.getInt(11) == r.getInt(12), s"distinct @${r.getLong(0)}: $r")
    }
  }

  test("chunkTokens: overlapping windows cover every token, short tail kept") {
    import spark.implicits._
    val d = Seq((1L, (1 to 20).map(i => s"t$i").mkString(" ")), (2L, "solo"))
      .toDF("doc_id", "text")
    val out = Text.chunkTokens(d, chunkSize = 8, stride = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(x => (x._1, x._2))
    val doc1 = out.filter(_._1 == 1L)
    // starts 0,4,8,12,16 → 5 chunks; last is the 4-token tail
    assert(doc1.length == 5)
    assert(doc1.head._3.startsWith("t1 t2") && doc1.head._4 == 8)
    assert(doc1.last._4 == 4 && doc1.last._3 == "t17 t18 t19 t20")
    // every consecutive pair overlaps by chunkSize - stride = 4 tokens
    doc1.sliding(2).foreach { case Array(a, b) =>
      assert(a._3.split(" ").takeRight(4).toSeq == b._3.split(" ").take(4).toSeq)
    }
    // single-token document → one 1-token chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "solo", 1)))
  }

  test("repetitionStats: hand-computed bigram counts, <2-token docs dropped") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b c"),  // bigrams: a b, b a, a b, b c
      (2L, "x"),          // no bigrams → dropped
      (3L, "a  b\tb"))    // \s+ tokenization → a b, b b
      .toDF("doc_id", "text")
    val out = Text.repetitionStats(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 4L, 3L, 2L, 0.5),
      (3L, 2L, 2L, 1L, 0.5)))
  }

  test("wordBigrams kernel equals the composed HOF formulation") {
    import spark.implicits._
    val d = Seq("a b c d", "x y", "solo pair here", "über ñ 中文 mix")
      .toDF("text")
      .select(Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2) // composed form needs ≥ 2 tokens
    val both = d.select(
      Text.wordBigrams(col("toks")).as("k"),
      Text.wordBigramsComposed(col("toks")).as("c")).collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // kernel alone: < 2 tokens → empty array, no error
    val e = Seq("solo").toDF("text")
      .select(Text.wordBigrams(Text.tokens(col("text")))).collect()
    assert(e(0).getSeq[String](0).isEmpty)
  }

  test("tokenRarity: mean corpus frequency from exact integer partials") {
    import spark.implicits._
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // corpus freq: a=2, b=2, c=1
    val out = Text.tokenRarity(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 6L, 3L, 2.0),   // a·2 + a·2 + b·2 = 6 over 3 tokens
      (2L, 3L, 2L, 1.5)))  // b·2 + c·1 = 3 over 2 tokens
  }

  test("tfidfTopTerms: rare tokens outrank common ones, ties break on token") {
    import spark.implicits._
    // "rare" appears in 1 doc, "common" in all 3 → idf 3 vs 1
    val d = Seq(
      (1L, "common rare common"),
      (2L, "common common other"),
      (3L, "common other other"))
      .toDF("doc_id", "text")
    val out = Text.tfidfTopTerms(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._4)
    // doc 1: rare → 1·3/1 = 3.0 beats common → 2·3/3 = 2.0
    assert(d1.map(x => (x._2, x._3)).toSeq == Seq(("rare", 3.0), ("common", 2.0)))
    // doc 3: other (2·3/2 = 3.0) beats common (1·3/3 = 1.0)
    val d3 = out.filter(_._1 == 3L).sortBy(_._4)
    assert(d3.head._2 == "other" && d3.head._3 == 3.0)
    assert(out.count(_._1 == 2L) == 2)
  }

  test("packBins: greedy per-stratum packing, bins near target, all tokens kept") {
    import spark.implicits._
    // lang a: docs of 3 tokens each; target 7 → bins of floor(prefix/7)
    val d = (1L to 10L).map(i => (i, "t1 t2 t3", if (i <= 6) "a" else "b"))
      .toDF("doc_id", "text", "lang")
    val out = Text.packBins(d, targetTokens = 7).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))
    // lang a prefix sums before each doc: 0,3,6,9,12,15 → bins 0,0,0,1,1,2
    assert(out.filter(_._1 == "a").map(x => (x._2, x._3, x._4)).toSeq ==
      Seq((0L, 3L, 9L), (1L, 2L, 6L), (2L, 1L, 3L)))
    // no token lost: bin totals sum to the corpus token count
    assert(out.map(_._4).sum == 30L)
    // packing is per-stratum: lang b restarts at bin 0
    assert(out.filter(_._1 == "b").map(_._2).min == 0L)
  }

  test("mixtureSample: per-stratum rates via deterministic buckets") {
    import spark.implicits._
    val d = (1L to 400L).map(i => (i, "x", if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "text", "lang")
    val out = Text.mixtureSample(d, Map("en" -> 5, "zh" -> 10)).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    // zh keeps everything; en keeps buckets 0-4 (~half, hash-determined)
    assert(out.count(_._2 == "zh") == 200)
    val en = out.count(_._2 == "en")
    assert(en > 60 && en < 140, s"en kept $en of 200")
    // unknown stratum (rate absent) keeps nothing
    val out2 = Text.mixtureSample(d, Map("zh" -> 10)).collect()
    assert(!out2.map(_.getString(2)).contains("en"))
  }

  test("stratifiedSample: exactly k per stratum, hash-rank order, rerun-stable") {
    import spark.implicits._
    val d = (1L to 30L).map(i => (i, s"doc $i", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val take = Text.stratifiedSample(d, k = 4)
      .select(col("lang"), col("doc_id"), col("rnk")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(take.count(_._1 == "en") == 4 && take.count(_._1 == "de") == 4)
    // rank agrees with an independent md5 sort of the stratum
    val expectEn = (1L to 30L).filter(_ % 2 == 0)
      .sortBy(i => java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
      .take(4)
    assert(take.filter(_._1 == "en").sortBy(_._3).map(_._2).toSeq == expectEn)
    // deterministic under repartitioning
    val again = Text.stratifiedSample(d.repartition(7), k = 4)
      .select(col("lang"), col("doc_id"), col("rnk")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(take.sortBy(x => (x._1, x._3)).toSeq == again.sortBy(x => (x._1, x._3)).toSeq)
  }

  test("redactPii: emails and IPv4s replaced, clean text untouched") {
    import spark.implicits._
    val d = Seq(
      ("mail me at jane.doe+spam@sub.example.co.uk today",
        "mail me at <EMAIL> today"),
      ("host 192.168.001.1 and 203.0.113.9 respond", "host <IP> and <IP> respond"),
      ("a@b.io x 10.0.0.1", "<EMAIL> x <IP>"),
      // version strings have only 3 octet groups; emails need a TLD
      ("release 1.2.3 by user@localhost done", "release 1.2.3 by user@localhost done"),
      ("plain text, no pii at all", "plain text, no pii at all"),
      ("", "")).toDF("text", "expect")
    val out = d.withColumn("got", Text.redactPii(col("text")))
      .filter(col("got") =!= col("expect"))
    assert(out.isEmpty, out.collect().mkString("; "))
  }

  test("redactPii: email pass cannot create or destroy IP matches") {
    import spark.implicits._
    // an address whose local/domain parts are digit-dotted: the email
    // pattern consumes it whole, so no IP fragment survives
    val d = Seq("ping 1.2.3.4@9.8.7.com then 5.6.7.8").toDF("text")
    val got = d.select(Text.redactPii(col("text"))).as[String].head()
    assert(got == "ping <EMAIL> then <IP>")
  }

  test("vocabExport: known ranking, exact cumulative coverage, reaches 1.0") {
    import spark.implicits._
    // 10 instances total: a×5, b×3, c×2
    val d = Seq((1L, "a a b a c"), (2L, "b a c b a")).toDF("doc_id", "text")
    val out = Text.vocabExport(d, topN = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1, "a", 5L, 0.5), (2, "b", 3L, 0.8), (3, "c", 2L, 1.0)))
    // topN truncation keeps the head of the same ranking
    val top2 = Text.vocabExport(d, topN = 2).collect().map(_.getString(1))
    assert(top2.toSeq == Seq("a", "b"))
  }

  test("ngramNovelty: exact distinct/total trigram ratio on a crafted corpus") {
    import spark.implicits._
    // doc 1: 4 tokens → 2 trigrams ("x y z", "y z x"); doc 2 repeats doc 1's
    // first trigram; doc 3 is short → its single sub-w gram
    val d = Seq((1L, "x y z x"), (2L, "x y z"), (3L, "q r")).toDF("doc_id", "text")
    val r = Text.ngramNovelty(d, w = 3).collect()(0)
    assert(r.getInt(0) == 3)
    assert(r.getLong(1) == 4L) // instances: 2 + 1 + 1
    assert(r.getLong(2) == 3L) // distinct: "x y z", "y z x", "q r"
    assert(r.getDouble(3) == 0.75)
  }

  test("skipgramCounts ≡ brute-force pair enumeration, any partitioning") {
    import spark.implicits._
    val texts = Seq("a b c a b", "b c", "a", "c c c c")
    // driver-side brute force of the same semantics
    val brute = texts.flatMap { t =>
      val w = t.split("\\s+")
      (1 to 2).flatMap(d => w.indices.dropRight(d).map(i => (s"${w(i)} ${w(i + d)}", d)))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (minCount <- Seq(1L, 2L); parts <- Seq(1, 5)) {
      val d = texts.toDF("text").repartition(parts)
      val got = Text.skipgramCounts(d, window = 2, minCount = minCount)
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(got == brute.filter(_._2 >= minCount), s"minCount=$minCount parts=$parts")
    }
  }

  test("collocations: exact PMI ratio, brute-force agreement, top-k order") {
    import spark.implicits._
    val texts = Seq("a b a b c d", "b c a b", "d d d d")
    val uni = texts.flatMap(_.split("\\s+")).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val nTotal = uni.values.sum
    val bi = texts.flatMap { t =>
      val w = t.split("\\s+"); w.indices.dropRight(1).map(i => s"${w(i)} ${w(i + 1)}")
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val brute = bi.filter(_._2 >= 2).toSeq.map { case (pair, np) =>
      val Array(a, b) = pair.split(" ")
      (pair, np, uni(a), uni(b), np * nTotal.toDouble / (uni(a) * uni(b)))
    }.sortBy { case (pair, _, _, _, s) => (-s, pair) }
    val got = Text.collocations(texts.toDF("text"), minCount = 2L, topK = 10)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == brute)
  }

  test("lengthHistogram: bit-length buckets, exact masses") {
    import spark.implicits._
    // token counts 1, 2, 3, 8 → buckets 1, 2, 2, 4
    val d = Seq(
      ("en", "a", 1L), ("en", "a b", 3L), ("en", "a b c", 5L),
      ("fr", "a b c d e f g h", 15L))
      .toDF("lang", "text", "n_chars")
    val got = Text.lengthHistogram(d)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got == Map(
      ("en", 1) -> (1L, 1L, 1L, 1L, 1L),
      ("en", 2) -> (2L, 5L, 2L, 3L, 8L),
      ("fr", 4) -> (1L, 8L, 8L, 8L, 15L)))
  }

  /** Exact sequential reference BPE (Sennrich et al.): word-frequency
    * map, per round count adjacent pairs, merge the (count desc, pair
    * asc) argmax leftmost-non-overlapping. */
  private def referenceBpe(texts: Seq[String], nMerges: Int): Seq[(Int, String, String, Long)] = {
    var words: Map[Vector[String], Long] = texts
      .flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case (w, c) => w.split("(?!^)").toVector -> c }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to nMerges if words.exists(_._1.size >= 2)) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.size - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      val ((a, b), n) = counts.minBy { case ((x, y), c) => (-c, x, y) }
      out += ((r, a, b, n))
      words = words.groupBy { case (syms, _) =>
        val res = scala.collection.mutable.ArrayBuffer.empty[String]
        for (s <- syms) {
          if (res.nonEmpty && res.last == a && s == b) res(res.size - 1) = a + b
          else res += s
        }
        res.toVector
      }.view.mapValues(_.values.sum).toMap
    }
    out.toSeq
  }

  test("bpeMerges matches the exact sequential reference, merge by merge") {
    val texts = Seq(
      "low low low low low", "lower lower", "newest newest newest newest newest newest",
      "widest widest widest", "low lower newest")
    val want = referenceBpe(texts, 12)
    val vocab = texts.flatMap(_.split("\\s+")).distinct.size
    // the default cap holds this vocabulary (driver-local loop); a cap
    // below it forces the distributed loop
    for (cap <- Seq(None, Some(vocab - 1))) {
      // a fresh session reports only its own queries to its listeners
      val s = spark.newSession()
      import s.implicits._
      val ranked = new java.util.concurrent.atomic.AtomicInteger
      s.listenerManager.register(new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (qe.optimizedPlan.exists(_.isInstanceOf[Sort])) ranked.incrementAndGet()
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      val df = texts.toDF("text")
      val got = cap.fold(Text.bpeMerges(df, nMerges = 12))(Text.bpeMerges(df, 12, _))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(got == want, s"cap $cap\ngot  $got\nwant $want")
      // sanity: the classic corpus learns multi-char units
      assert(got.exists { case (_, a, b, _) => (a + b).length >= 3 })
      // only the distributed loop ranks pair counts in a Spark sort
      if (cap.nonEmpty) eventually(timeout(30.seconds)) { assert(ranked.get > 0) }
    }
  }

  test("bpeMerges batching survives tie-heavy and conflict-heavy corpora") {
    import spark.implicits._
    // deliberately tied pair counts and chained shared symbols: the batch
    // acceptance rule must fall back exactly where sequential order and
    // batched order could diverge
    val tied = Seq(
      "ab ab ab", "bc bc bc", "cd cd cd", // (a,b) (b,c) (c,d) all count 3
      "abc abc", "bcd bcd", // overlapping 3-grams reusing the same symbols
      "aaaa aaaa aaaa", // self-pair (a,a) with overlap handling
      "xy xy xy xy yz yz yz yz zx zx zx zx") // disjoint-then-conflicting cycle
    val got = Text.bpeMerges(tied.toDF("text"), nMerges = 15)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == referenceBpe(tied, 15), s"\ngot  $got\nwant ${referenceBpe(tied, 15)}")

    // deterministic pseudo-random corpus over a 6-letter alphabet: dense
    // symbol sharing, many equal counts
    val rnd = new scala.util.Random(41)
    val rand = Seq.fill(120)(
      Seq.fill(1 + rnd.nextInt(5))(('a' + rnd.nextInt(6)).toChar).mkString).mkString(" ")
    val got2 = Text.bpeMerges(Seq(rand).toDF("text"), nMerges = 25)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got2 == referenceBpe(Seq(rand), 25), s"\ngot  $got2\nwant ${referenceBpe(Seq(rand), 25)}")
  }

  test("bpeMerges is invariant to input partitioning") {
    import spark.implicits._
    val texts = Seq("pack my box with five dozen liquor jugs",
      "the quick brown fox jumps over the lazy dog",
      "pack the box pack the box", "jugs jugs jugs dozen")
    def run(parts: Int) =
      Text.bpeMerges(texts.toDF("text").repartition(parts), nMerges = 8)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(run(1) == run(7))
  }

  test("bpeMerges stops early when every word is a single symbol") {
    import spark.implicits._
    // 'a b' has no adjacent pair after 0 merges are possible
    val got = Text.bpeMerges(Seq("a b a b").toDF("text"), nMerges = 5)
    assert(got.collect().isEmpty)
  }

  test("bpeEncoded ≡ sequential reference encoder incl. overlap/tie adversaries") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaa aaab abab"), // self-pair overlap + chained shared symbols
      (2L, "low lower lowest"),
      (3L, "aaa aaa aaa aaa"), // heavy word repetition → the memo path
      (4L, "ab ab bc bc cd cd abc bcd"), // tie-heavy table
      (5L, "q"), // single-symbol word: no merge ever applies
      (6L, "  ") // no tokens: dropped, mirroring the oracle's word join
    ).toDF("doc_id", "text")
    val merges = Text.bpeMerges(docs, nMerges = 8).orderBy("rank")
      .select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(merges.nonEmpty)
    // independent reference: rank-order application, leftmost
    // non-overlapping per merge — the operator's defined semantics
    def encodeWord(w: String): Seq[String] = {
      var syms: Vector[String] = w.map(_.toString).toVector
      merges.foreach { case (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toVector
      }
      syms
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = Seq(
      (1L, "aaa aaab abab"), (2L, "low lower lowest"),
      (3L, "aaa aaa aaa aaa"), (4L, "ab ab bc bc cd cd abc bcd"), (5L, "q"))
      .map { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).flatMap(encodeWord)
        (id, toks.length.toLong, md5hex(toks.mkString(" ")))
      }
    val got = Text.bpeEncoded(docs, merges).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == want, s"\ngot  $got\nwant $want")
    // encoding the TRAINING corpus reproduces the trainer's final word
    // table: total token count must equal Σ per-word symbol counts
    assert(got.map(_._2).sum > 0)
    // partition invariance: the kernel is per-row, the memo per-instance
    val repart = Text.bpeEncoded(docs.repartition(7), merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(repart == got)
  }

  test("invertedIndex: exact df/tf, capped sorted postings, partition-invariant") {
    import spark.implicits._
    val docs = Seq(
      (10L, "alpha beta alpha"),   // alpha tf=2 here
      (3L, "alpha gamma"),
      (7L, "beta beta beta"),
      (1L, "alpha")
    ).toDF("doc_id", "text")
    def run(parts: Int) =
      Text.invertedIndex(docs.repartition(parts), postingCap = 2)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
    val want = Set(
      ("alpha", 3L, 4L, "1,3"),   // in docs 1,3,10 → capped to smallest 2
      ("beta", 2L, 4L, "7,10"),
      ("gamma", 1L, 1L, "3"))
    assert(run(1) == want)
    assert(run(5) == want, "posting cap must be deterministic under partitioning")
  }

  test("bm25TopK: saturation + length normalization rank as BM25 must, partition-invariant") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hash join stream"),                        // all 3 terms, short
      (2L, "hash hash hash hash"),                     // one term repeated
      (3L, "hash join " + ("filler " * 50).trim),      // 2 terms, long doc
      (4L, "scan sort merge"),                         // no query terms
      (5L, "stream join hash stream")                  // all 3, one repeat
    ).toDF("doc_id", "text")
    def run(parts: Int) =
      Text.bm25TopK(docs.repartition(parts), Seq("hash", "join", "stream"), topK = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val got = run(1)
    val byId = got.map(t => t._1 -> t._2).toMap
    assert(!byId.contains(4L), "doc with no query terms must not score")
    assert(got.map(_._1).take(2).toSet == Set(1L, 5L),
      s"3-term docs must outrank partial matches: $got")
    assert(byId(2L) < byId(1L), "term repetition must saturate below coverage")
    assert(byId(3L) < byId(1L), "length normalization must damp the long doc")
    // float sum over pivoted fixed-order columns → identical under any partitioning
    assert(run(7) == got, "scores must be bit-identical under repartition")
  }

  test("invertedIndexMerge: sequential batches ≡ one-shot index, cap re-trimmed at each step") {
    import spark.implicits._
    val all = Seq(
      (30L, "alpha beta"), (5L, "alpha"), (12L, "alpha gamma"),
      (3L, "alpha beta beta"), (21L, "delta"), (8L, "alpha")
    ).toDF("doc_id", "text")
    val want = Text.invertedIndex(all, postingCap = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    // three arrival orders, two batch splits each
    for (cut <- Seq(5L, 10L, 25L)) {
      val merged = Text.invertedIndexMerge(
        Text.invertedIndex(all.filter(col("doc_id") < cut), postingCap = 2),
        all.filter(col("doc_id") >= cut), postingCap = 2)
      val got = merged.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(got == want, s"cut=$cut: merged index diverged from rebuild")
    }
    // the cap must bite: alpha appears in 5 docs, postings hold 2
    assert(want.exists { case (t, df, _, p) => t == "alpha" && df == 5 && p == "3,5" })
  }

  test("temperatureMixture: head stratum flattened toward √-profile, tail kept; deterministic") {
    import spark.implicits._
    // 1600 'head' docs vs 100 'tail' docs — a 16:1 skew
    val docs = ((0L until 1600L).map(i => (i, "head")) ++
      (10000L until 10100L).map(i => (i, "tail"))).toDF("doc_id", "lang")
    def run(parts: Int) =
      Text.temperatureMixture(docs.repartition(parts), "lang", budgetDiv = 2)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = run(1)
    assert(run(5) == got, "sample must be identical under any partitioning")
    val byLang = got.groupBy(_._2).view.mapValues(_.size).toMap
    val headRate = byLang("head").toDouble / 1600
    val tailRate = byLang("tail").toDouble / 100
    // w: head=40, tail=10 → rates ∝ w/n: head 850·40/(50·1600)=0.425,
    // tail 850·10/(50·100)=1.7 → capped at 1: tail keeps everything
    assert(tailRate == 1.0, s"tail must be fully kept, was $tailRate")
    assert(headRate < 0.5 && headRate > 0.3,
      s"head must be down-sampled near its 0.425 target, was $headRate")
  }

  test("BottomKIds: bounded buffer, merge associativity at any split") {
    val agg = new Text.BottomKIds(3)
    val xs = Seq(9L, 2L, 7L, 2L, 11L, 1L, 5L)
    val whole = xs.foldLeft(agg.zero)(agg.reduce)
    assert(whole == Seq(1L, 2L, 2L))
    for (cut <- 0 to xs.size) {
      val (l, r) = xs.splitAt(cut)
      val m = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(m == whole, s"cut=$cut")
    }
  }

  test("tokenDrift: planted shift flagged, balanced token quiet, bit-stable under partitioning") {
    import spark.implicits._
    // cohort 0 over-represents "drifted", cohort 1 over-represents
    // "surged", "stable" appears evenly; filler balances total mass
    val docs =
      (1 to 60).map(i => (i.toLong, "c0", "stable drifted drifted filler word")) ++
      (1 to 60).map(i => (i.toLong + 100, "c1", "stable surged surged other word"))
    val df = docs.toDF("doc_id", "source", "text")
    val cohort = when(col("source") === "c0", 0).otherwise(1)
    val out = Text.tokenDrift(df, cohort, minSupport = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(out("drifted") > 3.0, s"planted A-shift not flagged: ${out("drifted")}")
    assert(out("surged") < -3.0, s"planted B-shift not flagged: ${out("surged")}")
    assert(math.abs(out("stable")) < 0.01, s"balanced token flagged: ${out("stable")}")
    // support floor: every token here appears ≥ 60 times; a rare token
    // below the floor must not appear
    val rare = df.union(Seq((999L, "c0", "hapax")).toDF("doc_id", "source", "text"))
    val outRare = Text.tokenDrift(rare, cohort, minSupport = 20)
      .collect().map(r => r.getString(0)).toSet
    assert(!outRare.contains("hapax"))
    // determinism: identical bits under adversarial repartition
    for (parts <- Seq(1, 7, 32)) {
      val again = Text.tokenDrift(df.repartition(parts), cohort, minSupport = 20)
        .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
      assert(again == out, s"parts=$parts")
    }
  }

  test("bigramLmScore: hand-computed conditionals, boilerplate scores high, partition-invariant") {
    import spark.implicits._
    // corpus model: c(a b)=3, c(b a)=1, c(b c)=1; heads c(a,·)=3, c(b,·)=2
    // → p_scaled(a b)=10⁶·3/3=1000000, p_scaled(b a)=p_scaled(b c)=500000
    val docs = Seq(
      (1L, "a b a b"),  // grams: (a b)×2, (b a) → sum 2.5e6 over 3
      (2L, "a b c"),    // grams: (a b), (b c) → sum 1.5e6 over 2
      (3L, "x"))        // < 2 tokens → dropped
      .toDF("doc_id", "text")
    val out = Text.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L, 2500000L, 2500000.0 / 3)))
    assert(out(2L) == ((2L, 1500000L, 750000.0)))
    // the curation property: the templated doc is more predictable
    assert(out(1L)._3 > out(2L)._3)
    // integer arithmetic → bit-identical under adversarial partitioning
    for (parts <- Seq(1, 5, 32)) {
      val again = Text.bigramLmScore(docs.repartition(parts)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(again == out, s"parts=$parts")
    }
  }

  test("normalizeText: canonical form, idempotent, collapses dedup-fracturing variants") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    // the same sentence under case/whitespace/control noise — exactly the
    // variants whose raw fingerprints would fracture a dup group
    val variants = Seq(
      "the quick brown fox",
      "The  Quick\tBrown Fox",
      "\u0001THE QUICK\nBROWN FOX  ",
      "  the\r\nquick  brown\u0007fox")
    val df = variants.toDF("t")
      .select(col("t"), Text.normalizeText(col("t")).as("norm"))
    val norms = df.select("norm").as[String].collect()
    assert(norms.toSet == Set("the quick brown fox"))
    // idempotent: normalizing the canonical form is the identity
    val again = df.select(Text.normalizeText(col("norm"))).as[String].collect()
    assert(again.toSeq == norms.toSeq)
    // the motivating property: raw md5 fingerprints all differ,
    // normalized fingerprints all collide
    val rawFps = variants.toDF("t").select(md5(col("t"))).as[String].collect()
    assert(rawFps.distinct.length == variants.length)
    val normFps = df.select(md5(col("norm"))).as[String].collect()
    assert(normFps.distinct.length == 1)
  }

  test("qualityCalibrated: within-source percentiles, endpoints exact, partition-invariant") {
    import spark.implicits._
    // source A: 5 long docs (high raw scores); source B: 5 terse docs
    // (low raw scores); source C: a singleton. Calibration must depend
    // ONLY on within-source rank, not the raw scale.
    val docs = (
      (1L to 5L).map(i => (i, "A", Seq.fill(10 * i.toInt)("tok").zipWithIndex
        .map { case (w, j) => s"$w$j" }.mkString(" "))) ++
      (11L to 15L).map(i => (i, "B", Seq.fill((i - 10).toInt)("x").mkString(" "))) ++
      Seq((21L, "C", "lonely doc text"))
    ).toDF("doc_id", "source", "text")
    val out = Text.qualityCalibrated(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // each 5-doc source spans exactly {0, 250000, 500000, 750000, 1000000}
    val expectSteps = Set(0L, 250000L, 500000L, 750000L, 1000000L)
    assert((1L to 5L).map(out).toSet == expectSteps, s"source A: $out")
    assert((11L to 15L).map(out).toSet == expectSteps, s"source B: $out")
    assert(out(21L) == 0L, "singleton source pins to 0")
    // ≡ the naive per-source window formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
    val naive = docs
      .select(col("doc_id"), col("source"), Text.qualityScore(col("text")).as("quality"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .select(col("doc_id"),
        expr("(rn - 1) * 1000000L div greatest(n - 1L, 1L)").as("p"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == naive)
    val repart = Text.qualityCalibrated(docs.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(repart == out, "partition-invariant")
  }

  test("dupNgramStats: ≡ brute-force Σ_{cnt≥2} cnt; edges; partition-invariant") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b d"),      // "a b c" ×2, plus dup "b c a" etc.
      (2L, "x y z w v u"),            // all 3-grams distinct → 0
      (3L, "p p p p p"),              // one gram repeated: 3 occurrences, all dup
      (4L, "q r"),                    // shorter than n → total 0, NULL fraction
      (5L, "")                        // empty text
    ).toDF("doc_id", "text")
    val out = Text.dupNgramStats(docs, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap

    // brute-force reference
    def ref(text: String): (Long, Long) = {
      val t = text.split("\\s+").filter(_ => true)
      if (t.length < 3) (0L, 0L) else {
        val grams = t.sliding(3).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.size)
        (grams.size.toLong, counts.values.filter(_ >= 2).map(_.toLong).sum)
      }
    }
    Seq(1L -> "a b c a b c a b d", 2L -> "x y z w v u", 3L -> "p p p p p")
      .foreach { case (id, text) =>
        val (total, dup) = ref(text)
        assert(out(id)._1 == total && out(id)._2 == dup,
          s"doc $id: got ${out(id)}, want ($total, $dup)")
        assert(out(id)._3.contains(dup.toDouble / total))
      }
    assert(out(3L) == ((3L, 3L, Some(1.0))), "pure repetition → fraction 1")
    assert(out(2L)._2 == 0L, "distinct grams → 0 duplicated occurrences")
    assert(out(4L) == ((0L, 0L, None)) && out(5L)._3.isEmpty,
      "short docs: total 0, NULL fraction")

    val repart = Text.dupNgramStats(docs.repartition(4), n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(repart == out, "partition-invariant")
  }

  test("epochShuffle: dense permutation ≡ window formulation; epochs decorrelate") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Text.epochShuffle(docs.repartition(7), epoch = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.values.toSeq.sorted == (1L to 200L), "positions are dense 1..n")
    val naive = docs
      .select(col("doc_id"), md5(concat_ws(":", lit(3), col("doc_id"))).as("k"))
      .withColumn("p", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("doc_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == naive, "distributed rank ≡ single-window rank")
    val epoch4 = Text.epochShuffle(docs, epoch = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(epoch4 != out, "different epochs permute differently")
    assert(Text.epochShuffle(docs.repartition(3), epoch = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap == out, "rerun-stable")
  }

  test("mixtureWaterfill: ≡ iterative reference, conserves the budget, caps at availability") {
    import spark.implicits._
    // deterministic jagged availabilities/weights — some sources tiny
    // (must saturate), some huge (must share the remainder pro rata)
    val srcs = (0 until 12).map { i =>
      (s"s$i", (i * i * 37 + 11).toLong, (i % 5 + 1).toLong)
    }
    // iterative reference: raise the water level source by source
    def reference(budget: Long): Map[String, Double] = {
      var remaining = budget.toDouble
      var active = srcs.toList
      val alloc = scala.collection.mutable.Map.empty[String, Double]
      var changed = true
      while (changed && active.nonEmpty) {
        val wSum = active.map(_._3).sum.toDouble
        val level = remaining / wSum
        val (sat, unsat) = active.partition { case (_, a, w) => a <= level * w }
        changed = sat.nonEmpty
        sat.foreach { case (s, a, _) => alloc(s) = a.toDouble; remaining -= a.toDouble }
        active = unsat
      }
      val wSum = active.map(_._3).sum.toDouble
      active.foreach { case (s, _, w) => alloc(s) = remaining * w / wSum }
      alloc.toMap
    }
    for (budget <- Seq(0L, 500L, 2000L, 10000L, srcs.map(_._2).sum + 100)) {
      val got = graft.text.Text.mixtureWaterfill(
          srcs.toDF("source", "avail_tokens", "weight"), budget)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(3), r.getDouble(4)))
      val ref = reference(budget)
      got.foreach { case (s, avail, saturated, alloc) =>
        assert(alloc >= -1e-9 && alloc <= avail + 1e-9, s"$s alloc $alloc out of [0, $avail]")
        assert(math.abs(alloc - ref(s)) < 1e-6,
          s"$s: got $alloc, reference ${ref(s)} at budget $budget")
        assert(saturated == (math.abs(alloc - avail) < 1e-9),
          s"$s saturated flag inconsistent at budget $budget")
      }
      val total = got.map(_._4).sum
      val expectTotal = math.min(budget, srcs.map(_._2).sum).toDouble
      assert(math.abs(total - expectTotal) < 1e-6,
        s"Σ alloc $total ≠ min(budget, Σ avail) $expectTotal")
    }
  }
}
