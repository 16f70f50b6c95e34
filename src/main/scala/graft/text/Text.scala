package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text analysis for large-scale corpus pipelines: token
  * counting, quality scoring, language ID, fingerprinting. Everything is
  * built from codegen'd builtins (string + higher-order array functions) —
  * no UDFs — so the expressions stay inside WholeStageCodegen and scale
  * linearly with executors.
  */
object Text {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword pieces: letter runs, digits, or single non-space
    * symbols — the shape GPT-style pre-tokenizers produce. Counted via a
    * regex that mirrors `[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]`.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Share of tokens found in `stopwords` (language-bound quality signal). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val stops = array(stopwords.map(lit): _*)
    size(filter(tokens(text), w => array_contains(stops, w))) / tokenCount(text)
  }

  /** Share of distinct tokens — low values flag boilerplate/spam. */
  def distinctRatio(text: Column): Column =
    size(array_distinct(tokens(text))) / tokenCount(text)

  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))) /
      greatest(length(text), lit(1)) // ANSI mode: guard the empty string

  def digitRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[0-9]", ""))) /
      greatest(length(text), lit(1))

  /** Composite quality score in [0,1]: penalizes extreme lengths, low
    * lexical diversity, and punctuation/digit noise. Weights are heuristic;
    * the point is a cheap, fully-vectorized scorer.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text) / lit(64.0), lit(1.0))
    val divScore = least(distinctRatio(text) * 2.0, lit(1.0))
    val noise = punctRatio(text) + digitRatio(text)
    greatest(lit(0.0), least(lit(1.0),
      lenScore * 0.4 + divScore * 0.4 + (lit(1.0) - noise) * 0.2))
  }

  /** Stopword profiles for the n-gram/stopword language-ID heuristic. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "en", "por"))

  /** Character-bigram profiles — frequent bigrams distinctive per
    * language (the classic n-gram language-ID signal; public knowledge,
    * e.g. Cavnar & Trenkle's n-gram text categorization).
    */
  val bigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd"),
    "de" -> Seq("en", "er", "ch", "de", "ei", "ie", "te", "au", "un", "ge"),
    "fr" -> Seq("es", "le", "de", "en", "re", "nt", "ou", "qu", "ai", "ur"),
    "es" -> Seq("de", "en", "el", "la", "os", "es", "ar", "ue", "ra", "ci"))

  /** Shared argmax over (hits, lang) structs, with the CJK short-circuit
    * (no spaces/bigram profiles to count there) and the `und` fallback.
    */
  private def argmaxLang(text: Column, scored: Column): Column = {
    val best = element_at(reverse(array_sort(scored)), 1)
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Occurrence count of a literal substring (no regex escape issues). */
  private def occurrences(haystack: Column, needle: String): Column =
    ((length(haystack) - length(replace(haystack, lit(needle), lit("")))) /
      needle.length).cast("int")

  /** n-gram language ID: score = total occurrences of the language's
    * characteristic bigrams (frequency, not presence — presence saturates
    * on any long text and the tie-break would pick a fixed language).
    * Coarser than the stopword profile but robust to texts without
    * function words (titles, fragments).
    */
  def langIdNgram(text: Column): Column = {
    val lowered = lower(text)
    val scored = array(bigramProfiles.toSeq.sortBy(_._1).map { case (lang, bgs) =>
      struct(bgs.map(bg => occurrences(lowered, bg)).reduce(_ + _).as("hits"),
        lit(lang).as("lang"))
    }: _*)
    argmaxLang(text, scored)
  }

  /** Language ID: pick the profile with the most stopword hits; `und`
    * (undetermined) when nothing matches. Pure expression — argmax is done
    * with a sorted array of (hits, lang) structs.
    */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scored = array(langProfiles.toSeq.sortBy(_._1).map { case (lang, stops) =>
      val stopArr = array(stops.map(lit): _*)
      struct(size(filter(toks, w => array_contains(stopArr, w))).as("hits"),
        lit(lang).as("lang"))
    }: _*)
    argmaxLang(text, scored)
  }

  /** All langid/quality features in one fused native kernel (see
    * graft.functions.TextExpressions.TextFeatures): struct(stop_lang,
    * ngram_lang, n_tokens, distinct_tokens, n_chars, punct_chars,
    * digit_chars, bpe_tokens). Same outputs as the composed expressions
    * above — TextSpec asserts the equivalence — at a fraction of the cost
    * (the HOF/`replace` formulations walk interpreted trees per element).
    */
  def featuresStruct(text: Column): Column =
    graft.functions.TextExpressions.textFeatures(text, langProfiles, bigramProfiles)

  /** [[qualityScore]] recomputed from [[featuresStruct]] components —
    * identical arithmetic on identical integers, so identical doubles.
    */
  def qualityFromFeatures(f: Column): Column = {
    val lenScore = least(f.getField("n_tokens") / lit(64.0), lit(1.0))
    val divScore = least((f.getField("distinct_tokens") / f.getField("n_tokens")) * 2.0, lit(1.0))
    val nc = greatest(f.getField("n_chars"), lit(1))
    val noise = (f.getField("punct_chars") / nc) + (f.getField("digit_chars") / nc)
    greatest(lit(0.0), least(lit(1.0),
      lenScore * 0.4 + divScore * 0.4 + (lit(1.0) - noise) * 0.2))
  }

  /** Deterministic hash-mod sample bucket: an integer in [0, buckets)
    * derived from md5 of the id — rerun-stable, partitioning-independent,
    * and reproducible by any engine with md5 (unlike `df.sample`). Keep a
    * p% sample by filtering `bucket < buckets·p`.
    */
  def hashModBucket(id: Column, buckets: Int = 10): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** PII scrubbing — the pre-training redaction pass every distributed
    * corpus pipeline runs before text leaves the ingest boundary. The
    * patterns deliberately stay inside the regex subset with identical
    * semantics in Java (`java.util.regex`, Spark codegen) and RE2
    * (DuckDB, and the Go/Rust scrubbers these corpora typically meet):
    * character classes, bounded repetition and `\b` on ASCII text — no
    * lookaround, no backreferences, so any engine replays the result
    * byte-identically. `regexp_replace` is a narrow codegen'd expression:
    * the scrub runs scan-side, streams, and never shuffles.
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  val ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Emails first, then IPv4s: a redacted email can never create an IP
    * match, and the placeholders contain no pattern characters.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      ipv4Pattern, "<IP>")

  /** Canonicalization — the normalization pass that must precede
    * fingerprinting/dedup (md5 of un-normalized text treats "Foo  bar"
    * and "foo bar" as distinct documents, fracturing dup groups on
    * whitespace and case noise). Three steps, order significant:
    * control and whitespace characters (C0 range) fold to spaces first,
    * runs of spaces collapse, outer spaces trim, then case folds. Like
    * [[redactPii]] the patterns live in the Java∩RE2 subset (character
    * classes only) so any engine replays the canonical form
    * byte-identically; `lower` agrees across engines on ASCII (the
    * locale-sensitive codepoints — dotted İ etc. — are exactly what a
    * cross-engine pipeline must NOT rely on, so the contract is scoped
    * to ASCII input, which langId upstream guarantees for the en slice).
    * Narrow codegen'd expressions: runs scan-side, streams, no shuffle.
    */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1f]", " "), " {2,}", " ")))

  /** The standard curation stage chain — fused text features, quality
    * gate, content fingerprint, deterministic hash sample — as ONE shared
    * definition: the registered batch queries, the streaming backfill
    * entrypoint, and the batch/stream equality spec all call this, so
    * they cannot silently diverge. Stateless narrow transforms only:
    * runs identically on batch and streaming DataFrames.
    */
  def curate(docs: org.apache.spark.sql.DataFrame, minQuality: Double = 0.5,
             sampleBuckets: Int = 10, keepBuckets: Int = 3): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("f", featuresStruct(col("text")))
      .withColumn("quality", qualityFromFeatures(col("f")))
      .withColumn("fingerprint", fingerprint(col("text")))
      .withColumn("bucket", hashModBucket(col("doc_id"), sampleBuckets))
      .filter(col("quality") >= minQuality && col("bucket") < keepBuckets)
      .select(col("doc_id"), col("f.stop_lang").as("lang"),
        col("quality"), col("fingerprint"))

  /** Token-window chunking — the LLM-training preprocessing step: split
    * each document into `chunkSize`-token windows every `stride` tokens
    * (overlapping when stride < chunkSize). Pure narrow expressions
    * (sequence → explode → slice): streams, scales, no state; the trailing
    * window is emitted short rather than padded.
    */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, chunkSize: Int,
                  stride: Int, textCol: String = "text",
                  idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    require(chunkSize >= 1 && stride >= 1)
    val toks = split(col(textCol), " ")
    docs
      .select(col(idCol), toks.as("toks"), size(toks).as("n"))
      .withColumn("start",
        explode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(stride))))
      .withColumn("chunk", slice(col("toks"), col("start") + 1, lit(chunkSize)))
      .select(col(idCol), (col("start") / stride).cast("int").as("chunk_idx"),
        array_join(col("chunk"), " ").as("chunk_text"),
        size(col("chunk")).as("n_tokens"))
  }

  /** Fill-in-the-middle (FIM) splitting — the code/infilling-model data
    * transform (Bavarian et al. 2022, "Efficient Training of Language
    * Models to Fill in the Middle"): each document's token stream is cut
    * at two points into (prefix, middle, suffix) so the trainer can
    * rearrange them PSM/SPM-style. Cut points are DETERMINISTIC —
    * md5-derived per (doc_id, salt), the `hashModBucket` idiom — so the
    * split is reproducible across runs/engines (an RNG-based split
    * could never be audited or oracle-checked). Pure narrow
    * expressions: streams, scales, no shuffle; empty prefix/middle/
    * suffix arise naturally when cuts coincide or hit the ends.
    */
  def fimSplit(docs: org.apache.spark.sql.DataFrame,
               textCol: String = "text",
               idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val toks = split(col(textCol), " ")
    def cut(salt: String, n: Column): Column =
      pmod(conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))),
        1, 8), 16, 10).cast("long"), n + 1)
    docs
      .select(col(idCol), toks.as("toks"), size(toks).as("n"))
      .withColumn("c1", cut("fim1", col("n")))
      .withColumn("c2", cut("fim2", col("n")))
      .select(col(idCol), col("n").cast("long").as("n_tokens"),
        least(col("c1"), col("c2")).as("lo"),
        greatest(col("c1"), col("c2")).as("hi"),
        col("toks"))
      .select(col(idCol), col("n_tokens"), col("lo"), col("hi"),
        array_join(slice(col("toks"), lit(1), col("lo").cast("int")), " ")
          .as("prefix"),
        array_join(slice(col("toks"), (col("lo") + 1).cast("int"),
          (col("hi") - col("lo")).cast("int")), " ").as("middle"),
        array_join(slice(col("toks"), (col("hi") + 1).cast("int"),
          (col("n_tokens") - col("hi")).cast("int")), " ").as("suffix"))
  }

  /** Adjacent word-bigram strings ("w1 w2") of a token array — native
    * kernel (one JVM loop per row; see TextExpressions.WordBigrams).
    * Empty array for < 2 tokens.
    */
  def wordBigrams(toks: Column): Column =
    graft.functions.TextExpressions.wordBigrams(toks)

  /** The composed-HOF formulation of [[wordBigrams]] — kept as the
    * equivalence reference (TextSpec pins kernel ≡ composed). Caller must
    * guarantee at least 2 tokens (`sequence(1, n-1)` would run DESCENDING
    * for n = 1 — Spark's default step is -1 when start > stop).
    */
  def wordBigramsComposed(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 1),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))

  /** Within-document repetition metrics (the Gopher-style repetition
    * filters): per document, the total/distinct adjacent-bigram counts and
    * the fraction held by the single most frequent bigram. High `top_ratio`
    * flags boilerplate and degenerate generations. Shape: explode bigrams →
    * two-level hash aggregation — (doc_id, gram) partials combine map-side,
    * so the shuffle carries one row per distinct bigram per doc, not one
    * per occurrence; documents with < 2 tokens are dropped (no bigrams).
    */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(wordBigrams(col("toks"))).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        count(lit(1)).as("distinct_bigrams"),
        max(col("cnt")).as("top_count"))
      .select(col("doc_id"), col("n_bigrams"), col("distinct_bigrams"),
        col("top_count"),
        (col("top_count").cast("double") / col("n_bigrams")).as("top_ratio"))
  }

  /** Gopher-style duplicated-n-gram mass (Rae et al. 2021 §A1.1): per
    * document, how many n-gram occurrences belong to an n-gram that
    * repeats WITHIN the document — the repetition-loop signal that
    * catches degenerate generations and boilerplate stuffing where the
    * single top-gram ratio ([[repetitionStats]]) under-reads spread-out
    * repetition. ZERO shuffle: the whole computation is one scan-side
    * projection — grams materialize per row, `sort_array` groups equal
    * grams adjacently, and an occurrence is duplicated iff it equals a
    * sorted neighbor. [[repetitionStats]] pays a (doc_id, gram) exchange
    * for its cross-gram aggregates; this operator needs none, so at
    * 100 TB it rides the read stage like langid/quality and costs no
    * exchange bytes at all.
    *
    * Output: (doc_id, total_grams, dup_occurrences, dup_fraction) —
    * dup_fraction one IEEE division of exact BIGINTs (NULL when the doc
    * is shorter than n tokens).
    */
  def dupNgramStats(docs: org.apache.spark.sql.DataFrame, n: Int = 3): org.apache.spark.sql.DataFrame = {
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("total",
        greatest(size(col("toks")) - lit(n - 1), lit(0)).cast("bigint"))
      .withColumn("sorted", when(col("total") > 0, sort_array(expr(
          s"transform(sequence(1, size(toks) - ${n - 1}), " +
            s"i -> array_join(slice(toks, i, $n), ' '))")))
        .otherwise(expr("CAST(array() AS array<string>)")))
      .withColumn("dup_occurrences", when(col("total") > 0, expr(
          """size(filter(transform(sequence(1, size(sorted)), i ->
               (i > 1 AND element_at(sorted, i) = element_at(sorted, i - 1)) OR
               (i < size(sorted) AND element_at(sorted, i) = element_at(sorted, i + 1))),
             x -> x))""").cast("bigint"))
        .otherwise(lit(0L)))
      .select(col("doc_id"), col("total"). as("total_grams"),
        col("dup_occurrences"),
        when(col("total") > 0,
          col("dup_occurrences").cast("double") / col("total"))
          .otherwise(lit(null).cast("double")).as("dup_fraction"))
  }

  /** Corpus-trained bigram-LM predictability score — the CCNet-shaped
    * quality signal: score each document by how well the corpus's own
    * bigram statistics predict it. High mean probability flags templated
    * boilerplate (every transition is the corpus's favorite), low flags
    * vocabulary soup; curation cuts both tails. Probabilities are the
    * scaled INTEGERS ⌊10⁶·c(a,b)/c(a,·)⌋ — exact integer division, so
    * per-doc sums are order-free BIGINTs and the score hash-matches any
    * engine, where the float log-perplexity form would be partition-order
    * noise. Distributed shape: per-doc bigram counts combine map-side on
    * (doc_id, gram); the corpus model is a RE-aggregation of those
    * partials (never a second pass over occurrences); conditionals join
    * counts-only on the gram key; text never shuffles.
    */
  def bigramLmScore(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // CHECKPOINT the per-doc partials: the doc comment's "the corpus
    // model is a RE-aggregation of those partials" was true logically
    // but not physically — corpus, heads and the final join each held
    // the full scan→tokenize→explode→agg subtree, and the plan ran THREE
    // parquet scans with the two model branches re-running the kernel
    // single-task inside broadcast-exchange builds (measured 0.8 s + 0.7
    // s of the 1.9 s wall at sf0.1; no ReusedExchange fires across the
    // broadcast branches). One pass feeds all three consumers.
    val perDoc = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(wordBigrams(col("toks"))).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("k"))
      .localCheckpoint()
    val corpus = perDoc.groupBy(col("gram")).agg(sum(col("k")).as("cb"))
      .withColumn("head", split(col("gram"), " ").getItem(0))
    val heads = corpus.groupBy(col("head")).agg(sum(col("cb")).as("ca"))
    val p = corpus.join(heads, "head")
      .select(col("gram"), expr("(1000000 * cb) div ca").as("p_scaled"))
    perDoc.join(p, "gram")
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("p_scaled")).as("sum_p_scaled"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_p_scaled"),
        (col("sum_p_scaled").cast("double") / col("n_bigrams")).as("mean_p_scaled"))
  }

  /** Corpus-frequency rarity score: mean corpus-wide occurrence count of a
    * document's tokens — low values flag documents of rare/noisy vocabulary,
    * high values flag stopword soup. Two-pass distributed shape: per-doc
    * token counts `c` (one shuffle on (doc_id, tok)), global frequency as a
    * re-aggregation OF THOSE PARTIALS (not a second pass over occurrences),
    * then a token-keyed join carrying counts only — the text itself never
    * shuffles, and every double is one IEEE division of exact BIGINTs.
    * AQE broadcasts the frequency side when the vocabulary is small.
    */
  def tokenRarity(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // checkpoint the per-doc partials — the bigramLmScore rationale: the
    // frequency re-aggregation and the final join otherwise each hold
    // the full scan→explode→agg subtree (4 parquet scans in the plan)
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val freq = perDoc.groupBy(col("tok")).agg(sum(col("c")).as("freq"))
    perDoc.join(freq, "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("freq")).as("sum_freq"),
        sum(col("c")).as("n_tokens"))
      .select(col("doc_id"), col("sum_freq"), col("n_tokens"),
        (col("sum_freq").cast("double") / col("n_tokens")).as("mean_token_freq"))
  }

  /** Corpus drift detection — the distribution-shift audit run when a new
    * crawl snapshot, scrape source, or pipeline revision lands: has the
    * token distribution moved, and on which words? Per token, a
    * two-proportion z-test between cohort A (cohort expr = 0) and cohort
    * B, the same bit-reproducible statistic shape as the A/B readout
    * (`ev_ab_test`): exact BIGINT counts aggregate map-side-combined on
    * the token key — only (token, count) pairs ever shuffle, never text —
    * the 1-row totals broadcast, and each float in z is a single IEEE op
    * over exact integers so both engines emit identical bits. |z| ≥ ~3
    * flags a token whose rate moved beyond noise at the observed mass;
    * the registered query orders by token for the hash check, a consumer
    * orders by |z|.
    */
  def tokenDrift(docs: org.apache.spark.sql.DataFrame, cohort: Column,
                 minSupport: Long = 20): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(cohort.as("cohort"),
      explode(split(col("text"), " ")).as("token"))
    val counts = toks.groupBy(col("token"))
      .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("o_a"),
        sum(when(col("cohort") =!= 0, 1L).otherwise(0L)).as("o_b"))
    val totals = counts.agg(sum(col("o_a")).as("n_a"), sum(col("o_b")).as("n_b"))
    val pa = col("o_a").cast("double") / col("n_a")
    val pb = col("o_b").cast("double") / col("n_b")
    val pp = (col("o_a") + col("o_b")).cast("double") / (col("n_a") + col("n_b"))
    counts.filter(col("o_a") + col("o_b") >= minSupport)
      .crossJoin(broadcast(totals))
      .select(col("token"), col("o_a"), col("o_b"),
        pa.as("rate_a"), pb.as("rate_b"),
        ((pa - pb) / sqrt((pp * (lit(1.0) - pp)) *
          ((lit(1.0) / col("n_a")) + (lit(1.0) / col("n_b"))))).as("z"))
  }

  /** Budget-capped per-stratum sampling: exactly `k` documents per stratum,
    * chosen by md5-of-id rank — reproducible across reruns, engines, and
    * partitionings (unlike `df.sample`), and uniform because the hash is
    * uncorrelated with content. The window sorts each stratum by
    * (md5(doc_id), doc_id); at 100 TB the per-stratum sort is the standard
    * top-k window (rank pushdown limits the sort to k per partition).
    */
  def stratifiedSample(docs: org.apache.spark.sql.DataFrame, k: Int,
                       stratumCol: String = "lang"): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Per-document top-k TF-IDF terms (keyword extraction). IDF is the
    * exact ratio N/df — not `ln(N/df)` — so the score `c·N/df` is one
    * IEEE division of exact integers and the ranking is engine-exact
    * (ln differs in the last ULP across libm implementations; the
    * monotone transform changes no ordering, so the rational form loses
    * nothing). Shape: per-doc token counts (one shuffle), document
    * frequency re-aggregated FROM those partials, token-keyed join of
    * counts only, per-doc window top-k.
    */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    // checkpoint the per-doc partials — the bigramLmScore rationale (the
    // df re-aggregation and the final join each re-ran the tokenize
    // subtree: 6 parquet scans in the before-plan)
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val df = perDoc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    perDoc.join(df, "tok").crossJoin(broadcast(n)) // 1-row aggregate
      .select(col("doc_id"), col("tok"),
        ((col("c") * col("n")).cast("double") / col("df")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("tok"), col("score"), col("rnk"))
  }

  /** Sequence packing — the training-data step that concatenates short
    * documents into ~`targetTokens`-token sequences: greedy in `doc_id`
    * order WITHIN each stratum, bin = floor(prefix-token-count /
    * target). Packing runs per-stratum (not globally) on purpose: a
    * global ordered cumsum would be a single-partition window — the
    * anti-pattern — while per-stratum windows sort in parallel; real
    * deployments stratify by (lang, shard/day) so each stratum fits a
    * task. Integer `div` keeps bin assignment exact at any prefix size.
    */
  def packBins(docs: org.apache.spark.sql.DataFrame, targetTokens: Int,
               stratumCol: String = "lang"): org.apache.spark.sql.DataFrame = {
    require(targetTokens >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col("doc_id"))
    docs
      .select(col(stratumCol), col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(cum - n_tokens) div $targetTokens"))
      .groupBy(col(stratumCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Sequence packing — the concat-and-split step between tokenization
    * and training: the corpus's documents are conceptually concatenated
    * in a deterministic total order (doc_id) and the token stream is
    * cut every `budget` tokens, so token t of the stream belongs to
    * training sequence ⌊t / budget⌋; documents may straddle a cut. Per
    * document this is pure arithmetic on the EXCLUSIVE prefix sum of
    * token counts: first_seq = ⌊excl/B⌋, offset within it = excl mod B,
    * and the span count follows from the last token's sequence.
    *
    * Scale shape: ONE [[graft.ops.GlobalRank]] distributed weighted
    * prefix sum (range-partitioned two-pass — never a partitionless
    * window), then a narrow projection; all integer arithmetic, so the
    * assignment is engine-independent and oracle-checkable. The doc
    * payload never rides an exchange — only (id, n_tokens) does.
    */
  def packSequences(docs: org.apache.spark.sql.DataFrame, budget: Int,
                    idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    require(budget >= 1)
    val summed = graft.ops.GlobalRank.withGlobalPrefixSum(
      docs.select(col(idCol), tokenCount(col("text")).cast("long").as("n_tokens")),
      Seq(col(idCol)), weight = col("n_tokens"), out = "incl")
    summed
      .withColumn("excl", col("incl") - col("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        expr(s"excl div $budget").as("first_seq"),
        (col("excl") % budget).as("offset_in_seq"),
        // greatest(1, ·) pins the zero-token edge: for n_tokens = 0 the
        // `(excl + n - 1) div B` operand can go negative at a budget
        // boundary, where Spark's `div` truncates toward zero but SQL
        // `//` floors (ADVICE r8) — a doc always spans ≥ 1 sequence, and
        // the oracle applies the same GREATEST, so the equivalence no
        // longer leans on the tokenizer never returning an empty array.
        greatest(lit(1L), expr(s"(excl + n_tokens - 1) div $budget") -
          expr(s"excl div $budget") + 1).as("n_seqs_spanned"))
  }

  /** Balanced shard assignment — the training-export step that follows
    * packing: every document gets a deterministic shard in [0, nShards)
    * such that shard TOKEN totals come out even, not just row counts.
    * Longest-processing-time-shaped: rank all docs by token count
    * descending (doc_id tiebreak makes the order total), then deal ranks
    * out snake-wise (0,1,…,n−1,n−1,…,1,0,…) so each shard alternates
    * big and small documents — the greedy balance guarantee without any
    * per-shard state. The global rank uses [[graft.ops.GlobalRank]]'s
    * two-pass range-partitioned row numbering, NOT a partitionless
    * window, so no single task ever sees the whole corpus. All shard
    * arithmetic is integer-exact (engine-independent).
    */
  def shardAssign(docs: org.apache.spark.sql.DataFrame, nShards: Int,
                  idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    require(nShards >= 1)
    val ranked = graft.ops.GlobalRank.withGlobalRowNumber(
      docs.select(col(idCol), tokenCount(col("text")).cast("long").as("n_tokens")),
      Seq(col("n_tokens").desc, col(idCol)), out = "rank")
    ranked
      .withColumn("pos", (col("rank") - 1) % nShards)
      .withColumn("shard",
        when(expr(s"((rank - 1) div $nShards) % 2") === 0, col("pos"))
          .otherwise(lit(nShards - 1) - col("pos")))
      .drop("pos")
  }

  /** Deterministic epoch shuffle — the coordination-free global permutation
    * a training exporter needs per epoch: every document's position in
    * epoch e is a pure function of (e, doc_id), so any worker (or a rerun
    * after failure) reproduces the same order without a shared RNG state
    * or a shuffle service round-trip. Key = md5(e:doc_id); position = the
    * exact global rank of (key, doc_id) via [[graft.ops.GlobalRank]]'s
    * range-partitioned two-pass numbering — no partitionless window, no
    * single-task sort at any corpus size. Different epochs decorrelate
    * (md5 avalanche), and position is dense 1..n, so downstream batch b
    * is exactly rows (b·B, (b+1)·B].
    */
  def epochShuffle(docs: org.apache.spark.sql.DataFrame, epoch: Int,
                   idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val keyed = docs.select(col(idCol),
      md5(concat_ws(":", lit(epoch), col(idCol))).as("shuffle_key"))
    graft.ops.GlobalRank.withGlobalRowNumber(
        keyed, Seq(col("shuffle_key"), col(idCol)), out = "position")
      .select(col(idCol), col("shuffle_key"), col("position"))
  }

  /** Cross-source quality calibration: each document's quality mapped to
    * its WITHIN-SOURCE percentile (parts-per-million). Heterogeneous
    * sources score on different scales — a global threshold over raw
    * scores keeps whichever source happens to score high; rank-
    * normalizing per source first makes one threshold mean the same
    * thing everywhere (the quantile-normalization step of multi-source
    * curation).
    *
    * Scale shape: ONE [[graft.ops.GlobalRank]] total order over
    * (source, quality, id) — range-partitioned two-pass numbering, so
    * there is no per-source hot window (a corpus with 5 sources under a
    * source-partitioned window would funnel n/5 rows through single
    * tasks); per-source rank offsets come from a #sources-row aggregate
    * broadcast back. `pct_ppm = (rank_in_source − 1)·10⁶ div
    * max(n_source − 1, 1)` — BIGINT end-to-end, 0 for a singleton
    * source, endpoints exactly 0 and 10⁶.
    */
  def qualityCalibrated(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val q = docs.select(col("doc_id"), col("source"),
      qualityScore(col("text")).as("quality"))
    val ranked = graft.ops.GlobalRank.withGlobalRowNumber(q,
      Seq(col("source"), col("quality"), col("doc_id")), out = "__rn")
    val stats = ranked.groupBy(col("source"))
      .agg(min(col("__rn")).as("__r0"), count(lit(1)).as("__n"))
    ranked.join(broadcast(stats), "source")
      .select(col("doc_id"), col("source"), col("quality"),
        expr("(__rn - __r0) * 1000000L div greatest(__n - 1L, 1L)").as("pct_ppm"))
  }

  /** Systematic PPS (probability-proportional-to-size) sampling: walk
    * the corpus in id order accumulating token counts and keep every
    * document in which the running total crosses a multiple of `step` —
    * one kept document per ~`step` tokens, selection probability ∝
    * length (every document of ≥ `step` tokens is kept with certainty).
    * The token-budget-proportional subsample a training mixture needs
    * when uniform-by-document sampling would over-weight short
    * documents; deterministic (no RNG state), rerun-stable, and exactly
    * replayable by any engine with a window sum.
    *
    * Scale shape: the running total is
    * [[graft.ops.GlobalRank.withGlobalPrefixSum]] — range-partitioned
    * two-pass weighted prefix sum, never a partitionless window; the
    * crossing test `cum div step > (cum − w) div step` is one narrow
    * integer filter.
    */
  def ppsSample(docs: org.apache.spark.sql.DataFrame,
                step: Long): org.apache.spark.sql.DataFrame = {
    require(step >= 1, "step must be >= 1")
    val q = docs.select(col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.ops.GlobalRank.withGlobalPrefixSum(q,
        Seq(col("doc_id")), col("n_tokens"), out = "cum_tokens")
      .filter(expr(s"cum_tokens div ${step}L > (cum_tokens - n_tokens) div ${step}L"))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
  }

  /** Weighted mixture sampling: per-stratum keep rates (in tenths),
    * applied through the deterministic md5 bucket — the "40% web, 100%
    * reference" mixture step of a training-data pipeline, reproducible
    * across engines and reruns. Pure narrow expression: streams, scales,
    * no shuffle.
    */
  def mixtureSample(docs: org.apache.spark.sql.DataFrame,
                    tenths: Map[String, Int],
                    stratumCol: String = "lang"): org.apache.spark.sql.DataFrame = {
    require(tenths.values.forall(r => r >= 0 && r <= 10))
    val rate = tenths.foldLeft(lit(0)) { case (acc, (k, r)) =>
      when(col(stratumCol) === k, lit(r)).otherwise(acc)
    }
    docs
      .withColumn("bucket", hashModBucket(col("doc_id")))
      .filter(col("bucket") < rate)
  }

  /** Mixture WATERFILLING: allocate a token `budget` across sources with
    * target weights `w_i`, capped by each source's availability — the
    * step that turns a dataset card (per-source available tokens) into
    * sampling rates. The allocation is the classic water level:
    * `alloc_i = min(avail_i, λ·w_i)` with λ chosen so Σ alloc =
    * min(budget, Σ avail). Computed in closed form: sources sorted by
    * `avail_i/w_i` ascending saturate as a PREFIX, and row i saturates
    * iff `avail_i · W_{≥i} < (B − A_{<i}) · w_i` — an INTEGER-EXACT
    * comparison (no float in any decision), so the saturated set is
    * engine-independent and the result hash-checks; only the reported
    * `allocated` of unsaturated rows is one IEEE division of exact
    * longs. TextSpec pins ≡ the iterative reference, Σ-conservation,
    * and 0 ≤ alloc ≤ avail.
    *
    * Scale shape: `perSource` is source-cardinality (bounded small BY
    * DESIGN — the dataset card's row count), so the unpartitioned
    * running-sum window is the [[vocabExport]] bounded-cardinality
    * class, not a corpus window; the heavy input (per-source token
    * totals) comes from one map-side-combined aggregation upstream.
    */
  def mixtureWaterfill(perSource: org.apache.spark.sql.DataFrame, budget: Long,
                       srcCol: String = "source",
                       availCol: String = "avail_tokens",
                       wCol: String = "weight"): org.apache.spark.sql.DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val slim = perSource.select(col(srcCol).as("source"),
      col(availCol).cast("long").as("avail"), col(wCol).cast("long").as("w"))
    val w = Window
      .orderBy((col("avail").cast("double") / col("w")).asc, col("source").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = slim
      .withColumn("a_prev", sum(col("avail")).over(w) - col("avail"))
      .withColumn("w_thru", sum(col("w")).over(w))
    val tot = pre.agg(sum(col("w")).as("tot_w"))
    val flagged = pre.crossJoin(broadcast(tot))
      .withColumn("w_rest", col("tot_w") - col("w_thru") + col("w"))
      .withColumn("saturated",
        col("avail") * col("w_rest") < (lit(budget) - col("a_prev")) * col("w"))
    val sat = flagged.filter(col("saturated"))
      .agg(coalesce(sum(col("avail")), lit(0L)).as("a_sat"),
        coalesce(sum(col("w")), lit(0L)).as("w_sat"))
    flagged.crossJoin(broadcast(sat))
      .select(col("source"), col("avail").as("avail_tokens"),
        col("w").as("weight"), col("saturated"),
        when(col("saturated"), col("avail").cast("double"))
          .otherwise(((lit(budget) - col("a_sat")) * col("w")).cast("double") /
            (col("tot_w") - col("w_sat")).cast("double"))
          .as("allocated"))
      .orderBy(col("source"))
  }

  /** Content fingerprint: polynomial rolling hash over the text's bytes
    * (base 1000003, modulo 2^31−1) — order-sensitive, unlike a
    * bag-of-words hash. Native kernel: one pass over the UTF8 bytes.
    */
  def rollingFingerprint(text: Column): Column =
    graft.functions.HashExpressions.rollingHash(text)

  /** Stable 128-bit fingerprint (hex) for exact dedup. */
  def fingerprint(text: Column): Column = md5(text)

  /** Tokenizer-training vocabulary export: the top `topN` tokens by corpus
    * frequency with each rank's CUMULATIVE coverage of all token
    * instances — the table a BPE/unigram trainer seeds from and the
    * "what vocab size buys what coverage" curve a dataset card reports.
    *
    * Scale shape: one map-side-combined frequency aggregation
    * (vocabulary-sized), a distributed top-N (`orderBy.limit` plans as
    * TakeOrdered — each partition keeps N, no global sort), and only THEN
    * the unpartitioned running-sum window — over ≤ topN rows, the same
    * bounded-cardinality class as the k-centroid collects, not the
    * whole-corpus single-task window `ops.GlobalRank` exists to avoid.
    * `cum_coverage` is one IEEE division of exact longs per row, so both
    * engines emit identical bits.
    */
  def vocabExport(docs: org.apache.spark.sql.DataFrame,
                  topN: Int): org.apache.spark.sql.DataFrame = {
    require(topN >= 1)
    import org.apache.spark.sql.expressions.Window
    val freq = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val total = freq.agg(sum(col("freq")).as("total"))
    val top = freq.orderBy(col("freq").desc, col("token")).limit(topN)
    val w = Window.orderBy(col("freq").desc, col("token"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum",
        sum(col("freq")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("token"), col("freq"),
        (col("cum").cast("double") / col("total")).as("cum_coverage"))
  }

  /** Distributed BPE merge learning — the Sennrich et al. (ACL 2016)
    * tokenizer-training procedure re-expressed as Spark aggregates:
    * learn the first `nMerges` merge operations from corpus word
    * frequencies.
    *
    * Scale shape: the corpus first compresses to its distinct-WORD
    * frequency table — read the text exactly once; at 100 TB the word
    * table is orders of magnitude smaller than the corpus and is the
    * only thing the iteration ever touches. Each round is then
    *  1. one map-side-combined adjacent-pair count over the word table
    *     (pairs from a zip_with of the symbol array against its own
    *     tail, weighted by word frequency — stays in codegen),
    *  2. a distributed top-k (TakeOrdered: count desc, pair asc — exact
    *     longs, so the ranking is identical under any partitioning),
    *  3. one narrow projection applying the round's ACCEPTED BATCH of
    *     merges as a single aggregate() fold (leftmost non-overlapping
    *     application per merge — the BPE contract), localCheckpoint'ed
    *     so the per-round plan depth stays constant.
    *
    * Batching rule (provably equal to the one-merge-per-round sequence):
    * walk the top-k list in order, accepting pairs whose symbols
    * {a, b, a+b} are disjoint from every earlier accepted merge's, and
    * STOP at the first conflicted pair — call its count c* (also the
    * cutoff when the fetched list is exhausted, since unseen pairs count
    * ≤ the last fetched). Keep only accepted merges with count > c*.
    * Disjointness means earlier batch merges leave an accepted pair's
    * occurrences — and count — untouched, so each accepted merge is still
    * the argmax of its own round: the only pairs a prior merge (a,b) can
    * CREATE are (x, ab) / (ab, y), whose counts are bounded by the old
    * counts of (x, a) / (b, y); those pairs share a symbol with the
    * accepted merge, hence sit at-or-below the stop position, hence have
    * count ≤ c* — strictly below every kept merge, and sequential
    * tie-break order among the kept (untouched-count) merges is the
    * fetch order itself. If the filter leaves nothing, fall back to the
    * always-correct singleton top-1. Driver state per round is the ≤k-row
    * candidate list; the merge table itself IS the output (and at
    * inference time the only artifact a tokenizer needs). Symbols are
    * strings, as in reference BPE implementations: a merged symbol is the
    * concatenation, and symbol identity is string identity.
    */
  def bpeMerges(docs: org.apache.spark.sql.DataFrame,
                nMerges: Int): org.apache.spark.sql.DataFrame =
    bpeMerges(docs, nMerges, localCap = 1 << 18)

  /** [[bpeMerges]] with the driver-local vocabulary bound as a
    * parameter, so a small corpus can force the distributed loop. */
  private[text] def bpeMerges(docs: org.apache.spark.sql.DataFrame,
                              nMerges: Int,
                              localCap: Int): org.apache.spark.sql.DataFrame = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val spark = docs.sparkSession
    val words0 = docs.select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      // split(limit = -1) keeps the trailing empty match of the
      // every-position lookahead — drop empties so symbols are exactly
      // the characters
      .select(filter(split(col("w"), "(?!^)"), s => length(s) > 0).as("syms"),
        col("cnt"))
    // BOUNDED-VOCAB fast path (round-16, guide §1.2/§5): the ENTIRE
    // iteration state is the distinct-word frequency table — the corpus
    // is never touched again after the one aggregation above. When that
    // table fits the driver comfortably (≤ localCap distinct words; 2¹⁸
    // ≈ tens of MB — the tokenRanks/IVF-centroid bounded-collect class;
    // one LIMIT cap+1 job proves the bound BEFORE collecting), the merge
    // recurrence runs locally: ONE Spark job total instead of two jobs
    // plus two driver barriers per merge round (measured 36 jobs /
    // 3.6 s → 3 jobs for the registered 20-merge queries, whose wall
    // was >2/3 job-launch latency). Vocabularies beyond the cap keep
    // the distributed loop — the 100 TB contract is unchanged.
    val head = words0.limit(localCap + 1).collect()
    val merges: Seq[(Int, String, String, Long)] =
      if (head.length <= localCap)
        bpeMergesLocal(
          head.map(r => (r.getSeq[String](0).toArray, r.getLong(1))), nMerges)
      else bpeMergesDistributed(words0, nMerges)
    import spark.implicits._
    spark.createDataset(merges)
      .toDF("rank", "left", "right", "pair_count")
  }

  /** Unsigned UTF-8 byte-order comparison — Spark's StringType sort
    * order (UTF8String.compareTo), which the local loop must replicate
    * exactly for the (count desc, a asc, b asc) tie-break. Java's
    * String.compareTo differs on supplementary characters (UTF-16 code
    * units vs UTF-8 bytes).
    */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** The merge recurrence on a driver-resident word table: the PURE
    * one-merge-per-round sequence (which the distributed batch
    * acceptance is proven equal to — see [[bpeMerges]]'s scaladoc):
    * argmax pair by (count desc, a asc, b asc) under UTF-8 byte order,
    * applied leftmost-non-overlapping, until `nMerges` or no pair
    * remains. Bit-identical to the distributed loop by construction
    * (TextSpec pins both against the oracle recurrence).
    */
  private def bpeMergesLocal(table: Array[(Array[String], Long)],
                             nMerges: Int): Seq[(Int, String, String, Long)] = {
    var words = table
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, cnt) =>
        var i = 0
        while (i + 1 < syms.length) {
          counts.merge((syms(i), syms(i + 1)), cnt, Long.box(_) + _)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestA: String = null; var bestB: String = null; var bestN = 0L
        counts.forEach { (k, n) =>
          if (bestA == null || n > bestN ||
              (n == bestN && (utf8Lt(k._1, bestA) ||
                (k._1 == bestA && utf8Lt(k._2, bestB))))) {
            bestA = k._1; bestB = k._2; bestN = n
          }
        }
        merges += ((merges.size + 1, bestA, bestB, bestN))
        if (merges.size < nMerges) words = words.map { case (syms, cnt) =>
          if (syms.length < 2) (syms, cnt)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == bestA && syms(i + 1) == bestB) {
                out += bestA + bestB; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, cnt)
          }
        }
      }
    }
    merges.toSeq
  }

  /** The distributed merge loop, for vocabularies past the driver
    * bound. LAZY checkpoints throughout (round-16, guide §1.2): each
    * round needs exactly one action — the candidate-pair TakeOrdered
    * collect — and an EAGER checkpoint added a second job (plus its
    * driver barrier) per round just to materialize the fold the next
    * collect was about to read anyway. localCheckpoint(eager = false)
    * still truncates lineage (constant plan depth) and still persists
    * the blocks, but the materialization rides the NEXT round's collect
    * job — and the LAST round's fold, whose checkpoint no job ever
    * read, is never computed at all.
    */
  private def bpeMergesDistributed(words0: org.apache.spark.sql.DataFrame,
                                   nMerges: Int): Seq[(Int, String, String, Long)] = {
    var words = words0.localCheckpoint(false)
    // the superseded round's blocks are freed once the round AFTER it
    // has materialized (the grandparent can no longer be re-read by any
    // plan — the Graph/IterState discipline, adapted to lazy ckpts)
    var prevWords: org.apache.spark.sql.DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val remaining = nMerges - merges.size
      val pairs = words
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(zip_with(
            col("syms"),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (cur, nxt) => struct(cur.as("a"), nxt.as("b")))).as("p"))
        .filter(col("p.b").isNotNull) // zip_with pads the 1-longer left side
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
      // bounded collect per round: the candidate prefix of the pair
      // ranking (lookahead for the disjoint batch, ≤ 2·remaining+16 rows)
      val candN = 2 * remaining + 16
      val top = pairs.orderBy(col("n").desc, col("a"), col("b"))
        .limit(candN).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // this collect materialized `words`; its predecessor's blocks are
      // dead now (only `words`'s own recompute path could read them)
      if (prevWords != null) graft.ops.IterState.freeCkpt(prevWords)
      prevWords = words
      if (top.isEmpty) exhausted = true
      else {
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        var cStar = 0L
        var stopped = false
        var i = 0
        while (i < top.length && !stopped && accepted.size < remaining) {
          val (a, b, n) = top(i)
          if (used(a) || used(b) || used(a + b)) { cStar = n; stopped = true }
          else { accepted += ((a, b, n)); used ++= Seq(a, b, a + b); i += 1 }
        }
        // quota reached / list exhausted without a conflict: unseen pairs
        // count ≤ the next (or last) fetched count — that is the cutoff
        if (!stopped && i < top.length) cStar = top(i)._3
        else if (!stopped && top.length == candN) cStar = top.last._3
        val safe = accepted.takeWhile(_._3 > cStar)
        val batch = if (safe.nonEmpty) safe.toSeq else Seq(accepted.head)
        batch.foreach { case (a, b, n) => merges += ((merges.size + 1, a, b, n)) }
        // quota reached: no further round reads the fold — skip building
        // it (under the old eager checkpoint this dead fold was a full
        // extra pass over the word table on every invocation)
        if (merges.size < nMerges) words = words.withColumn("syms",
            aggregate(col("syms"), array().cast("array<string>"),
              (out, cur) => {
                val hit = batch.tail.foldLeft(
                    when(size(out) > 0 &&
                         element_at(out, -1) === lit(batch.head._1) &&
                         cur === lit(batch.head._2),
                      lit(batch.head._1 + batch.head._2))) {
                  case (acc, (a, b, _)) =>
                    acc.when(size(out) > 0 &&
                             element_at(out, -1) === lit(a) && cur === lit(b),
                      lit(a + b))
                }
                when(hit.isNotNull,
                  concat(slice(out, lit(1), size(out) - 1), array(hit)))
                .otherwise(concat(out, array(cur)))
              }))
          .localCheckpoint(false)
      }
    }
    // free the surviving loop state deterministically: `prevWords` is
    // materialized, the final `words` only if a fold followed the last
    // accepted batch without reaching quota (freeCkpt no-ops on
    // never-materialized checkpoints)
    if (prevWords != null) graft.ops.IterState.freeCkpt(prevWords)
    graft.ops.IterState.freeCkpt(words)
    merges.toSeq
  }

  /** Distributed BPE ENCODE — the inference half of the tokenizer story
    * ([[bpeMerges]] learns the merge table; this applies it to tokenize
    * the corpus): per document, every whitespace word starts as its
    * code-point symbols and the merges apply in rank order, each
    * leftmost-non-overlapping (the [[graft.functions.TextExpressions.BpeEncode]]
    * kernel — one scan-side JVM loop per row with a capped distinct-word
    * memo, matching the training fold's own word-table evolution
    * symbol-for-symbol).
    *
    * Scale shape: the merge table is tokenizer-sized (bounded — it rides
    * the closure like the IVF centroid matrix), the encode is
    * embarrassingly parallel with NO shuffle before the final per-doc
    * projection, and the output is n-docs-sized: token COUNT plus an
    * md5 fingerprint of the space-joined token sequence instead of the
    * exploded (doc, pos, token) instances — the full encoding is still
    * hash-checked end-to-end (the oracle recomputes the same md5), but
    * a 100 TB corpus never pays the token-instance output tax for the
    * verification relation. Downstream trainers consume
    * [[graft.functions.TextExpressions.bpeEncode]] directly as a column.
    * Documents with no tokens (empty text) have no encoding and are
    * dropped, mirroring the oracle's word join.
    */
  def bpeEncoded(docs: org.apache.spark.sql.DataFrame,
                 merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val toks = graft.functions.TextExpressions.bpeEncode(col("text"), merges)
    // Drop empty docs on the CHEAP equivalent predicate BEFORE the
    // kernel projection: the encode emits ≥ 1 token iff the text holds
    // ≥ 1 non-whitespace char (words = split("\\s+") minus empties;
    // merges only concatenate, never drop), so rlike("\\S") decides the
    // old `filter(size(toks) > 0)` exactly — which PushDownPredicates
    // was substituting through the projection, running the whole encode
    // kernel TWICE per row (once in the pushed filter, once in the
    // projection). Null text drops under both forms.
    docs.filter(col("text").rlike("\\S"))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(array_join(col("toks"), " ")).as("tokens_md5"))
  }

  /** Corpus n-gram novelty: total w-gram instances, distinct w-grams, and
    * their ratio — the repetition-at-corpus-granularity number dataset
    * cards report (a low ratio means the corpus re-says the same things;
    * Lee et al. 2022 motivate dedup with exactly this statistic). One
    * exploded aggregation; distinct-gram counting shuffles gram hashes
    * once. The exact form is the oracle-checked query; at 100 TB swap the
    * exact `count(distinct)` for the mergeable HLL sketch — same plan
    * shape, bounded state (the `ev_hll_users` precedent).
    */
  def ngramNovelty(docs: org.apache.spark.sql.DataFrame,
                   w: Int): org.apache.spark.sql.DataFrame =
    docs.select(explode(Dedup.gramStrings(col("text"), w)).as("g"))
      .agg(count(lit(1)).as("n_instances"),
        countDistinct(col("g")).as("n_distinct"))
      .select(lit(w).as("w"), col("n_instances"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_instances")).as("novelty"))

  /** Corpus skip-gram co-occurrence counts (the word2vec / GloVe training
    * input): directed token pairs at distance `d` ∈ [1, window], counted
    * corpus-wide, keeping pairs seen ≥ `minCount` times. Pairs are
    * emitted by one higher-order-function pass over each document's token
    * array (`zip_with` of the array against its own d-shifted slice — no
    * positional self-join, no per-token explode-then-join), so the only
    * shuffle carries (pair, dist) partial counts, map-side combined into
    * a vocabulary²-bounded result. Tokens contain no whitespace by
    * construction (split on \s+), so "a b" concatenation is injective.
    */
  def skipgramCounts(docs: org.apache.spark.sql.DataFrame,
                     window: Int = 2,
                     minCount: Long = 3L): org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), "\\s+")
    def grams(d: Int) = zip_with(
      slice(toks, lit(1), greatest(size(toks) - d, lit(0))),
      slice(toks, lit(d + 1), greatest(size(toks) - d, lit(0))),
      (x, y) => concat_ws(" ", x, y))
    val tagged = (1 to window).map { d =>
      transform(grams(d), p => struct(p.as("pair"), lit(d).as("dist")))
    }
    docs
      .select(explode(concat(tagged: _*)).as("pd"))
      .select(col("pd.pair").as("pair"), col("pd.dist").as("dist"))
      .groupBy(col("pair"), col("dist"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** PMI-ranked collocations: adjacent token pairs scored by the
    * pointwise-mutual-information RATIO n(a,b)·N / (n(a)·n(b)) — the log
    * is omitted (monotone, and libm would cost cross-engine determinism;
    * same trade as TF-IDF's rational IDF). All counts are exact BIGINTs
    * joined counts-only (text never shuffles); the score is ONE IEEE
    * division of exact integer products, so both engines emit identical
    * bits. Top-k lands on a distributed TakeOrdered, not a global sort.
    */
  def collocations(docs: org.apache.spark.sql.DataFrame,
                   minCount: Long = 3L,
                   topK: Int = 50): org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), "\\s+")
    val uni = docs.select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val nTotal = uni.agg(sum(col("c")).as("n_total"))
    val pairs = docs.select(explode(wordBigrams(toks)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .select(substring_index(col("pair"), " ", 1).as("tok_a"),
        substring_index(col("pair"), " ", -1).as("tok_b"),
        col("pair"), col("n_pair"))
    pairs
      .join(uni.withColumnsRenamed(Map("tok" -> "tok_a", "c" -> "c_a")), "tok_a")
      .join(uni.withColumnsRenamed(Map("tok" -> "tok_b", "c" -> "c_b")), "tok_b")
      .crossJoin(nTotal) // 1-row aggregate
      .select(col("pair"), col("n_pair"), col("c_a"), col("c_b"),
        ((col("n_pair") * col("n_total")).cast("double") /
          (col("c_a") * col("c_b"))).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("pair"))
      .limit(topK)
  }

  /** Corpus length profile: document counts and exact token/char mass per
    * (lang, log₂ size bucket). The bucket is `length(bin(n_tokens))` —
    * the bit-length of the token count — so it is integer-exact in both
    * engines (no float log2 at power-of-two boundaries). One narrow scan,
    * map-side combined into ≤ |lang|·64 rows.
    */
  def lengthHistogram(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nToks = size(split(col("text"), "\\s+")).cast("long")
    docs
      .select(col("lang"), col("n_chars"), nToks.as("n_tokens"))
      .groupBy(col("lang"), length(bin(col("n_tokens"))).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** Bounded smallest-k accumulator for ids — map-side combinable, so a
    * posting list caps at `k` entries per partition BEFORE the token's
    * one shuffle, instead of funneling a stopword's full document list
    * onto one reducer the way `collect_list` would.
    */
  final class BottomKIds(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Seq[Long], Seq[Long]] {
    require(k >= 1)
    override def zero: Seq[Long] = Seq.empty
    override def reduce(b: Seq[Long], x: Long): Seq[Long] =
      if (b.size == k && x > b.last) b else (b :+ x).sorted.take(k)
    override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      (a ++ b).sorted.take(k)
    override def finish(r: Seq[Long]): Seq[Long] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Inverted index: token → (document frequency, total term frequency,
    * first-`postingCap` posting list) — the retrieval structure a
    * curation pipeline builds for exact-term search, contamination
    * audits ("which documents mention this benchmark?") and boolean
    * filtering.
    *
    * Scale shape: per-doc term counts map-side-combine on (token,
    * doc_id) — a document's repetitions of a token never leave the scan
    * task; the per-token rollup then aggregates counts plus a
    * [[BottomKIds]]-capped posting list, so the one shuffle carries ≤
    * `postingCap` ids per token even for stopwords that occur in every
    * document. `df`/`tf` stay exact (uncapped); only the materialized
    * posting sample truncates, as every practical index does.
    */
  /** Incremental inverted-index maintenance: merge a new document batch
    * into a standing (token, df, tf, postings) index — the ingest-time
    * twin of [[invertedIndex]], same shape as the incremental dedup
    * family: the standing index is NEVER rebuilt from its corpus, only
    * its counts updated and its posting caps re-trimmed.
    *
    * Correctness rests on cap prefix-closure: smallest-k of a union is
    * the smallest-k of the two sides' smallest-k — so merging capped
    * lists loses nothing, and the merged index is row-identical to a
    * full rebuild over both corpora (the registered oracle). df/tf add;
    * the one shuffle is token-keyed rows of ≤ `postingCap` ids each.
    */
  def invertedIndexMerge(standing: org.apache.spark.sql.DataFrame,
                         newDocs: org.apache.spark.sql.DataFrame,
                         postingCap: Int): org.apache.spark.sql.DataFrame = {
    val delta = invertedIndex(newDocs, postingCap)
    standing.unionByName(delta)
      .withColumn("ids",
        expr("transform(split(postings, ','), x -> CAST(x AS BIGINT))"))
      .groupBy(col("token"))
      // ≤ 2 rows per token (standing + delta), each carrying ≤ cap ids:
      // counts add, the two capped lists concatenate, sort, re-trim
      .agg(sum(col("df")).as("df"), sum(col("tf")).as("tf"),
        slice(array_sort(flatten(collect_list(col("ids")))), 1, postingCap)
          .as("ids"))
      .select(col("token"), col("df"), col("tf"),
        array_join(col("ids"), ",").as("postings"))
  }

  /** Temperature-weighted mixture sampling at τ = 2 — the multilingual
    * rebalancing trick (sample stratum s with probability ∝ p_s^(1/τ)):
    * a dominant language/source is down-sampled toward the square-root
    * profile while tail strata keep nearly everything, without anyone
    * hand-tuning per-stratum rates the way [[mixtureSample]] requires.
    *
    * Determinism: weights are INTEGER square roots (⌊√n⌋ — floor of the
    * correctly-rounded IEEE sqrt, identical in both engines), and the
    * keep decision is the all-integer cross-multiplied comparison
    * `bucket · (W · n_s) < B · w_s · 10⁶` (B = N/budgetDiv docs of
    * budget, W = Σw) — no float ever enters, so the sample is
    * bit-reproducible anywhere. Products stay under 2⁶³ for strata up to
    * ~10⁸ docs at 10⁶-bucket resolution; beyond that ANSI mode fails
    * loudly rather than sampling silently wrong.
    *
    * Scale shape: one stratum-count aggregate (broadcast back), one
    * scan-side filter — no shuffle of the corpus itself; the cap at
    * rate 1 falls out of the comparison (RHS ≥ 10⁶·LHS-max when
    * B·w ≥ W·n).
    */
  def temperatureMixture(docs: org.apache.spark.sql.DataFrame,
                         stratumCol: String,
                         budgetDiv: Int = 4): org.apache.spark.sql.DataFrame = {
    require(budgetDiv >= 1)
    val s = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
    val w = s.withColumn("w", floor(sqrt(col("n"))).cast("long"))
    val tot = w.agg(sum(col("n")).as("big_n"), sum(col("w")).as("big_w"))
    docs.join(broadcast(w), stratumCol).crossJoin(broadcast(tot))
      .withColumn("bucket", hashModBucket(col("doc_id"), 1000000))
      .filter(col("bucket") * (col("big_w") * col("n")) <
        expr(s"big_n div $budgetDiv") * col("w") * lit(1000000L))
      .select(col("doc_id"), col(stratumCol))
  }

  /** BM25 retrieval: top-`topK` documents for a bag of query terms —
    * the ranked-search surface over the corpus the inverted index
    * indexes. Uses the RATIONAL idf (N − df + ½)/(df + ½) instead of
    * its logarithm — the same no-libm determinism trick as
    * [[tfidfTopTerms]]: every op is one IEEE add/mul/div of exact
    * inputs, so both engines emit identical bits (ln is not
    * correctly-rounded-guaranteed across libms). Ranking quality for a
    * FIXED query is what the saturation term supplies; the idf transform
    * only reweights terms monotonically.
    *
    * Scale shape: the term filter runs scan-side on the exploded tokens
    * (no shuffle admits a non-query token), per-(doc, term) counts
    * map-side-combine, df and the (N, avgdl) stats are
    * bounded-cardinality broadcasts, per-term scores pivot to a FIXED
    * column order so the float sum is deterministic under any
    * partitioning, and the top-k plans as a distributed TakeOrdered.
    * k1 = 1.2, b = 0.75 (the standard Robertson constants), folded into
    * the literals 2.2 / 1.2 / 0.25 / 0.75 so both engines parse the
    * exact same doubles.
    */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, terms: Seq[String],
               topK: Int): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct, "terms: non-empty, unique")
    import org.apache.spark.sql.expressions.Window
    val dl = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = ((col("n") - col("df")) + lit(0.5)) / (col("df") + lit(0.5))
    val sat = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
    val scored = tf.join(broadcast(dfreq), "token").join(dl, "doc_id")
      .crossJoin(broadcast(stats)) // 1-row aggregate
      .select(col("doc_id"), col("token"), (idf * sat).as("s"))
    val pivots = terms.map(t => max(when(col("token") === t, col("s"))).as(s"s_$t"))
    val score = terms.map(t => coalesce(col(s"s_$t"), lit(0.0))).reduceLeft(_ + _)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    scored.groupBy(col("doc_id")).agg(pivots.head, pivots.tail: _*)
      .select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(topK)
      .withColumn("rnk", row_number().over(w).cast("int")) // ≤ topK rows
  }

  def invertedIndex(docs: org.apache.spark.sql.DataFrame,
                    postingCap: Int): org.apache.spark.sql.DataFrame = {
    require(postingCap >= 1)
    val bottomK = udaf(new BottomKIds(postingCap))
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf_doc"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf_doc")).as("tf"),
        bottomK(col("doc_id")).as("ids"))
      .select(col("token"), col("df"), col("tf"),
        array_join(col("ids"), ",").as("postings"))
  }
}
