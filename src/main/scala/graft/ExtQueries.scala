package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Buckets, Checkpoints, ConnectedComponents, KMeans, LatestPerKey, Multimodal, Par, Similarity}
import graft.sources.Tables
import graft.streaming.StreamingStage

/** Spark-side implementations of the LLM-data-pipeline extension queries
  * (dedup, text analysis) over the `documents` table. Each has a DuckDB
  * oracle (see SparkEntry) unless the primitive isn't SQL-portable.
  *
  * Since the synthetic corpus has no duplicates, dedup queries first build
  * a deterministic augmented corpus: every 10th doc re-appears with
  * `doc_id + 1000000` — exact copy for exact dedup, first-5-words-dropped
  * copy for near-dup — so the operators demonstrably remove rows.
  */
object ExtQueries {

  /** Dirs whose doc_id range has been validated against the planted-copy
    * fixture namespace (one column-pruned max scan per dir per JVM).
    */
  private val plantNamespaceChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def docs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    // LOUD fixture guard: several planted-copy fixtures (withExactDups /
    // withNearDups / the phash shift plants / the delete-propagation
    // state CTEs) place copies at doc_id + 1e6. A corpus where some
    // real id x coexists with real id x + 1e6 (orderkey-derived ids
    // cross 1e6 near sf0.2) would let plants silently COLLIDE with real
    // docs — duplicate doc_ids, fan-out in joins, wrong oracles (the
    // ADVICE r9 collision rule). Check the actual hazard — the id set
    // and its +1e6 shift must be disjoint — once per dir per JVM (two
    // id-pruned scans + one join; the disjoint +1e7 namespaces of the
    // heterogeneous scale corpora pass, a dense large-SF corpus fails
    // loudly instead of corrupting). The max(doc_id)-derived offsets
    // used by the change-feed/snapshot/substring fixtures are the cure;
    // this guard keeps the legacy +1e6 family honest until it migrates.
    if (!plantNamespaceChecked.contains(dir)) {
      val ids = d.select(col("doc_id"))
      val clash = ids
        .join(ids.select((col("doc_id") + lit(1000000L)).as("doc_id")), "doc_id")
        .limit(1).count()
      require(clash == 0L,
        s"planted-copy fixtures place copies at doc_id + 1e6, but $dir holds " +
          "real ids exactly 1e6 apart — widen the plant offsets (and their " +
          "oracle CTEs) before running the dedup/phash fixture gates here")
      plantNamespaceChecked.add(dir)
    }
    d
  }

  /** Corpus + exact duplicate copies of every 10th doc. */
  private def withExactDups(d: DataFrame): DataFrame =
    d.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
      d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars")))

  /** Exact deduplication: hash-partition by content fingerprint, keep the
    * lowest id. At scale this shuffles 16-byte digests, not documents —
    * the md5 (not raw text) partition key is the 100 TB design choice.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    LatestPerKey(
      withExactDups(docs(s, dir)),
      Seq(md5(col("text").cast("binary"))),
      Seq(col("doc_id").asc_nulls_first))
      .select("doc_id", "lang", "source", "n_chars")

  /** N-gram Jaccard near-duplicate pairs: shingle → inverted index →
    * shared-shingle counts → Jaccard ≥ 0.5.
    */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramPairStats(withNearDups(docs(s, dir)))
      .withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select("doc_id_1", "doc_id_2", "jaccard")

  /** Shared exact n-gram pair machinery: capped inverted index →
    * packed-long pair expansion → intersection counts joined with both
    * sides' distinct-shingle sizes. Consumed by the Jaccard detector
    * (symmetric overlap) and the containment detector (asymmetric).
    */
  private def ngramPairStats(all: DataFrame): DataFrame = {
    val distinctShingles = array_distinct(TextFunctions.shingles(col("words"), 3))
    // Inverted index as ONE groupBy(shingle) + in-bucket pair expansion:
    // a posting-list self-join would shuffle the exploded shingle table
    // twice and recompute its pipeline per side; here only (shingle ->
    // doc list) shuffles once, singleton shingles (the vast majority)
    // are pruned before any pair exists, and per-doc set sizes come from
    // a doc-level projection (no second explode); AQE broadcasts that
    // side when it is small and falls back to shuffle join at scale.
    // Stop-shingle cap: postings longer than this are dropped from
    // CANDIDATE GENERATION (denominators stay exact). At web scale a
    // ubiquitous 3-gram ("one of the") otherwise contributes a quadratic
    // pair blow-up while carrying no similarity signal; near-dup pairs
    // at jaccard ≥ 0.5 still collide on their many rare shingles.
    val maxPosting = Buckets.DefaultCap
    val sh = all.select(col("doc_id"), explode(distinctShingles).as("sh"))
    // Pairs are PACKED into one BIGINT (a·2^32 + b; ids < 2^31 — swap
    // to struct keys past that) for the expansion + intersection
    // count: the pair stream is the volume hot spot (Σ|posting|²/2
    // rows — 167M at the 10× smoke), and a packed long makes each row
    // one primitive instead of a 2-field struct allocation and gives
    // the count a single-long hash key. Measured 1.8× on the smoke's
    // pair-count stage (160 → 90 s under load; see SCALE_SMOKE.md).
    val pairs = sh.groupBy("sh")
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxPosting)
      .select(explode(expr(
        """flatten(transform(ds, a ->
          |  transform(filter(ds, b -> b > a), b -> a * 4294967296L + b)))""".stripMargin)).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("inter"))
      .select(shiftright(col("pk"), 32).as("doc_id_1"),
        col("pk").bitwiseAND(lit(4294967295L)).as("doc_id_2"), col("inter"))
    val sizes = all.select(col("doc_id"), size(distinctShingles).as("n_sh"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_id_1").withColumnRenamed("n_sh", "n1"), "doc_id_1")
      .join(sizes.withColumnRenamed("doc_id", "doc_id_2").withColumnRenamed("n_sh", "n2"), "doc_id_2")
  }

  /** Asymmetric containment near-dup (`dedup_containment`): pairs where
    * the SMALLER shingle set sits (almost) inside the larger —
    * `inter / min(n1, n2) ≥ 0.9` — the quote/boilerplate/subsumption
    * detector Jaccard structurally misses: a snippet fully contained in
    * a long document scores Jaccard ≈ |snippet|/|doc| (arbitrarily low)
    * but containment 1.0. The planted trimmed copies are TRUE
    * containment pairs by construction (a suffix's shingles are a
    * subset of the original's), several below the Jaccard gate's 0.5.
    * Direction is emitted: `contained_id` is the smaller-set side
    * (ties → the higher id, which is the planted copy).
    *
    * Scale shape: identical to the Jaccard detector — the pair
    * machinery is shared ([[ngramPairStats]]), so the capped postings
    * and packed-long pair stream price both detectors once.
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    ngramPairStats(withNearDups(docs(s, dir)))
      .withColumn("containment", col("inter") / least(col("n1"), col("n2")))
      .filter(col("containment") >= 0.9)
      .select(
        when(col("n1") < col("n2"), col("doc_id_2"))
          .when(col("n2") < col("n1"), col("doc_id_1"))
          .otherwise(greatest(col("doc_id_1"), col("doc_id_2"))).as("container_id"),
        when(col("n1") < col("n2"), col("doc_id_1"))
          .when(col("n2") < col("n1"), col("doc_id_2"))
          .otherwise(least(col("doc_id_1"), col("doc_id_2"))).as("contained_id"),
        least(col("n1"), col("n2")).cast("long").as("n_contained_sh"),
        col("containment"))

  /** Token + char counting (whitespace tokenizer). */
  def textTokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_computed"))

  /** Quality scoring: character-class ratios + mean token length. */
  def textQualityScore(s: SparkSession, dir: String): DataFrame = {
    val len = length(col("text")).cast("double")
    val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("double")
    val spaces = length(col("text")) - length(regexp_replace(col("text"), " ", ""))
    docs(s, dir).select(
      col("doc_id"),
      (alpha / len).as("alpha_ratio"),
      (spaces.cast("double") / len).as("ws_ratio"),
      ((len - spaces.cast("double")) / (spaces.cast("double") + lit(1.0))).as("avg_token_len"))
  }

  /** Composite document-quality filter (Gopher-rule flavor, Rae et al.
    * 2021 §A1.1): token-count window, mean-token-length window, alpha
    * ratio, and stopword presence — each rule a column, `passes` their
    * conjunction, so downstream can both filter and audit reject
    * reasons. Pure column expressions, no shuffle.
    */
  def textQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "data", "order", "key", "value")
    val words = split(col("text"), " ")
    val nTok = size(words).cast("long")
    val len = length(col("text")).cast("double")
    val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") / len
    val meanTokLen = (len - (nTok - 1).cast("double")) / nTok.cast("double")
    val stopHits = size(filter(words, w => w.isin(stop: _*))).cast("long")
    docs(s, dir).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      (stopHits.cast("double") / nTok.cast("double")).as("stopword_ratio"),
      alpha.as("alpha_ratio"),
      meanTokLen.as("mean_token_len"),
      (nTok >= 10 && nTok <= 100000 &&
        meanTokLen >= 2.0 && meanTokLen <= 12.0 &&
        alpha >= 0.5 &&
        stopHits >= 1).as("passes"))
  }

  /** Stopword-lexicon language id: tokenize → lexicon hit counts per lang →
    * argmax (ties broken by lang name). The lexicon is tiny → broadcast.
    */
  val langLexicon: Seq[(String, String)] = Seq(
    "the" -> "en", "order" -> "en", "window" -> "en", "table" -> "en",
    "slow" -> "es", "agg" -> "es", "vector" -> "es", "merge" -> "es",
    "customer" -> "de", "join" -> "de", "column" -> "de", "key" -> "de",
    "scan" -> "fr", "data" -> "fr", "query" -> "fr", "batch" -> "fr",
    "row" -> "zh", "small" -> "zh", "value" -> "zh", "line" -> "zh")

  def textLangId(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val lex = langLexicon.toDF("word", "lex_lang")
    val d = docs(s, dir)
    val hits = d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(lex), "word")
      .groupBy("doc_id", "lex_lang")
      .agg(count(lit(1)).as("hits"))
    val best = LatestPerKey(hits, Seq(col("doc_id")),
      Seq(col("hits").desc_nulls_last, col("lex_lang").asc_nulls_first))
      .select(col("doc_id"), col("lex_lang"))
    d.select(col("doc_id"), col("lang").as("actual_lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("actual_lang"),
        coalesce(col("lex_lang"), lit("und")).as("predicted_lang"))
  }

  /** Signed sentiment lexicon (word → weight), tiny → broadcast. The
    * operator shape is textLangId's lexicon join with a signed SUM in
    * place of the argmax, and applies to any tokenized string column;
    * the gated query scores the `documents` corpus like the rest of the
    * text family (SURVEY §7b's "sentiment lexicon scoring") — the
    * reference pipeline's `notes` column carries JSON payloads in the
    * bench data, whose analysis path is `events_json_extract`.
    */
  val sentimentLexicon: Seq[(String, Int)] = Seq(
    "fast" -> 2, "spark" -> 2, "value" -> 1, "merge" -> 1, "big" -> 1,
    "slow" -> -2, "dup" -> -2, "small" -> -1, "filter" -> -1, "scan" -> -1)

  /** Per-document sentiment: sum of signed lexicon weights over tokens,
    * plus hit count and a sign label; docs with no lexicon hit score 0 /
    * neutral. Scale shape: one token explode → broadcast lexicon join
    * (non-lexicon tokens drop BEFORE the shuffle) → one doc_id groupBy,
    * then a broadcast-sized join back to the doc spine for the zero-hit
    * rows.
    */
  def textSentiment(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val lex = sentimentLexicon.toDF("word", "weight")
    val d = docs(s, dir)
    val scores = d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(lex), "word")
      .groupBy("doc_id")
      .agg(sum(col("weight")).as("sentiment_score"),
        count(lit(1)).as("n_sentiment_words"))
    val score = coalesce(col("sentiment_score"), lit(0L))
    d.select(col("doc_id"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"),
        score.as("sentiment_score"),
        coalesce(col("n_sentiment_words"), lit(0L)).as("n_sentiment_words"),
        when(score > 0, lit("positive"))
          .when(score < 0, lit("negative"))
          .otherwise(lit("neutral")).as("sentiment_label"))
  }

  /** Intra-document repetition signals (the Gopher repetition filters,
    * Rae et al. 2021 §A1.1): duplicate-token and duplicate-n-gram
    * fractions per document. Pure array expressions over the token
    * array — O(tokens) per row, NO shuffle and no explode — the signals
    * a 100 TB quality pass computes alongside the E9/E21 ratios in the
    * same scan.
    */
  def repetitionSignals(d: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    def dupFrac(arr: Column): Column =
      when(size(arr) === 0, lit(0.0))
        .otherwise(lit(1.0) -
          size(array_distinct(arr)).cast("double") / size(arr).cast("double"))
    d.select(
      col("doc_id"),
      size(words).cast("long").as("n_tokens"),
      dupFrac(words).as("dup_token_frac"),
      dupFrac(TextFunctions.shingles(words, 2)).as("dup_2gram_frac"),
      dupFrac(TextFunctions.shingles(words, 3)).as("dup_3gram_frac"))
  }

  def textRepetition(s: SparkSession, dir: String): DataFrame =
    repetitionSignals(docs(s, dir))

  /** PII scrubbing: count then redact email/phone patterns per document,
    * emitting audit counts + the digest of the redacted text (the digest
    * keeps the gate row narrow; the redacted payload itself would go to
    * the sink in a real run). Deterministic PII is INJECTED into every
    * 5th document (derived from doc_id, mirrored by the oracle) so the
    * gate proves both the hit and the no-hit path on the real corpus —
    * the same planted-fixture pattern as the near-dup detectors.
    * Scale: pure regexp column expressions, no shuffle.
    */
  val piiEmailPattern = "[a-z0-9._]+@[a-z0-9.]+"
  val piiPhonePattern = "555-[0-9]{4}"

  def piiRedactOf(d: DataFrame): DataFrame = {
    val injected = when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or "),
        lit("555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    ).otherwise(col("text"))
    val cleaned = regexp_replace(
      regexp_replace(injected, piiEmailPattern, "<EMAIL>"),
      piiPhonePattern, "<PHONE>")
    d.select(
      col("doc_id"),
      regexp_count(injected, lit(piiEmailPattern)).cast("long").as("n_emails"),
      regexp_count(injected, lit(piiPhonePattern)).cast("long").as("n_phones"),
      md5(cleaned.cast("binary")).as("clean_md5"))
  }

  def piiRedact(s: SparkSession, dir: String): DataFrame =
    piiRedactOf(docs(s, dir))

  /** Deterministic per-source quota sample: the top 10 documents per
    * source by content digest (ties → doc_id) — the data-mix allocation
    * op that caps each domain's contribution regardless of its size,
    * reproducible across engines, runs and partitionings (a rate-based
    * sample caps nothing; a RNG sample reproduces nowhere). Because the
    * rank is part of the output (the allocation order), this keeps the
    * stock WindowGroupLimit plan — still a per-partition group-limit
    * BEFORE the shuffle, so ≤10 rows per (source, input partition)
    * cross the wire; the rank-unused form would ride the native top-k.
    */
  def sampleSourceQuota(s: SparkSession, dir: String): DataFrame =
    LatestPerKey.topKRanked(
      docs(s, dir).select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("digest")),
      10, Seq(col("source")),
      Seq(col("digest").asc_nulls_first, col("doc_id").asc_nulls_first))
      .select(col("source"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("digest"))

  /** Corpus vocabulary heavy hitters: top-20 words by occurrence count
    * (ties → lexicographic) with document frequency — the corpus-stats
    * pass a tokenizer-training pipeline runs first. Scale shape: the
    * word groupBy partial-aggregates map-side (vocabulary ≪ token
    * count crosses the wire), and the top-k is `TakeOrdered`, not a
    * full sort.
    */
  def textVocabTopK(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc_nulls_last, col("word").asc_nulls_first)
      .limit(20)

  /** Top-3 TF-IDF terms per document. The idf factor is the log-free
    * rational `N / df` (ranking-equivalent to the classic log form for
    * fixed N: x ↦ ln is monotone), so the score is ONE double division
    * of exact integers — bit-identical across engines, where `ln` would
    * hinge on libm rounding. Scale shape: tf = one (doc, word) groupBy;
    * df derived FROM tf (vocabulary-sized, broadcast back); top-3 via
    * the per-doc window. Nothing document-sized shuffles twice.
    */
  def textTfidfTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    // N composed lazily as a broadcast 1-row cross join (like the
    // oracle's CROSS JOIN n) — an eager d.count() here would hide a
    // full corpus scan inside query CONSTRUCTION, paid on every plan
    // build and breaking one-plan composability
    val n = d.agg(count(lit(1)).as("__n"))
    val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // df as a window count over tf, NOT groupBy+join-back: Spark does
    // not reuse a shuffle stage consumed through a BroadcastExchange
    // (PLANS.md lesson 2), so the join form re-scanned and re-tokenized
    // the whole corpus for the df leg — the window keeps it ONE scan,
    // trading the vocabulary broadcast for one |tf| shuffle on word
    val withDf = tf.withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
    val scored = withDf
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("__n")).cast("double") / col("df"))
    LatestPerKey.topKRanked(scored, 3, Seq(col("doc_id")),
        Seq(col("score").desc_nulls_last, col("word").asc_nulls_first))
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("word"),
        col("tf"), col("df"), round(col("score"), 6).as("score"))
  }

  /** Statistical LM quality proxy: mean inverse corpus bigram frequency
    * per document — a KenLM-style fluency signal (documents made of
    * corpus-typical bigrams score low; rare-bigram salads score high)
    * without the log: each term is the rational `N_bigrams / count(bg)`,
    * one exact divide, so the score hash-gates where `ln`-based
    * perplexity would hinge on libm rounding (the TF-IDF lesson).
    * Determinism: the per-doc sum is a LEFT FOLD in bigram-position
    * order over the collected (pos, count) list — never a
    * partition-order double sum. Scale shape: one bigram explode; the
    * count comes from a window over the same shuffle (no join-back
    * re-scan — the TF-IDF lesson again); the corpus total N comes from
    * a direct base-table scan (cheap) instead of a third pass over the
    * exploded bigrams.
    */
  def textBigramLm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val words = split(col("text"), " ")
    val bg = d.select(col("doc_id"),
      posexplode(TextFunctions.shingles(words, 2)).as(Seq("pos", "bg")))
    val withC = bg.withColumn("c", count(lit(1)).over(Window.partitionBy("bg")))
    val n = d.agg(sum(greatest(size(words) - 1, lit(0))).cast("double").as("__n"))
    val folded = withC.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("lst"),
        count(lit(1)).as("n_bigrams"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_bigrams"),
        round(aggregate(col("lst"), lit(0.0),
            (acc, x) => acc + col("__n") / x.getField("c").cast("double"))
          / col("n_bigrams").cast("double"), 6).as("mean_inv_freq"))
    d.select(col("doc_id")).join(folded, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mean_inv_freq"))
  }

  /** Repeated-substring spans (the substring-level dedup of Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better",
    * at word-window granularity): an 8-word window occurring at ≥ 2
    * distinct (doc, position) sites corpus-wide is "duplicated"; per
    * doc, overlapping/adjacent duplicated windows merge into MAXIMAL
    * repeated spans (gaps-and-islands over window positions) — the
    * span list a pipeline would cut or down-weight, finer-grained than
    * whole-doc near-dup removal. Span COORDINATES only — two distinct
    * repeats within W words of each other merge into one span, and
    * per-pair match lengths are not recoverable; [[substringMaxRuns]]
    * is the exact variable-length path (maximal per-pair lengths by
    * anchored diagonal extension).
    *
    * Scale shape (100 TB): stride-1 windows amplify rows ×L, but only
    * (16-byte digest, doc_id, position) triples shuffle — the digest
    * groupBy is the same shape as the E2/E38 shingle shuffles, with
    * map-side partial counts; the island merge is one doc-keyed window
    * over the SURVIVING positions only (duplicated ones), not the
    * corpus.
    */
  def textSubstringSpans(s: SparkSession, dir: String): DataFrame =
    substringSpans(docs(s, dir))

  /** Core of [[textSubstringSpans]] over any (doc_id, text) frame. */
  def substringSpans(d: DataFrame, W: Int = 8): DataFrame = {
    val toks = d
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= W)
    val wins = toks.select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(w) - ${W - 1}),
           |  p -> struct(p AS p, md5(array_join(slice(w, p, $W), ' ')) AS dig))""".stripMargin)).as("s"))
      .select(col("doc_id"), col("s.p").cast("long").as("p"), col("s.dig").as("dig"))
    val dup = wins.groupBy("dig").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("dig")
    val marked = wins.join(dup, Seq("dig")).select("doc_id", "p")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("p")
    // island break when the previous duplicated window can no longer
    // overlap/touch this one (gap > W); NULL lag (first row) breaks too
    val isl = marked
      .withColumn("brk", when(col("p") - lag("p", 1).over(byDoc) <= W, lit(0L)).otherwise(lit(1L)))
      .withColumn("span_idx", sum("brk").over(byDoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    isl.groupBy(col("doc_id"), col("span_idx"))
      .agg(min("p").as("start_pos"), (max("p") + lit(W - 1)).as("end_pos"))
      .withColumn("n_words", col("end_pos") - col("start_pos") + 1)
  }

  /** VARIABLE-LENGTH exact substring matches by ANCHORED EXTENSION
    * (VERDICT r8 #2 — the Lee et al. 2021 suffix-array semantics at
    * word granularity, without the suffix array): W-word windows are
    * SEEDS; two positions sharing a window digest pair up, and
    * consecutive seed pairs along the same DIAGONAL (pb − pa
    * constant, pa consecutive) chain into maximal matched runs. A
    * run of r consecutive matching W-windows on one diagonal is
    * exactly a common substring of r + W − 1 words, and maximality
    * holds in both directions: one more matching word on either end
    * would produce one more matching window. So unlike
    * [[substringSpans]] (whose island merge UNIONS overlapping
    * duplicated windows regardless of which partner they match —
    * span coordinates, not match lengths), this emits the exact
    * per-pair maximal repeat lengths for every repeat ≥ W words.
    *
    * Quadratic control: a window digest posted at n sites seeds
    * n·(n−1)/2 pairs; digests with more than `maxPostings` sites are
    * dropped WHOLE (documented miss bound — a repeat containing such
    * a window splits into the runs on either side of it; ultra-common
    * word windows are boilerplate a pipeline drops anyway, the
    * frequent-shingle rule of the decontamination family). The gate
    * fixture's posting lists are ≪ the cap, so its output is exact.
    *
    * Scale shape (100 TB): only (16-byte digest, doc, position)
    * triples shuffle; the seed join is digest-keyed with pair volume
    * capped per digest (the dedup_ngram_verified regime, never
    * Σ|posting|² unbounded); the diagonal islands are one window over
    * SEED PAIRS partitioned by (doc_a, doc_b, diag) — state bounded
    * by document length, not corpus size.
    */
  def substringMaxRuns(d: DataFrame, W: Int = 8, maxPostings: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = d
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= W)
    val wins = toks.select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(w) - ${W - 1}),
           |  p -> struct(p AS p, md5(array_join(slice(w, p, $W), ' ')) AS dig))""".stripMargin)).as("s"))
      .select(col("doc_id"), col("s.p").cast("long").as("p"), col("s.dig").as("dig"))
    val ok = wins.groupBy("dig").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxPostings).select("dig")
    val m = wins.join(ok, "dig")
    val seeds = m.select(col("dig"), col("doc_id").as("doc_a"), col("p").as("pa"))
      .join(m.select(col("dig"), col("doc_id").as("doc_b"), col("p").as("pb")), "dig")
      .filter(col("doc_a") < col("doc_b") ||
        (col("doc_a") === col("doc_b") && col("pa") < col("pb")))
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pb") - col("pa")).as("diag"))
    val byDiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    val isl = seeds
      .withColumn("brk",
        when(col("pa") - lag("pa", 1).over(byDiag) === 1, lit(0L)).otherwise(lit(1L)))
      .withColumn("run_idx", sum("brk").over(byDiag.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy(col("doc_a"), col("doc_b"), col("diag"), col("run_idx"))
      .agg(min("pa").as("a_start"), max("pa").as("a_end"))
      .select(col("doc_a"), col("doc_b"), col("a_start"),
        (col("a_start") + col("diag")).as("b_start"),
        (col("a_end") - col("a_start") + lit(W.toLong)).as("len_words"))
  }

  /** VARIABLE-LENGTH duplicated-substring REMOVAL — the rewrite half
    * of Lee et al. 2021 (the detector half is [[substringMaxRuns]]):
    * for every maximal cross-site repeat, the CANONICAL occurrence
    * (the lexicographically smaller (doc, position) site — doc_a in
    * the run's orientation) survives and the doc_b-side span is cut;
    * survivors reassemble in position order. So a doc that is wholly
    * a later copy of earlier content loses everything, while the
    * original keeps everything — the substring-granular sibling of
    * [[segmentDedup]]'s fixed-segment cuts, without its "cut BOTH
    * sides" information loss.
    *
    * Scale shape: runs come from the bounded seed machinery; the cut
    * materialization joins each doc's positions against ITS OWN cut
    * intervals only (doc-keyed join, intervals per doc bounded by the
    * doc's run count); reassembly is one doc-keyed groupBy with state
    * bounded by document length.
    */
  def substringCut(d: DataFrame, W: Int = 8, maxPostings: Int = 1000): DataFrame = {
    val runs = substringMaxRuns(d, W, maxPostings)
    val cuts = runs.select(col("doc_b").as("doc_id"), col("b_start").as("s"),
      (col("b_start") + col("len_words") - 1).as("e"))
    val toks = d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("w"))
    val cutPos = toks.select(col("doc_id"), col("p"))
      .join(cuts, Seq("doc_id"))
      .filter(col("p").between(col("s"), col("e")))
      .select(col("doc_id"), col("p")).distinct()
    val kept = toks.join(cutPos, Seq("doc_id", "p"), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("w")))),
          x => x.getField("w")), " ").as("clean_text"))
    d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        md5(coalesce(col("clean_text"), lit("")).cast("binary")).as("clean_md5"))
  }

  /** `text_substring_cut`: [[substringCut]] over the same planted
    * variable-length-repeat corpus as `text_substring_extend` — the
    * planted +3M snippets are wholly later copies of original content,
    * so they cut to empty while their originals stay intact (both
    * directions of the canonical-keep rule exercised, plus natural
    * intra-corpus repeats).
    */
  def textSubstringCut(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val off = d.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val planted = d.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + lit(off)).as("doc_id"),
      array_join(expr(
        """slice(split(text, ' '), 3,
          |  CASE WHEN doc_id % 30 = 0 THEN 33
          |       WHEN doc_id % 30 = 10 THEN 17
          |       ELSE 9 END)""".stripMargin), " ").as("text"))
    substringCut(d.select(col("doc_id"), col("text")).unionByName(planted))
  }

  /** `text_substring_extend`: [[substringMaxRuns]] over the corpus
    * plus PLANTED variable-length repeats — every 10th doc re-appears
    * (+3000000) as ONLY words 3..L+2 of the original, L cycling
    * 33/17/9 by `doc_id % 30` — so the gate pins exact maximal
    * lengths at three sizes spanning 1×–4× the window (a fixed-window
    * detector reports ≥-W spans, not these lengths), alongside
    * whatever natural repeats the corpus carries.
    */
  def textSubstringExtend(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val off = d.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val planted = d.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + lit(off)).as("doc_id"),
      array_join(expr(
        """slice(split(text, ' '), 3,
          |  CASE WHEN doc_id % 30 = 0 THEN 33
          |       WHEN doc_id % 30 = 10 THEN 17
          |       ELSE 9 END)""".stripMargin), " ").as("text"))
    substringMaxRuns(d.select(col("doc_id"), col("text")).unionByName(planted))
  }

  /** KMV estimate from a stored sketch as PLAIN column arithmetic —
    * the same two IEEE divides KmvDistinctAgg.eval performs, so an
    * estimate computed from a materialized sketch equals the direct
    * aggregate bit-for-bit.
    */
  def kmvEstimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (element_at(sketch, k).cast("double") / lit(graft.functions.KmvDistinctAgg.HashSpace)))

  /** Re-aggregatable distinct-count sketches: materialize one KMV
    * sketch per source (`kmv_sketch` — the ≤ k smallest distinct
    * hashes as a tiny array VALUE), then (a) estimate per source from
    * the stored sketches, (b) merge the stored sketches into a global
    * estimate WITHOUT rescanning (`kmv_merge`), and (c) recompute the
    * global estimate directly from the raw data (`kmv_distinct`). The
    * hash gate proves (b) == (c) — re-aggregation is lossless — which
    * is the 100 TB pattern: scan each day/partition once, store k
    * longs per group, answer every later rollup from the sketches.
    */
  def qaSketchReagg(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val d = docs(s, dir)
    val sketches = d.groupBy(col("source"))
      .agg(call_function("kmv_sketch", col("text"), lit(k)).as("sk"))
    val perSource = sketches.select(col("source").as("scope"),
      kmvEstimate(col("sk"), k).as("n_distinct_est"))
    val merged = sketches
      .agg(call_function("kmv_merge", col("sk"), lit(k)).as("msk"))
      .select(lit("__merged").as("scope"), kmvEstimate(col("msk"), k).as("n_distinct_est"))
    val direct = d
      .agg(call_function("kmv_distinct", col("text"), lit(k)).as("n_distinct_est"))
      .select(lit("__direct").as("scope"), col("n_distinct_est"))
    perSource.unionByName(merged).unionByName(direct)
  }

  /** Corpus-level duplicated-SEGMENT removal with document reassembly
    * (the C4/RefinedWeb "remove lines duplicated across documents"
    * cleaning pass, at fixed 10-word segment granularity since the
    * corpus has no newlines): a segment whose exact text occurs in ≥ 2
    * DISTINCT documents is cut from every document carrying it; the
    * survivors reassemble in position order. Differs from
    * [[textSubstringSpans]] (a detector emitting span coordinates):
    * this op REWRITES the corpus — the gate row carries the cleaned
    * text's md5 (the payload itself would go to the sink).
    *
    * Planted fixture: every 10th doc re-appears shifted LEFT by exactly
    * one segment width (first 10 words dropped), so copy segment j ==
    * original segment j+1 — the original keeps only its first segment,
    * the copy loses everything: both the partial- and full-removal
    * paths run on the real corpus (oracle mirrors the plant).
    *
    * Scale shape (100 TB): segments shuffle ONCE, partitioned by their
    * 16-byte digest (a groupBy(dig)+join-back would re-scan and
    * re-segment the corpus for the probe side — the TF-IDF lesson);
    * cross-doc duplication is min(doc_id) != max(doc_id) over that
    * window — O(1) state per key even for a segment present in
    * millions of docs, where collect_set would OOM the hot key.
    * Reassembly is one doc-keyed groupBy whose state is bounded by
    * document length (documents are bounded; corpora are not).
    */
  def segmentDedup(d: DataFrame, W: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = d
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, CAST(ceil(size(w) / ${W}.0) AS INT) - 1),
           |  i -> struct(CAST(i AS BIGINT) AS seg_idx,
           |              array_join(slice(w, i * $W + 1, $W), ' ') AS seg))""".stripMargin)).as("s"))
      .select(col("doc_id"), col("s.seg_idx").as("seg_idx"), col("s.seg").as("seg"))
    val byDig = Window.partitionBy(md5(col("seg").cast("binary")))
    val kept = segs
      .withColumn("xdoc",
        min(col("doc_id")).over(byDig) =!= max(col("doc_id")).over(byDig))
      .filter(!col("xdoc"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x.getField("seg")), " ").as("clean_text"))
    d.select(col("doc_id"),
        ceil(size(split(col("text"), " ")) / lit(W.toDouble)).cast("long").as("n_segments"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_segments") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("clean_text"), lit("")).cast("binary")).as("clean_md5"))
  }

  def textSegmentDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val aug = d.select(col("doc_id"), col("text")).unionByName(
      d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + lit(2000000L)).as("doc_id"),
        array_join(expr(
          "slice(split(text, ' '), 11, greatest(size(split(text, ' ')) - 10, 0))"),
          " ").as("text")))
    segmentDedup(aug)
  }

  /** Z-order (Morton) clustering key over (part, supplier) — the
    * layout column [[graft.operators.Layout.zorderLayout]] range-
    * partitions and sorts by so box predicates prune files on parquet
    * min/max stats in BOTH dimensions. The gate pins the interleave
    * arithmetic; LayoutSpec proves the pruning win (fewer partition
    * bounding boxes intersect a box query than under a linear sort).
    */
  def layoutZorder(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem").select(
      col("l_orderkey").as("order_key"),
      col("l_linenumber").cast("long").as("line_no"),
      col("l_partkey").as("part_key"),
      col("l_suppkey").as("supp_key"),
      graft.operators.Layout.zorderKey(col("l_partkey"), col("l_suppkey")).as("zkey"))

  /** Quantile read-off from a stored row-sample sketch, as PLAIN column
    * arithmetic: sort the sampled values, pick index floor(q·(n-1)) —
    * no interpolation, so the estimate is an actual data value and
    * hash-gates exactly.
    */
  def sampleQuantile(sketch: Column, q: Double): Column = {
    val vals = array_sort(transform(sketch, x => x.getField("v")))
    when(size(vals) === 0, lit(null).cast("double"))
      .otherwise(element_at(vals,
        (floor(lit(q) * (size(vals) - 1)) + 1).cast("int")))
  }

  /** Re-aggregatable QUANTILE sketches (the third sketch family next to
    * KMV distinct counts and Bloom membership): one bottom-k-by-hash
    * row sample per (returnflag, linestatus) group, merged per
    * returnflag WITHOUT rescanning (`sample_merge`), vs the same
    * sketch computed directly from the raw rows — p25/p50/p75 read off
    * both. Min-k by content hash makes merge lossless, so merged ==
    * direct row-for-row; the DuckDB oracle states the selection as
    * ORDER BY md5-prefix and both scopes from the same sample, so a
    * broken merge path breaks the hash gate. The 100 TB pattern:
    * scan each day/partition once, store k (hash, value) pairs per
    * group, answer later quantile rollups from the sketches alone.
    */
  def aggQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val k = 128
    val keyed = Tables.load(s, dir, "lineitem").select(
      col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
      concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")).as("key"),
      col("l_extendedprice").cast("double").as("v"))
    val perLs = keyed.groupBy("rf", "ls")
      .agg(call_function("sample_sketch", col("key"), col("v"), lit(k)).as("sk"))
    val merged = perLs.groupBy("rf")
      .agg(call_function("sample_merge", col("sk"), lit(k)).as("sk"))
    val direct = keyed.groupBy("rf")
      .agg(call_function("sample_sketch", col("key"), col("v"), lit(k)).as("sk"))
    def est(d: DataFrame, tag: String): DataFrame = d.select(
      concat(col("rf"), lit("|" + tag)).as("scope"),
      size(col("sk")).cast("long").as("n_sample"),
      sampleQuantile(col("sk"), 0.25).as("p25"),
      sampleQuantile(col("sk"), 0.50).as("p50"),
      sampleQuantile(col("sk"), 0.75).as("p75"))
    est(merged, "merged").unionByName(est(direct, "direct"))
  }

  /** Rolling distinct users per event type — KMV sketches COMPOSED with
    * window frames: one `kmv_sketch` per (type, hour), then `kmv_merge`
    * OVER a 3-observed-hour sliding frame, estimate read off the merged
    * sketch. This is the streaming-dashboard shape ("unique users,
    * trailing window") that exact distinct cannot sustain at 100 TB:
    * the window state is k longs per hour instead of the hour's user
    * set, and merge-over-frame is lossless by min-k associativity, so
    * the estimate equals a from-scratch sketch of the frame's union —
    * which is exactly what the DuckDB twin states (per-frame distinct
    * set → min-k → the same two-divide arithmetic). Hours are integer
    * epoch-hour indexes (ns div 3.6e12, the OLS-trend convention).
    */
  def eventsRollingDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 64
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("ts_ns div 3600000000000").as("hr"),
      col("user_id").cast("string").as("uk"))
    val sk = e.groupBy("event_type", "hr")
      .agg(call_function("kmv_sketch", col("uk"), lit(k)).as("sk"),
        count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-2, 0)
    sk.select(col("event_type"), col("hr"), col("n_events"),
      round(kmvEstimate(
        call_function("kmv_merge", col("sk"), lit(k)).over(w), k), 6)
        .as("n_users_3h_est"))
  }

  /** Curriculum quality bins: label every document with its quality
    * QUARTILE (Q1..Q4 by alpha ratio) using thresholds read off the
    * deterministic row-sample sketch — the curriculum-ordering pass a
    * training pipeline runs to schedule low→high-quality data. Two
    * stages, both bounded: ONE corpus scan builds the k=128 sample
    * (the thresholds are approximate but deterministic and
    * oracle-replayable — an exact global quantile would SORT the
    * corpus), then the 3-value threshold row broadcasts back for the
    * labeling scan. Boundary contract: score <= p_q ⇒ the lower bin,
    * stated identically in the oracle.
    */
  def pipelineCurriculumBins(s: SparkSession, dir: String): DataFrame = {
    val k = 128
    val score = length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
      length(col("text")).cast("double")
    val scored = docs(s, dir).select(col("doc_id"), score.as("score"))
    val sk = scored.agg(call_function("sample_sketch",
      col("doc_id").cast("string"), col("score"), lit(k)).as("sk"))
    val th = sk.select(
      sampleQuantile(col("sk"), 0.25).as("p25"),
      sampleQuantile(col("sk"), 0.50).as("p50"),
      sampleQuantile(col("sk"), 0.75).as("p75"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), round(col("score"), 6).as("score"),
        when(col("score") <= col("p25"), lit("Q1"))
          .when(col("score") <= col("p50"), lit("Q2"))
          .when(col("score") <= col("p75"), lit("Q3"))
          .otherwise(lit("Q4")).as("bin"))
  }

  /** Sketch SET ALGEBRA: union, intersection and Jaccard estimates
    * between each source and a planted 'shared' pseudo-source, all
    * from STORED sketches — union as a pure-column min-k merge of two
    * sketch arrays (sort-distinct-truncate), intersection by
    * inclusion–exclusion, no rescan of either side. The 100 TB use:
    * "how much does corpus A overlap corpus B" answered from k longs
    * per corpus. Estimates can go slightly negative on disjoint pairs
    * (inclusion–exclusion noise) — they are emitted as-is;
    * deterministic, and the oracle states the identical arithmetic.
    */
  def qaSketchSetAlgebra(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val d = docs(s, dir)
    // every 4th doc is ALSO attributed to the 'shared' pseudo-source,
    // so each (source, shared) pair has real, deterministic overlap
    val aug = d.select(col("source"), col("text")).unionByName(
      d.filter(col("doc_id") % 4 === 0)
        .select(lit("shared").as("source"), col("text")))
    val sketches = aug.groupBy("source")
      .agg(call_function("kmv_sketch", col("text"), lit(k)).as("sk"))
    val shared = sketches.filter(col("source") === "shared")
      .select(col("sk").as("shared_sk"))
    val unionSk = slice(array_sort(array_distinct(
      concat(col("sk"), col("shared_sk")))), 1, k)
    sketches.filter(col("source") =!= "shared")
      .crossJoin(broadcast(shared))
      .select(col("source"),
        round(kmvEstimate(col("sk"), k), 6).as("est_n"),
        round(kmvEstimate(unionSk, k), 6).as("est_union"),
        round(kmvEstimate(col("sk"), k) + kmvEstimate(col("shared_sk"), k)
          - kmvEstimate(unionSk, k), 6).as("est_inter"))
  }

  /** Corpus snapshot diff (dataset-version CDC): classify every doc_id
    * across two corpus versions as added / removed / changed /
    * unchanged by comparing content digests over a full-outer join on
    * the id. The v2 snapshot is a deterministic perturbation of v1
    * (every 17th doc dropped, every remaining 13th edited, a new doc
    * per 29th), mirrored by the oracle, so all four branches run on
    * the real corpus. Scale shape: only (id, 16-byte digest) pairs
    * shuffle — never document payloads — so diffing two 100 TB
    * snapshots moves ~32 bytes/doc plus ids; the digests would come
    * from stored metadata in production (computed here because the
    * fixture has none).
    */
  def pipelineSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // planted-insert ids from max(doc_id)+1, not a fixed constant that
    // collides with real ids at large SFs (the pipelineChangeFeed rule)
    val off = d.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val v1 = d.select(col("doc_id"), md5(col("text").cast("binary")).as("old_md5"))
    val v2base = d.filter(col("doc_id") % 17 =!= 0).select(col("doc_id"),
      when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
        .otherwise(col("text")).as("text"))
    val v2 = v2base.unionByName(
      d.filter(col("doc_id") % 29 === 0).select(
        (col("doc_id") + lit(off)).as("doc_id"),
        concat(lit("new "), col("text")).as("text")))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("new_md5"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_md5").isNull, lit("added"))
          .when(col("new_md5").isNull, lit("removed"))
          .when(col("old_md5") =!= col("new_md5"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("old_md5"), col("new_md5"))
  }

  /** Join-key skew profile: the top-10 heaviest `user_id` keys of the
    * events stream with their row share and multiple-of-average load,
    * in parts-per-million fixed point (integer div — hash-gates
    * exactly). This is the diagnostic that DECIDES the engine's skew
    * mitigations — a key at ≫ 1e6 x_avg_fp is what j6_salted_join and
    * the adaptive salted window exist for. Scale shape: one
    * partial-agg groupBy over the key + a TakeOrdered top-10; the
    * summary row (total/distinct) broadcasts back as a 1-row cross
    * join.
    */
  def qaKeySkew(s: SparkSession, dir: String): DataFrame = {
    // the per-key count frame has TWO consumers (summary row + top-10),
    // and Catalyst re-executes a shared subtree per branch — without the
    // managed checkpoint that meant scanning the 100 TB events table
    // twice (PLANS.md lesson 24; asserted in PlanRegressionSpec).
    // NOTE: Dataset.checkpoint() is EAGER — building this frame (even
    // just to explain it) runs the events aggregation at construction
    // time. That is the price of the single-scan guarantee; callers that
    // only want the plan should expect the job.
    val counts = graft.operators.Checkpoints.materialize(
      Tables.load(s, dir, "events")
        .groupBy(col("user_id").as("key")).agg(count(lit(1)).as("n_rows")))
    val tot = counts.agg(sum(col("n_rows")).as("__t"), count(lit(1)).as("__k"))
    counts.orderBy(col("n_rows").desc_nulls_last, col("key").asc_nulls_first)
      .limit(10)
      .crossJoin(broadcast(tot))
      .select(col("key"), col("n_rows"),
        expr("(n_rows * 1000000) div __t").as("share_ppm"),
        expr("(n_rows * __k * 1000000) div __t").as("x_avg_fp"))
  }

  /** Point-frequency estimate from a stored CMS sketch for a LITERAL
    * probe key: bucket indices are plan-time constants (the hash runs
    * on the driver at plan construction), so the read-off is pure
    * `element_at` + `least` column arithmetic — no per-row hashing.
    */
  def cmsEstimate(sk: Column, q: String, d: Int, w: Int): Column =
    least((0 until d).map(r =>
      element_at(sk, lit(r * w + graft.functions.CmsSketchAgg.bucket(r, q, w) + 1))): _*)

  /** Re-aggregatable FREQUENCY sketches (the fourth sketch family:
    * distinct → KMV, membership → Bloom, quantiles → bottom-k sample,
    * frequency → Count-Min): one CMS per source over the word stream,
    * merged globally with the existing `vec_sum` aggregate (counter
    * arrays add element-wise — no bespoke merge function), vs the CMS
    * computed directly from the raw stream; point estimates for a
    * fixed probe vocabulary read off both, next to the exact counts.
    * CMS guarantees est ≥ exact (asserted in the spec); the DuckDB
    * oracle rebuilds the probed CELLS from word counts + the same
    * md5-row-hash, so a broken update, merge, or bucket layout breaks
    * the gate. 100 TB pattern: one scan per day/source stores d·w
    * longs per group; every later "how often does X appear"
    * — per slice or globally — is answered from the sketches.
    */
  def qaCmsFreq(s: SparkSession, dir: String): DataFrame = {
    val d = 4; val w = 64
    val probes = Seq("the", "data", "key", "fast", "table", "row", "join", "spark")
    val words = docs(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val perSource = words.groupBy("source")
      .agg(call_function("cms_sketch", col("word"), lit(d), lit(w)).as("sk"))
    val merged = perSource.agg(call_function("vec_sum", col("sk")).as("msk"))
    val direct = words
      .agg(call_function("cms_sketch", col("word"), lit(d), lit(w)).as("dsk"))
    val exact = words.filter(col("word").isin(probes: _*))
      .groupBy("word").agg(count(lit(1)).as("n_exact"))
    val sks = merged.crossJoin(direct)
    val perProbe = probes.map { q =>
      sks.select(lit(q).as("word"),
        cmsEstimate(col("msk"), q, d, w).as("est_merged"),
        cmsEstimate(col("dsk"), q, d, w).as("est_direct"))
    }.reduce(_ unionByName _)
    perProbe.join(exact, Seq("word"), "left")
      .select(col("word"), coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("est_merged"), col("est_direct"))
  }

  /** Benchmark decontamination: flag training documents sharing any
    * word-8-gram with the held-out benchmark slice (every 50th doc) —
    * the standard eval-leakage sweep a pretraining pipeline runs before
    * training. Scale shape: the benchmark's DISTINCT shingles broadcast
    * (eval sets are small by construction); the corpus explodes its
    * shingles once, the join drops non-colliding shingles before the
    * per-doc count; clean docs rejoin via the doc spine with 0.
    */
  def textDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    def shingled(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(TextFunctions.shingles(split(col("text"), " "), 8)).as("shingle"))
    val benchShingles = shingled(d.filter(col("doc_id") % 50 === 0))
      .select("shingle").distinct()
    val train = d.filter(col("doc_id") % 50 =!= 0)
    val hits = shingled(train)
      .join(broadcast(benchShingles), "shingle")
      .groupBy("doc_id")
      .agg(count_distinct(col("shingle")).as("n_overlap"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap_8grams"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** FUZZY decontamination: training docs NEAR-duplicate (not just
    * 8-gram-overlapping) to the held-out slice, via cross-corpus
    * MinHash — band-colliding (train, eval) pairs whose signature
    * Jaccard estimate ≥ 0.4 flag the training doc, keeping the best
    * matching eval doc (struct-max argmax). The planted copies of eval
    * docs (every 50th doc is a 10th doc, so each eval doc has a +1M
    * near-dup copy in the training side) are the fixture. Scale shape:
    * the eval side is small by construction → its banded signatures
    * broadcast; the training corpus computes `minhash_bands` in one
    * map-side pass and only band-colliding pairs materialize — an
    * asymmetric join bounded by |eval| per band, no bucket expansion.
    */
  def textDecontaminateFuzzy(s: SparkSession, dir: String): DataFrame = {
    val mb = call_function("minhash_bands",
      array_distinct(TextFunctions.shingles(col("words"), 3)), lit(16), lit(4))
    def banded(df: DataFrame): DataFrame = df
      .select(col("doc_id"), mb.as("mb"))
      .select(col("doc_id"), slice(col("mb"), 1, 16).as("sigs"),
        explode(slice(col("mb"), 17, 4)).as("band"))
    val all = withNearDups(docs(s, dir))
    val isEval = col("doc_id") % 50 === 0 && col("doc_id") < 1000000L
    val ref = banded(all.filter(isEval))
      .select(col("doc_id").as("ref_id"), col("sigs").as("ref_sigs"), col("band"))
    val train = all.filter(!isEval)
    val est = expr(
      "CAST(size(filter(zip_with(sigs, ref_sigs, (x, y) -> x = y), p -> p)) AS DOUBLE) / 16")
    val best = banded(train).join(broadcast(ref), "band")
      .select(col("doc_id"), col("ref_id"), est.as("est"))
      .filter(col("est") >= 0.4)
      .groupBy("doc_id")
      .agg(max(struct(col("est"), (-col("ref_id")).as("nid"), col("ref_id"))).as("b"))
    train.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("b").isNotNull.as("contaminated"),
        col("b.ref_id").as("ref_id"), round(col("b.est"), 6).as("est_jaccard"))
  }

  /** Sequence packing: assign documents to token-budget bins (512
    * whitespace tokens) for pretraining batch assembly. True greedy
    * packing is inherently sequential, so the scale form partitions the
    * corpus into 16 digest-prefix groups (embarrassingly parallel) and
    * packs WITHIN each group by running token sum over digest order:
    * bin = floor(exclusive-cumsum / budget) — the streaming "fractional"
    * approximation (a bin may exceed the budget by at most one doc).
    * Deterministic: digest order, no RNG. One window shuffle on the
    * 16-way group key; at 100 TB widen the prefix for more parallelism.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    packBy(docs(s, dir), size(split(col("text"), " ")).cast("long"))

  /** [[packSequences]] with the budget pointed at REAL tokenizer
    * counts (the applied-BPE stream of [[textBpeEncode]]) instead of
    * the whitespace proxy — the form a pretraining pipeline actually
    * needs, since bins sized on proxy counts under- or over-fill real
    * context windows (BPE emits ~3.6 tokens per word on this corpus).
    * The whitespace variant stays as the cheap baseline; Round9's spec
    * shows the bins genuinely move when real counts take over.
    */
  def packSequencesBpe(s: SparkSession, dir: String): DataFrame =
    packBy(docs(s, dir), size(TextFunctions.bpeEncodeDoc(col("text"))).cast("long"))

  /** The shared digest-grouped packing shape (see [[packSequences]]'
    * scaladoc for the scale rationale) over a caller-chosen per-doc
    * token count.
    */
  private def packBy(d: DataFrame, nTokens: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 512L
    val base = d.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      md5(col("text").cast("binary")).as("digest"))
      .withColumn("pack_group", conv(substring(col("digest"), 1, 1), 16, 10).cast("long"))
    val w = Window.partitionBy(col("pack_group"))
      .orderBy(col("digest").asc_nulls_first, col("doc_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, -1)
    base.withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("pack_group"),
        floor(col("cum_before") / budget).cast("long").as("pack_bin"),
        col("n_tokens"))
  }

  /** Chunk-then-pack: the long-document path to context-window batch
    * assembly. Documents longer than the window are first split into
    * overlapping word-window chunks (the [[textChunks]] geometry), then
    * the CHUNKS are packed into token-budget bins with the same
    * digest-grouped parallel packing as [[packSequences]] — each output
    * row keeps its (doc_id, chunk_idx) provenance and an
    * `is_continuation` flag, which is exactly what the training loader
    * needs to reset attention masks at document boundaries and mark
    * continuation segments inside a packed bin (the GPT-style
    * pack-with-boundaries recipe). Scale: chunking is a map-side
    * explode (no shuffle, ∝ 1/stride amplification); packing adds the
    * single 16-way pack_group window shuffle — identical cost shape to
    * the doc-level packer it composes with.
    */
  def packChunkedSequences(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 512L
    val base = chunked(docs(s, dir)).select(
        col("doc_id"), col("chunk_idx"),
        size(col("cwords")).cast("long").as("n_chunk_words"),
        md5(array_join(col("cwords"), " ").cast("binary")).as("digest"))
      .withColumn("pack_group", conv(substring(col("digest"), 1, 1), 16, 10).cast("long"))
    val w = Window.partitionBy(col("pack_group"))
      .orderBy(col("digest").asc_nulls_first, col("doc_id").asc_nulls_first,
        col("chunk_idx").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, -1)
    base.withColumn("cum_before", coalesce(sum(col("n_chunk_words")).over(w), lit(0L)))
      .select(col("doc_id"), col("chunk_idx"), col("pack_group"),
        floor(col("cum_before") / budget).cast("long").as("pack_bin"),
        col("n_chunk_words"),
        (col("chunk_idx") > 0).as("is_continuation"))
  }

  /** Weighted epoch mix: replicate each document `weight` times (weight
    * = deterministic per-source policy here; production supplies a mix
    * table) with an explicit copy index — the upsampling step that turns
    * mix ratios into a concrete training epoch. Map-side explode, no
    * shuffle, reproducible row set under any partitioning.
    */
  def mixUpsample(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("weight",
        conv(substring(md5(col("source").cast("binary")), 1, 2), 16, 10).cast("long") % 3 + 1)
      .select(col("doc_id"), col("source"), col("weight"),
        explode(sequence(lit(1L), col("weight"))).as("copy_idx"))

  /** End-to-end corpus preparation as ONE declarative plan: quality
    * filter (Gopher rules) → exact dedup (lowest id per content digest)
    * → benchmark exclusion + decontamination → deterministic split
    * assignment. The composition is what the engine exists for — each
    * stage is the already-gated operator, fused by Catalyst into a
    * single job: the quality predicate evaluates in the scan stage, the
    * dedup shuffles 16-byte digests, the contamination anti-join
    * broadcasts the (small) flagged-id set, and the split adds no
    * shuffle at all.
    */
  def pipelinePrepareCorpus(s: SparkSession, dir: String): DataFrame = {
    val passing = textQualityFilter(s, dir).filter(col("passes")).select("doc_id")
    val train = docs(s, dir).filter(col("doc_id") % 50 =!= 0)
      .join(passing, "doc_id")
    val deduped = LatestPerKey(train,
      Seq(md5(col("text").cast("binary"))),
      Seq(col("doc_id").asc_nulls_first))
    val contaminated = textDecontaminate(s, dir)
      .filter(col("contaminated")).select("doc_id")
    val bucket = conv(substring(md5(col("text").cast("binary")), 1, 4), 16, 10)
      .cast("long") % 10
    deduped.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("fingerprint"),
        when(bucket < 8, lit("train"))
          .when(bucket === 8, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  /** The END-TO-END corpus build (VERDICT r8 #4) as one deterministic
    * stage chain over the planted-near-dup corpus — every stage is the
    * already-gated operator, composed:
    *
    *  1. Gopher quality conjunction ([[textQualityFilter]]'s rules);
    *  2. canonical near-dup removal — minhash-LSH pairs → 4-round
    *     connected components ([[pipelineDedupCanonical]]'s clusters),
    *     keep = minimum SURVIVING member per cluster (a cluster whose
    *     canonical failed quality falls to its next member);
    *  3. eval holdout + FUZZY decontamination — the `% 50` eval slice
    *     leaves the corpus, and so does any training doc
    *     [[textDecontaminateFuzzy]] flags (the planted +1M copies of
    *     eval docs are the load-bearing fixture: near-dups of
    *     benchmarks that exact 8-gram matching would keep);
    *  4. BPE sequence packing — real tokenizer counts
    *     ([[packSequencesBpe]]'s budget), digest-grouped parallel bins;
    *  5. dense global ids in (pack_group, pack_bin) order — the E125
    *     two-phase rank (per-bin windows, one #bins-row offsets
    *     cumsum), so ids are contiguous per shard by construction.
    *
    * Scale shape (100 TB): every stage is the gated operator's own
    * scale shape (banded pairs, bounded buckets, broadcast eval side,
    * digest-group windows, bin-bounded rank windows); the composition
    * adds id-set joins only (16-byte keys).
    */
  private[graft] def buildCorpusStages(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val aug = base.unionByName(base.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + lit(1000000L)).as("doc_id"),
      array_join(expr(
        "slice(split(text, ' '), 6, greatest(size(split(text, ' ')) - 5, 0))"),
        " ").as("text")))
    val words = split(col("text"), " ")
    val nTok = size(words).cast("long")
    val len = length(col("text")).cast("double")
    val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") / len
    val meanTokLen = (len - (nTok - 1).cast("double")) / nTok.cast("double")
    val stopHits = size(filter(words,
      w => w.isin("the", "data", "order", "key", "value"))).cast("long")
    val s1 = aug.filter(nTok >= 10 && nTok <= 100000 &&
        meanTokLen >= 2.0 && meanTokLen <= 12.0 && alpha >= 0.5 && stopHits >= 1)
      .select("doc_id")
    val pairs = dedupMinhashLsh(s, dir)
    val labels = ConnectedComponents.labelPropagate(
      withNearDups(docs(s, dir)).select(col("doc_id").as("id")),
      pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")),
      iterations = 4)
    val s2 = labels.join(s1, labels("id") === s1("doc_id"))
      .select(col("id"), col("component"))
      .withColumn("mkeep", min("id").over(Window.partitionBy("component")))
      .filter(col("id") === col("mkeep"))
      .select(col("id").as("doc_id"))
    val cont = textDecontaminateFuzzy(s, dir)
      .filter(col("contaminated")).select("doc_id")
    val s3 = s2.filter(!(col("doc_id") % 50 === 0 && col("doc_id") < 1000000L))
      .join(cont, Seq("doc_id"), "left_anti")
    val enc = aug.join(s3, "doc_id").select(col("doc_id"),
        size(TextFunctions.bpeEncodeDoc(col("text"))).cast("long").as("n_tokens"),
        md5(col("text").cast("binary")).as("digest"))
      .withColumn("pack_group",
        conv(substring(col("digest"), 1, 1), 16, 10).cast("long"))
    val w = Window.partitionBy("pack_group")
      .orderBy(col("digest").asc_nulls_first, col("doc_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = enc
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("pack_bin", floor(col("cum_before") / 512L).cast("long"))
      .drop("cum_before")
    val off = packed.groupBy("pack_group", "pack_bin").agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(
        sum("cnt").over(Window
          .orderBy(col("pack_group").asc_nulls_first, col("pack_bin").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pack_group", "pack_bin", "offset")
    val ids = packed.join(broadcast(off), Seq("pack_group", "pack_bin"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("pack_group", "pack_bin")
          .orderBy(col("digest").asc_nulls_first, col("doc_id").asc_nulls_first)))
      .select(col("doc_id"), col("pack_group"), col("pack_bin"),
        col("n_tokens"), col("digest"),
        (col("offset") + col("rn") - 1L).as("global_id"))
    (aug, s1, s2, s3, ids)
  }

  private val buildCorpusPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  private val buildCorpusAuditPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  private def retirePrevDir(ref: java.util.concurrent.atomic.AtomicReference[String],
                            base: String): Unit =
    Option(ref.getAndSet(base)).foreach(p =>
      deleteTree(java.nio.file.Paths.get(p)))

  /** `pipeline_build_corpus`: the [[buildCorpusStages]] chain
    * WAP-PUBLISHED as pack_group-partitioned shard files (the
    * [[graft.operators.Publish]] write-audit-publish lifecycle, audit =
    * global-id uniqueness on the READ-BACK rows), then read back from
    * the published version and aggregated per shard. The oracle states
    * the whole chain from the raw table — so the gate proves curation,
    * packing, id assignment AND the storage round trip in one hash.
    * Global ids are contiguous per shard by construction
    * (max − min + 1 = n_docs; the spec asserts it).
    */
  def pipelineBuildCorpus(s: SparkSession, dir: String): DataFrame = {
    val (_, _, _, _, ids) = buildCorpusStages(s, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_corpus_pub").toString
    graft.operators.Publish.publish(ids, root,
      audit = b => require(
        b.select("global_id").distinct().count() == b.count(),
        "pipeline_build_corpus: duplicate global ids in published shards"),
      partitionBy = Seq("pack_group"))
    retirePrevDir(buildCorpusPrev, root)
    graft.operators.Publish.read(s, root)
      .groupBy(col("pack_group").cast("long").as("pack_group"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("pack_bin")).as("n_bins"),
        sum(col("n_tokens")).as("n_tokens_total"),
        min("global_id").as("min_global_id"),
        max("global_id").as("max_global_id"),
        sum(conv(substring(col("digest"), 1, 8), 16, 10).cast("long"))
          .as("content_sum"))
  }

  /** `pipeline_build_corpus_audit`: the per-stage funnel counts of the
    * same chain, with the PUBLISH stage counted from the rows read
    * back from the published version — rows_out = rows_in there is
    * the losslessness claim the hash gate proves (the oracle states
    * n5 = n4).
    */
  def pipelineBuildCorpusAudit(s: SparkSession, dir: String): DataFrame = {
    val (aug, s1, s2, s3, ids) = buildCorpusStages(s, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_corpus_pub_a").toString
    graft.operators.Publish.publish(ids, root, partitionBy = Seq("pack_group"))
    retirePrevDir(buildCorpusAuditPrev, root)
    val n5 = graft.operators.Publish.read(s, root).count()
    val c = aug.agg(count(lit(1)).as("n0"))
      .crossJoin(broadcast(s1.agg(count(lit(1)).as("n1"))))
      .crossJoin(broadcast(s2.agg(count(lit(1)).as("n2"))))
      .crossJoin(broadcast(s3.agg(count(lit(1)).as("n3"))))
      .crossJoin(broadcast(ids.agg(count(lit(1)).as("n4"))))
    def st(no: Int, nm: String, in: Column, out: Column) =
      struct(lit(no.toLong).as("stage_no"), lit(nm).as("stage"),
        in.as("rows_in"), out.as("rows_out"))
    c.select(explode(array(
        st(1, "quality", col("n0"), col("n1")),
        st(2, "dedup_canonical", col("n1"), col("n2")),
        st(3, "decontaminate_fuzzy", col("n2"), col("n3")),
        st(4, "pack_ids_bpe", col("n3"), col("n4")),
        st(5, "publish", col("n4"), lit(n5)))).as("s"))
      .select(col("s.stage_no"), col("s.stage"), col("s.rows_in"),
        col("s.rows_out"), (col("s.rows_in") - col("s.rows_out")).as("rows_dropped"))
  }

  /** Deterministic content-hash Bernoulli sample (~10%): keep a doc iff
    * the first 4 hex chars of md5(text) land under the threshold. The
    * pipeline-correct way to sample at 100 TB — reproducible across
    * engines, runs, and cluster layouts (unlike `df.sample`, whose RNG
    * is partition-seeded), and content-keyed so re-ingested duplicates
    * sample identically.
    */
  def sampleDigestBernoulli(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("h", conv(substring(md5(col("text").cast("binary")), 1, 4), 16, 10).cast("long"))
      .filter(col("h") < lit((65536 * 0.10).toInt))
      .select(col("doc_id"), col("lang"), col("source"))

  /** Weighted sampling WITHOUT replacement (`sample_weighted`):
    * Efraimidis–Spirakis A-ES — each row draws a deterministic
    * uniform u from its id digest (52 md5 bits, exact in a double)
    * and the B rows with the LARGEST priority u^(1/w) are the sample;
    * inclusion probability rises with w (here w = n_chars: longer
    * documents preferentially kept — the quality-weighted
    * subsampling step of a corpus build). One pass, no global sort:
    * the top-B by priority is Spark's TakeOrdered (per-partition
    * bounded heaps, only B candidate rows cross the wire) — exactly
    * the Efraimidis–Spirakis distributed-merge property (priorities
    * are comparable across partitions because u is a pure row
    * function). Priorities are computed per row (no accumulation →
    * no float order-dependence); the hash gate compares the SELECTED
    * rows + ranks, never the float keys.
    *
    * Scale shape (100 TB): map-side heaps of size B per partition,
    * B rows shuffled to one reducer — the corpus never sorts and
    * never shuffles; re-runs are reproducible under any partitioning.
    */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val B = 100
    val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 13),
      16, 10).cast("double") + lit(1.0)) / lit(math.pow(2.0, 52))
    val key = pow(u, lit(1.0) / col("n_chars").cast("double"))
    val winners = docs(s, dir).filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("__k"))
      .orderBy(col("__k").desc, col("doc_id"))
      .limit(B)
    winners
      .withColumn("sel_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__k").desc, col("doc_id"))).cast("int"))
      .drop("__k")
  }

  /** Deterministic train/val/test split (~80/10/10) by content digest —
    * the standard data-mix assignment, stable under re-partitioning and
    * dedup reruns. Emits the full assignment so the gate checks every
    * row's split, not just counts.
    */
  def pipelineTrainSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("text").cast("binary")), 1, 4), 16, 10)
      .cast("long") % 10
    docs(s, dir).select(
      col("doc_id"),
      when(bucket < 8, lit("train"))
        .when(bucket === 8, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Content fingerprint (md5 of normalized text) — portable digest. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      md5(lower(col("text")).cast("binary")).as("fingerprint"))

  /** Corpus + near-duplicate copies (first 5 words dropped) of every 10th
    * doc, as (doc_id, words) — shared input for the near-dup detectors.
    */
  private[graft] def withNearDups(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), split(col("text"), " ").as("words"))
    base.unionByName(base.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + lit(1000000L)).as("doc_id"),
      expr("slice(words, 6, greatest(size(words) - 5, 0))").as("words")))
  }

  /** MinHash + LSH near-dup detection: 16-slot signature, 4 bands × 4
    * rows, candidates = docs sharing a band key, kept when the signature
    * Jaccard estimate ≥ 0.4. The whole signature+banding stage is
    * per-row HOF work (one scan, no explode of shingles); only the tiny
    * (doc_id, band) pairs shuffle — that's the 100 TB shape: bytes across
    * the wire ∝ docs × bands, not docs × shingles.
    */
  /** (doc_id, sigs, band) — the minhash signature+banding stage shared
    * by the one-shot detector and the incremental state builder. ONE
    * native expression (functions.MinhashBands): all 16 slot minima +
    * 4 band keys in a single pass over the shingle array — no
    * generated rows, no aggregation hash table, no shuffle before
    * banding. History: the composed-HOF form was ~80× slower
    * (CollapseProject inlines the signature into every consumer);
    * r1–r3 used explode + groupBy(min) (one md5 per (shingle,
    * digest-quarter) row, map-side combine); the fused expression
    * removes that stage's row machinery and measured 1.8× on the query
    * at sf0.1. The expression sits under a single Generate (explode of
    * its band slice), so it evaluates once per document. Slot q*4+r =
    * hex chunk r of md5(q ':' shingle); band b = md5(b '|'
    * slots[b*4..b*4+3] joined '|') — bit-identical to
    * TextFunctions.minhashSignature/lshBands (spec-asserted) and the
    * DuckDB oracle.
    */
  def minhashBanded(d: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    val mb = call_function("minhash_bands",
      array_distinct(TextFunctions.shingles(col("words"), 3)), lit(k), lit(bands))
    // fan the shingle+minhash stage out to cluster width (r16): the
    // one-file bench corpus plans a single input split, so the whole
    // signature pass ran on one core before the band exchange; a no-op
    // at production file counts (see operators.FanOut)
    graft.operators.FanOut.widen(d)
      .select(col("doc_id"), mb.as("mb"))
      .select(col("doc_id"), slice(col("mb"), 1, k).as("sigs"),
        explode(slice(col("mb"), k + 1, bands)).as("band"))
  }

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val banded = minhashBanded(withNearDups(docs(s, dir)), k)
    // one-pass bucket expansion (same rationale as dedupSimhash: a band
    // self-join would compute the signature pipeline once per side);
    // Buckets.boundedMembers caps degenerate band values so no single
    // task ever expands an unbounded |B|² pair list (oracle twin applies
    // the identical count cap).
    Buckets.boundedMembers(banded, col("band"), struct(col("doc_id"), col("sigs")))
      .select(explode(expr(
        s"""flatten(transform(members, a ->
           |  transform(filter(members, b -> b.doc_id > a.doc_id),
           |    b -> struct(a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           |                CAST(size(filter(zip_with(a.sigs, b.sigs, (x, y) -> x = y), p -> p)) AS DOUBLE) / $k
           |                  AS est_jaccard))))""".stripMargin)).as("p"))
      .select(col("p.doc_id_1"), col("p.doc_id_2"), col("p.est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= 0.4)
  }

  /** Scale-safe EXACT n-gram Jaccard: minhash-LSH candidate pairs →
    * exact shingle-Jaccard verification on the candidates ONLY. The
    * exact detector ([[dedupNgramJaccard]]) pays Σ|posting|² pair rows
    * — quadratic in duplication density (138 s pair-count stage at the
    * 10×-dup smoke); here the pair stream is BOUNDED BY THE CANDIDATE
    * SET (∝ docs × bands under the bucket cap), and each candidate
    * pays one O(|shingles|) array intersection instead of appearing in
    * every shared posting. Same 0.5 exact-Jaccard threshold and exact
    * denominators as the posting detector; recall is the banding
    * curve (est ≥ 0.4 pairs collide w.h.p. on 4×4 bands — the miss
    * rate the recall gate family tracks), which is the standard
    * trade (Leskovec MMDS ch.3) for escaping the quadratic regime.
    *
    * Plan notes: the doc → shingle-set projection crosses an exchange
    * BEFORE the candidate joins (PLANS.md lesson 18 — under codegen a
    * streamed-side derived column re-evaluates per broadcast-join
    * pair; at production scale the shingle sets are the stored
    * artifact anyway). The two attach joins broadcast the (small)
    * candidate side, so the corpus never shuffles.
    */
  def dedupNgramVerified(s: SparkSession, dir: String): DataFrame = {
    val all = withNearDups(docs(s, dir))
    // struct pairs, not the packed-BIGINT idiom of dedupNgramJaccard:
    // the candidate stream here is bounded by the band buckets (small —
    // packing buys nothing measurable), and struct keys stay correct
    // for doc_ids ≥ 2^32 or negative, where a·2^32+b silently aliases
    // pairs (ADVICE r5; the posting detector keeps the packed form for
    // its measured 1.8× on a stream 1000× this size, with the < 2^31
    // assumption pinned in its comment)
    val cand = Buckets.boundedMembers(minhashBanded(all), col("band"), col("doc_id"))
      .select(explode(expr(
        """flatten(transform(members, a ->
          |  transform(filter(members, b -> b > a),
          |    b -> struct(a AS doc_id_1, b AS doc_id_2))))""".stripMargin)).as("p"))
      .distinct()
      .select(col("p.doc_id_1").as("doc_id_1"), col("p.doc_id_2").as("doc_id_2"))
    val shs = all.select(col("doc_id"),
      array_distinct(TextFunctions.shingles(col("words"), 3)).as("shset"))
      .repartition(col("doc_id"))
    cand
      .join(shs.select(col("doc_id").as("doc_id_1"), col("shset").as("sh1")), "doc_id_1")
      .join(shs.select(col("doc_id").as("doc_id_2"), col("shset").as("sh2")), "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          (size(col("sh1")) + size(col("sh2"))
            - size(array_intersect(col("sh1"), col("sh2"))))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Cross-batch INCREMENTAL near-dup dedup (the daily-ingest shape):
    * the corpus split `doc_id % 7 != 0` plays yesterday's corpus, whose
    * banded minhash state ([[operators.IncrementalDedup.bandState]])
    * is what a production pipeline would have STORED; the `% 7 == 0`
    * split is today's batch. Only the batch is signatured; pairs are
    * the batch's near-dups against the state plus within-batch —
    * proven equal (oracle gate) to the full-recompute
    * [[dedupMinhashLsh]] over corpus ∪ batch restricted to pairs
    * touching the batch. Scale rationale and the stored-state fold
    * live in [[operators.IncrementalDedup]].
    */
  def pipelineDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val nd = withNearDups(docs(s, dir))
    val isBatch = col("doc_id") % 7 === 0
    val state = operators.IncrementalDedup.bandState(minhashBanded(nd.filter(!isBatch)))
    operators.IncrementalDedup.pairsAgainst(state, minhashBanded(nd.filter(isBatch)))
  }

  /** EMBEDDING-modality incremental dedup — the third stored-band-state
    * fold next to the minhash (E85) and perceptual-hash (E102) twins,
    * completing the family across every near-dup detector that bands:
    * the corpus state keys hyperplane-LSH blocks and carries the
    * VECTORS as member payloads; the batch is hyperplane-banded (one
    * scan) and joined; exact cosine ≥ 0.95 verifies in-band. Oracle =
    * the one-shot `dedup_embedding_cosine` detector over corpus ∪
    * batch restricted to batch-touching pairs.
    *
    * Batch split `vec_id % 7 < 2`: planted copies sit at
    * vec_id + 1000000 and 1000000 ≡ 1 (mod 7), so base ≡ 0 puts BOTH
    * endpoints in the batch (the new-vs-new arm), base ≡ 1 puts the
    * base in-batch with its copy in-corpus, and base ≡ 6 the reverse
    * — all three pair arms exercised (spec-pinned; a % 5 split would
    * keep every planted pair on one side and a plain % 7 split can
    * never land one in-batch).
    */
  def pipelineDedupEmbeddingIncremental(s: SparkSession, dir: String): DataFrame = {
    val all = withPerturbedVecs(s, dir)
    val isBatch = col("vec_id") % 7 < 2
    def banded(df: DataFrame) = df.select(col("vec_id").as("doc_id"),
      col("embedding").as("sigs"),
      explode(Similarity.hyperplaneBands(col("embedding"), 4, 4)).as("band"))
    val state = operators.IncrementalDedup.bandState(banded(all.filter(!isBatch)))
    operators.IncrementalDedup.cosinePairsAgainst(state, banded(all.filter(isBatch)))
  }

  private val bandStatePublishPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** [[pipelineDedupIncremental]] with the band state routed through
    * WRITE-AUDIT-PUBLISH storage (operators.Publish — the E97 commit
    * pattern applied to the E85 artifact): the corpus state publishes
    * as an audited immutable version, the increment reads it back
    * through the pointer, and the pairs must STILL match
    * `pipeline_dedup_incremental`'s oracle verbatim — so the nested
    * array-of-struct state schema provably survives the full
    * write→audit→swap→read commit, not just a bare parquet round trip.
    * The audit enforces the band-state invariants against what landed
    * on disk: non-null band keys, and the [[IncrementalDedup.bandState]]
    * cnt contract (cnt = member count below the cap; members dropped
    * exactly when the saturating counter reads cap + 1).
    */
  def pipelineDedupPublished(s: SparkSession, dir: String): DataFrame = {
    import operators.{Buckets, IncrementalDedup, Publish}
    val nd = withNearDups(docs(s, dir))
    val isBatch = col("doc_id") % 7 === 0
    val root = java.nio.file.Files.createTempDirectory("graft_band_pub").toString
    val cap = Buckets.DefaultCap
    val audit: DataFrame => Unit = st => {
      require(st.filter(col("band").isNull).isEmpty, "state audit: null band key")
      require(st.filter(
          !(col("cnt") === size(col("members")) && col("cnt") <= cap) &&
            !(col("cnt") === cap + 1 && size(col("members")) === 0)).isEmpty,
        "state audit: cnt/members contract violated")
    }
    Publish.publish(
      IncrementalDedup.bandState(minhashBanded(nd.filter(!isBatch))), root, audit)
    val state = Publish.read(s, root)
    Option(bandStatePublishPrev.getAndSet(root))
      .foreach(p => deleteTree(java.nio.file.Paths.get(p)))
    IncrementalDedup.pairsAgainst(state, minhashBanded(nd.filter(isBatch)))
  }

  /** Streaming near-dup pairs against the corpus band state — the
    * streaming face of [[pipelineDedupIncremental]] (new-vs-corpus
    * only; see [[graft.streaming.StreamingStage.streamingDedupBands]]
    * for the semantics and state story).
    */
  def streamingDedupBands(s: SparkSession, dir: String): DataFrame = {
    val nd = withNearDups(docs(s, dir))
    val state = operators.IncrementalDedup.bandState(
      minhashBanded(nd.filter(col("doc_id") % 7 =!= 0)))
    StreamingStage.streamingDedupBands(s, dir, state)
  }

  /** Within-stream near-dup pairs via keyed band state (the
    * new-vs-new complement of [[streamingDedupBands]]; see
    * [[graft.streaming.StreamingStage.dedupBandsStateful]]).
    */
  def streamingDedupBandsStateful(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingDedupBandsStateful(s, dir)

  /** [[streamingDedupBandsStateful]] through transformWithState —
    * same oracle, proving the fMGWS → tws migration for dedup state
    * like the sessionizer pair does for session state.
    */
  def streamingDedupBandsTws(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingDedupBandsTws(s, dir)

  /** INCREMENTAL CLUSTER MAINTENANCE gate — the composition that
    * completes the incremental family: yesterday's labels (converged
    * components over corpus-only pairs, the stored artifact), today's
    * batch-touching pairs from the stored band state (the E85 path),
    * and [[operators.IncrementalDedup.mergeClusters]] folding the
    * pairs into the labels via a quotient-graph solve ∝ batch. Gated
    * against `pipeline_dedup_canonical`'s oracle VERBATIM: the
    * incremental merge must land on the identical (doc_id, component,
    * keep) rows a full re-cluster over corpus ∪ batch produces.
    *
    * PRECONDITION of that equivalence (spec-pinned in Round8OpsSpec,
    * ADVICE r5): no band's total corpus∪batch membership crosses the
    * bucket cap. The stored labels contracted yesterday's corpus-corpus
    * pairs under the CORPUS-only cap decision; a batch saturating a
    * band revokes those pairs in the full recompute but cannot un-merge
    * stored components. Operationally: treat a band crossing the cap on
    * ingest as a re-cluster trigger for its members (the drift-metric
    * pattern the stored-IVF index uses), not a silent fold.
    */
  def pipelineDedupIncrementalClusters(s: SparkSession, dir: String): DataFrame = {
    import operators.IncrementalDedup
    val nd = withNearDups(docs(s, dir))
    val isBatch = col("doc_id") % 7 === 0
    val corpus = nd.filter(!isBatch)
    // PERSISTED for the invocation (r16 measure-first finding; the
    // delete-propagation gate's lesson-24 pattern): the banded frame
    // feeds BOTH the yesterday-labels pair derivation and the stored
    // band state behind today's batch pairs — uncached, the shingle +
    // minhash HOF cascade re-ran once per consumer. Both consumers are
    // drained eagerly inside this call (solveAuto collects;
    // mergeClusters solves its quotient graph), so the returned frame
    // has no lineage into the cache and the loan releases it.
    Checkpoints.withPersisted(minhashBanded(corpus)) { corpusBanded =>
      // "yesterday's stored labels": converged components over the
      // corpus-only pairs (the full detector ≡ pairsAgainst with an
      // empty state — every doc is "new")
      val corpusPairs = IncrementalDedup.pairsAgainst(
        IncrementalDedup.bandState(corpusBanded.limit(0)), corpusBanded)
      // solveAuto: the harness's "yesterday" labels go through the same
      // bounded solver the increment uses (driver union-find at this
      // scale, runStar past the bound) — the stored artifact's provenance
      // is whichever path produced it, and both are gate-equal
      val labels0 = ConnectedComponents.solveAuto(
        corpus.select(col("doc_id").as("id")),
        corpusPairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")))
      val newPairs = IncrementalDedup.pairsAgainst(
        IncrementalDedup.bandState(corpusBanded), minhashBanded(nd.filter(isBatch)))
      IncrementalDedup.mergeClusters(labels0,
        nd.filter(isBatch).select(col("doc_id").as("id")), newPairs)
    }
  }

  /** Soft-dedup weights computed OFF THE INCREMENTAL LABELS — the
    * end-to-end "daily ingest" composition: stored labels + batch
    * pairs → merged clusters ([[pipelineDedupIncrementalClusters]]) →
    * cluster sizes → ppm weights, gated against
    * `pipeline_dedup_weights`' oracle VERBATIM (the incremental path
    * must reproduce the full-recompute weighting bit-for-bit).
    */
  def pipelineDedupIncrementalWeights(s: SparkSession, dir: String): DataFrame = {
    val labeled = pipelineDedupIncrementalClusters(s, dir).select("doc_id", "component")
    val sizes = labeled.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        expr("1000000L div cluster_size").as("weight_ppm"))
  }

  /** EXACT incremental dedup (the daily-ingest sibling of
    * [[pipelineDedupIncremental]]): every batch doc gets a verdict
    * against the stored (digest → canonical id) state — first-seen
    * wins, so a stored canonical never flips even when a later batch
    * id sorts lower. See [[operators.IncrementalDedup.exactAgainst]].
    */
  def pipelineDedupExactIncremental(s: SparkSession, dir: String): DataFrame = {
    val all = withExactDups(docs(s, dir))
    val isBatch = col("doc_id") % 7 === 0
    val state = operators.IncrementalDedup.digestState(all.filter(!isBatch))
    operators.IncrementalDedup.exactAgainst(state, all.filter(isBatch))
  }

  private val statePublishPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** The digest-state fold chain THROUGH write-audit-publish
    * (operators.Publish — VERDICT r5 #3): day 1 publishes the corpus
    * digest state as v1; day 2 reads the PUBLISHED state back through
    * the pointer, folds the batch in, and publishes v2; the result is
    * the v2 read — so the gate hash-matches only if two full
    * write→audit→swap→read round trips preserved the state
    * byte-for-byte. The audit step enforces the digest-state
    * invariants (non-null key/value, digest uniqueness) against what
    * actually landed on disk; the crash-recovery contract (mid-write
    * failure leaves the previous version live) is spec-proven in
    * Round9OpsSpec.
    */
  def pipelineStatePublish(s: SparkSession, dir: String): DataFrame = {
    import operators.{IncrementalDedup, Publish}
    val all = withExactDups(docs(s, dir))
    val isBatch = col("doc_id") % 7 === 0
    val root = java.nio.file.Files.createTempDirectory("graft_state_pub").toString
    // both invariants in ONE aggregate pass (r17, guide §2.6 job-count:
    // the two isEmpty probes each scanned the read-back per publish)
    val audit: DataFrame => Unit = st => {
      val r = st.groupBy("digest").agg(count(lit(1)).as("c"),
          sum(when(col("digest").isNull || col("canonical_id").isNull, 1L)
            .otherwise(0L)).as("bad"))
        .agg(coalesce(max(col("c")), lit(0L)),
          coalesce(sum(col("bad")), lit(0L))).head()
      require(r.getLong(1) == 0L, "state audit: null digest or canonical_id")
      require(r.getLong(0) <= 1L, "state audit: digest key not unique")
    }
    Publish.publish(IncrementalDedup.digestState(all.filter(!isBatch)), root, audit)
    val day1 = Publish.read(s, root)
    Publish.publish(IncrementalDedup.foldDigestState(day1, all.filter(isBatch)), root, audit)
    Option(statePublishPrev.getAndSet(root))
      .foreach(p => deleteTree(java.nio.file.Paths.get(p)))
    Publish.read(s, root)
  }

  /** PERCEPTUAL image near-dup (VERDICT r5 #4) — the dedup × multimodal
    * composition: render the textured-PNG fixture (brightness-shifted
    * copies of every 10th doc's image planted at doc_id + 1000000),
    * push the binary column through a REAL per-partition codec decode
    * to an 8×8 average-hash (operators.Multimodal.phashCodes — pure
    * integer arithmetic on codec-read pixels), then detect pairs with
    * the SAME 4×16-bit block-LSH banding the simhash detector uses
    * (pigeonhole ⇒ exact recall at hamming ≤ 3). The planted copies
    * differ in every PNG byte but no hash bit (uniform brightness
    * shift, no clipping — see renderTexturedPng), so the gate proves
    * the whole decode → hash → band pipeline, not byte equality. The
    * DuckDB twin replays the generator contract and the hash
    * arithmetic from sha256(text) without ever decoding an image —
    * a match certifies the codec round trip recovered the pattern.
    *
    * Scale shape: hashing is one map-side pass per image (no shuffle);
    * pairing shuffles (block, doc_id, 64-char hash) rows — bands × docs,
    * never pixels; Buckets caps degenerate blocks on both engines.
    */
  /** The 4×16-bit block keys of a 64-char hash bit string — the ONE
    * LSH banding definition every perceptual detector (image, audio,
    * video, incremental, streaming) shares, so a block-format change
    * cannot silently break the streaming-⊆-incremental invariant
    * (pigeonhole: hamming ≤ 3 pairs share at least one equal block).
    */
  private[graft] def hashBlockKeys(phash: Column): Column =
    array((0 until 4).map(j =>
      concat(lit(s"$j|"), substring(phash, 1 + j * 16, 16))): _*)

  /** (doc_id, sigs = 64-char aHash, band = block key) over the
    * textured-image fixture — the perceptual analogue of
    * [[minhashBanded]], shared by the one-shot detector and the
    * incremental state builder (the `sigs` name matches the stored
    * band-state schema so `IncrementalDedup.bandState` applies
    * unchanged). `pre` filters the fixture BEFORE the typed render
    * map — doc_id predicates cannot push through SerializeFromObject
    * (PLANS.md #24), so a caller wanting only one split must say so
    * here or silently render and decode everything.
    */
  private def phashBanded(s: SparkSession, dir: String,
                          pre: Column = lit(true)): DataFrame = {
    val d = docs(s, dir)
    val withCopies = d.select(col("doc_id"), col("text"), lit(0).as("shift"))
      .unionByName(d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + lit(1000000L)).as("doc_id"), col("text"), lit(8).as("shift")))
    Multimodal.phashCodes(Multimodal.packTextured(withCopies.filter(pre))).toDF()
      .select(col("doc_id"), col("phash").as("sigs"),
        explode(hashBlockKeys(col("phash"))).as("band"))
  }

  /** Bounded-bucket pair expansion + exact-hamming verification over a
    * banded 64-bit hash frame `(doc_id, sigs, band)` — shared by the
    * image and audio perceptual detectors.
    */
  private def hashBlockPairs(banded: DataFrame): DataFrame = {
    val ham =
      "64 - size(filter(sequence(1, 64), i -> substring(a.sigs, i, 1) = substring(b.sigs, i, 1)))"
    Buckets.boundedMembers(banded, col("band"), struct(col("doc_id"), col("sigs")))
      .select(explode(expr(
        s"""flatten(transform(members, a ->
           |  transform(filter(members, b -> b.doc_id > a.doc_id),
           |    b -> struct(a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           |                a.sigs AS phash_1,
           |                CAST($ham AS BIGINT) AS hamming))))""".stripMargin)).as("p"))
      .select(col("p.doc_id_1"), col("p.doc_id_2"), col("p.phash_1"), col("p.hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  def dedupImagePhash(s: SparkSession, dir: String): DataFrame =
    hashBlockPairs(phashBanded(s, dir))

  /** PERCEPTUAL audio near-dup — the audio member of the perceptual
    * family: the textured WAV fixture plants VOLUME-scaled copies
    * (amp 64 → 32: every PCM byte changes, no energy-ratio bit does —
    * volume is audio's brightness), each clip's first 512 codec-parsed
    * samples hash to a 64-bit frame-energy signature
    * (operators.Multimodal.audioPhashes), and pairing runs the same
    * 4×16-bit block-LSH + exact-hamming machinery as the image
    * detector. The DuckDB twin replays the wave generator and the
    * energy arithmetic from sha256(text) without parsing a WAV.
    */
  def dedupAudioPhash(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val withCopies = d.select(col("doc_id"), col("text"), lit(64).as("amp"))
      .unionByName(d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + lit(1000000L)).as("doc_id"), col("text"), lit(32).as("amp")))
    val banded = Multimodal.audioPhashes(Multimodal.packTexturedAudio(withCopies)).toDF()
      .select(col("doc_id"), col("phash").as("sigs"),
        explode(hashBlockKeys(col("phash"))).as("band"))
    hashBlockPairs(banded)
  }

  /** Cross-batch INCREMENTAL perceptual dedup — E85's shape for the
    * image modality: the corpus split's aHash block state
    * (`IncrementalDedup.bandState` over [[phashBanded]] — the same
    * stored `(band, cnt, members)` schema, with the 64-char hash as
    * the member payload) is what a production pipeline would have
    * STORED; only the batch's images are hashed and joined
    * (`phashPairsAgainst`: hamming verification on total-capped
    * bands). Gated as the full one-shot detector over corpus ∪ batch
    * restricted to batch-touching pairs. Planted copies STRADDLE the
    * % 7 split (1000000 ≡ 1 mod 7), so both the new-vs-corpus and
    * new-vs-new arms carry planted pairs.
    */
  def pipelineDedupImageIncremental(s: SparkSession, dir: String): DataFrame = {
    // split via the PRE-render filter (PLANS.md #24: a doc_id predicate
    // above the typed map renders everything) — each branch then
    // renders and decodes only its own split, once
    val isBatch = col("doc_id") % 7 === 0
    val state = operators.IncrementalDedup.bandState(phashBanded(s, dir, pre = !isBatch))
    operators.IncrementalDedup.phashPairsAgainst(state, phashBanded(s, dir, pre = isBatch))
  }

  /** Streaming perceptual dedup: arriving images hashed in-flight and
    * stream-static joined against the stored corpus block state — the
    * streaming face of [[pipelineDedupImageIncremental]] (new-vs-corpus
    * only; semantics in
    * [[graft.streaming.StreamingStage.streamingDedupPhash]]).
    */
  def streamingDedupPhash(s: SparkSession, dir: String): DataFrame = {
    // corpus-only state via the pre-render filter — see
    // [[pipelineDedupImageIncremental]]; the stream side filters its
    // own % 7 split before packing too
    val state = operators.IncrementalDedup.bandState(
      phashBanded(s, dir, pre = col("doc_id") % 7 =!= 0))
    StreamingStage.streamingDedupPhash(s, dir, state)
  }

  /** PERCEPTUAL video near-dup — the frame-sampled composition of
    * [[dedupImagePhash]]: each video decodes ONLY its sampled frames
    * (every 4th; unsampled frames are length-skipped, never decoded)
    * to per-frame aHashes, candidates share any (frame, 16-bit block)
    * key, and a pair survives when a MAJORITY of sampled frames
    * hash-match exactly (`n_matched·2 > max(n_sampled)`). The fixture
    * plants uniformly brightness-shifted video copies (every frame's
    * bytes differ, no frame's hash does — the per-frame ramp keeps
    * frames distinct while staying clip-free). The DuckDB twin replays
    * frame count, per-frame pattern, hash arithmetic, banding, and the
    * majority rule from sha256(text) alone.
    *
    * Scale shape: hashing is one container walk per video with
    * decode-IO ∝ sampled frames; pairing shuffles (frame, block, id)
    * rows; the verify join moves only candidate pairs × their ≤ 3
    * frame hashes.
    */
  def dedupVideoPhash(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val withCopies = d.select(col("doc_id"), col("text"), lit(0).as("shift"))
      .unionByName(d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + lit(1000000L)).as("doc_id"), col("text"), lit(8).as("shift")))
    // the frame hashes come from the content-keyed STORED fixture
    // (Multimodal.storedVideoFramePhashes): this frame has FOUR
    // consumers (banding + both verify joins + the sample counts), and
    // before materialization each branch re-ran the whole render→
    // encode→decode→hash pipeline (9.5 s at sf0.1); a per-invocation
    // checkpoint cut that to 5.0 s but still re-rendered per bench rep
    // and per verify — the stored fixture renders once per distinct
    // corpus and every consumer reads the parquet files (VERDICT r7 #6)
    val fp = Multimodal.storedVideoFramePhashes(withCopies)
    val blocks = fp.select(col("doc_id"), col("frame_idx"), col("phash"),
      explode(transform(hashBlockKeys(col("phash")),
        b => concat(col("frame_idx"), lit("|"), b))).as("block"))
    val cand = Buckets.boundedMembers(blocks, col("block"), col("doc_id"))
      .select(explode(expr(
        """flatten(transform(members, a ->
          |  transform(filter(members, b -> b > a),
          |    b -> struct(a AS doc_id_1, b AS doc_id_2))))""".stripMargin)).as("p"))
      .select(col("p.doc_id_1").as("doc_id_1"), col("p.doc_id_2").as("doc_id_2"))
      .distinct()
    val n = fp.groupBy("doc_id").agg(count(lit(1)).as("n_sampled"))
    cand
      .join(fp.select(col("doc_id").as("doc_id_1"), col("frame_idx"),
        col("phash").as("ph1")), "doc_id_1")
      .join(fp.select(col("doc_id").as("doc_id_2"), col("frame_idx"),
        col("phash").as("ph2")), Seq("doc_id_2", "frame_idx"))
      .filter(col("ph1") === col("ph2"))
      .groupBy("doc_id_1", "doc_id_2").agg(count(lit(1)).as("n_frames_matched"))
      .join(n.select(col("doc_id").as("doc_id_1"), col("n_sampled").as("n_sampled_1")), "doc_id_1")
      .join(n.select(col("doc_id").as("doc_id_2"), col("n_sampled").as("n_sampled_2")), "doc_id_2")
      .filter(col("n_frames_matched") * 2 >
        greatest(col("n_sampled_1"), col("n_sampled_2")))
      .select(col("doc_id_1"), col("doc_id_2"), col("n_frames_matched"),
        col("n_sampled_1"), col("n_sampled_2"))
  }

  /** 64-bit SimHash near-dup detection with the standard 4×16-bit block
    * LSH (a pair within hamming ≤ 3 must share one of 4 equal blocks —
    * pigeonhole ⇒ exact recall at that radius). Explode+agg shape: one
    * md5 per token, 64 map-side partial ±1 sums per doc; bit j comes
    * from sub-bit (j%4) of hex digit (j/4) of the token digest.
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // Token digests are computed once per DISTINCT word, not per
    // occurrence: the corpus has ~10³ vocabulary words but ~10⁶ token
    // occurrences, so hash the vocabulary, broadcast it back onto
    // per-doc occurrence counts, and tally bit j as sum(±count). The 64
    // sums stay as parallel codegen'd sum(CASE) aggregate columns —
    // measured 12× faster than a TypedImperativeAggregate tally, which
    // expels the whole stage (incl. this projection) from codegen; see
    // functions.VectorSumAgg for the tradeoff record.
    val wc = withNearDups(docs(s, dir))
      .select(col("doc_id"), explode(col("words")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val vocab = wc.select("w").distinct()
      .withColumn("h", md5(col("w").cast("binary")))
      .withColumn("hv", expr(
        "transform(sequence(1, 16), i -> instr('0123456789abcdef', substring(h, i, 1)) - 1)"))
      .select("w", "hv")
    // no broadcast hint: AQE broadcasts the vocab when it fits and falls
    // back to a shuffle join for web-scale vocabularies
    val tok = wc.join(vocab, "w")
    val bitSums = (0 until 64).map { j =>
      val i = j / 4 + 1; val b = j % 4
      sum(when(expr(s"((shiftright(element_at(hv, $i), $b) & 1) = 1)"), col("c"))
        .otherwise(-col("c"))).as(s"_b$j")
    }
    val sim = tok.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        concat((0 until 64).map(j =>
          when(col(s"_b$j") >= 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"),
        // 16-bit block values as ints: bijective with the bit-string
        // blocks, so bucketing is identical but hamming becomes XOR +
        // bit_count instead of 64 per-pair substring compares.
        array((0 until 4).map(blk =>
          (blk * 16 until blk * 16 + 16).foldLeft(lit(0L)) { (acc, j) =>
            acc * 2 + when(col(s"_b$j") >= 0, 1L).otherwise(0L)
          }): _*).as("bi"))
    val blocks = sim.select(col("doc_id"), col("simhash"), col("bi"),
      explode(array((0 until 4).map(j =>
        concat(lit(s"$j|"), element_at(col("bi"), j + 1))): _*)).as("block"))
    // One-pass bucket expansion instead of a self-join: a self-join would
    // recompute the whole sketch pipeline for each side (exchange reuse
    // does not dedupe a shuffle stage consumed once streamed and once
    // broadcast — observed 2× runtime). groupBy(block) shuffles only
    // (doc_id, 64-char sketch) and pairs expand inside each bucket task;
    // Buckets.boundedMembers drops degenerate block values (short docs
    // collapsing to identical 16-bit blocks) so the expansion is bounded.
    val pairs = Buckets.boundedMembers(
        blocks, col("block"), struct(col("doc_id"), col("simhash"), col("bi")))
      .select(explode(expr(
        """flatten(transform(members, a ->
          |  transform(filter(members, b -> b.doc_id > a.doc_id),
          |    b -> struct(a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
          |                a.simhash AS simhash_1,
          |                CAST(aggregate(zip_with(a.bi, b.bi, (x, y) -> bit_count(x ^ y)),
          |                               0, (acc, v) -> acc + v) AS BIGINT) AS hamming))))""".stripMargin)).as("p"))
      .select(col("p.doc_id_1"), col("p.doc_id_2"), col("p.simhash_1"), col("p.hamming"))
    pairs.distinct().filter(col("hamming") <= 3)
  }

  // ===== chunking & graph clustering =====

  /** Chunking geometry: 32-word windows every 16 words — adjacent chunks
    * overlap by 16 words, so they share word-8-grams; non-adjacent chunks
    * of a (repetition-free) doc share none. A doc's chunks thus form a
    * path in the shared-8-gram graph — the fixture [[dedupClusters]]
    * reassembles with connected components.
    */
  private val ChunkSize = 32
  private val ChunkStride = 16

  /** (doc_id, chunk_idx, cwords): overlapping word windows per document.
    * One chunk per start offset 0, stride, 2·stride, … while the offset
    * is inside the doc (trailing chunks may be shorter than ChunkSize).
    * Map-side explode — no shuffle; ∝ 1/stride row amplification.
    */
  private def chunked(d: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    d.select(col("doc_id"), words.as("words"))
      .select(col("doc_id"), col("words"),
        explode(sequence(lit(0L), floor((size(col("words")) - 1) / ChunkStride))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("words"), (col("chunk_idx") * ChunkStride + 1).cast("int"),
          lit(ChunkSize)).as("cwords"))
  }

  /** Context-window chunking for RAG / training-sequence prep: overlapping
    * word-window chunks with a per-chunk digest (the payload column in a
    * real pipeline; the digest keeps the gate row narrow).
    */
  def textChunks(s: SparkSession, dir: String): DataFrame =
    chunked(docs(s, dir)).select(
      col("doc_id"), col("chunk_idx"),
      size(col("cwords")).cast("long").as("n_chunk_words"),
      md5(array_join(col("cwords"), " ").cast("binary")).as("chunk_md5"))

  /** Near-dup clusters via connected components: vertices = chunks,
    * edges = chunk pairs sharing any word-8-gram (the shared-shingle
    * inverted index with the bounded-bucket cap, exactly the E2/decontam
    * shape), components via 7-round min-label propagation (≥ the chunk
    * graph's diameter: ≤ 100-word docs → ≤ 7 chunks → diameter ≤ 6).
    * component = min chunk id ⇒ the canonical-representative rule every
    * pair-emitting dedup needs to actually DROP rows. Scale: see
    * ConnectedComponents scaladoc; the edge build shuffles (shingle →
    * chunk ids) once, each round is one join+agg on chunk id.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersOf(docs(s, dir))

  /** PageRank over the customer–supplier transaction graph (who trades
    * with whom, via orders ⋈ lineitem), 3 damped iterations in
    * fixed-point arithmetic — see [[graft.operators.PageRank]] for the
    * determinism and scale rationale. The symmetric closure makes the
    * bipartite graph undirected (and dangling-free); suppliers serving
    * many customers and customers spread across many suppliers
    * accumulate rank.
    */
  def graphPageRank(s: SparkSession, dir: String): DataFrame =
    // edgesDistinct: graphEdges is distinct by construction (distinct
    // pairs unioned in two directionally-disjoint orientations) — the
    // redundant dedup exchange was part of this row's measured cost
    graft.operators.PageRank.run(graphEdges(s, dir), iterations = 3,
      edgesDistinct = true)

  /** The customer↔supplier SYMMETRIC edge list (orders⋈lineitem,
    * distinct pairs, both directions) shared by the one-shot pagerank
    * and the stored/incremental graph-artifact gates. `pred` restricts
    * the ORDERS side — the yesterday/today corpus splits the
    * incremental gates replay.
    */
  private[graft] def graphEdges(s: SparkSession, dir: String,
                                pred: Column = lit(true)): DataFrame = {
    val orders = Tables.load(s, dir, "orders").filter(pred)
    val lineitem = Tables.load(s, dir, "lineitem")
    // distinct on the RAW key pair (two longs), then concat the string
    // ids (r16, guide §2.3 narrower types): the dedup exchange carries
    // 16 fixed-width bytes per row instead of two strings, and the
    // prefixed rendering is injective per side so the distinct pair
    // set — and every downstream row — is unchanged.
    val cs = orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .distinct()
      .select(concat(lit("c"), col("ck")).as("a"),
        concat(lit("s"), col("sk")).as("b"))
    cs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(cs.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Bump when the graph-artifact layout or edge derivation changes —
    * the content-keyed stored artifact below must miss rather than
    * serve a stale layout (the [[graft.operators.Multimodal]]
    * stored-fixture discipline).
    */
  private val GraphArtifactVersion = 1

  /** STORED graph artifact for this corpus, commit-keyed (VERDICT r10
    * #1, upgrading r8's content key): the nightly edge-derivation
    * job's output, rebuilt only when the corpus COMMITS anew or
    * [[GraphArtifactVersion]] bumps. The key is
    * [[graft.operators.ArtifactKey]]'s metadata-only fold over the
    * two input tables' file manifests (a Publish pointer read where
    * one exists) — zero Spark jobs, zero corpus bytes, where the r8
    * key paid two full-table xxhash64 aggregate scans PER QUERY
    * INVOCATION just to decide cache validity (at 100 TB: a corpus
    * read before every stored-path query). Every invocation (and
    * bench rep) now reads only the stored bucketed edges + degree
    * spine.
    */
  /** Per-JVM root for the commit-keyed stored artifacts (r17): the
    * bases were shared tmpdir paths keyed on corpus commit alone, but
    * the TABLE half of each artifact lives in the JVM's own catalog —
    * two concurrent JVMs (the grouped test runner's forked JVMs, a
    * Verify and a Bench side by side) would each see "files ready,
    * table missing", and the second's rebuild OVERWRITES the files the
    * first is actively reading (FILE_NOT_EXIST mid-query, measured as
    * a grouped-suite flake). A per-process root keeps the within-JVM
    * reuse that matters (bench reps, repeated invocations) and removes
    * the cross-process sharing that was never sound; the shutdown hook
    * reclaims it.
    */
  private lazy val artifactRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-artifacts")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.operators.Checkpoints.deleteTree(p)))
    p
  }

  private[graft] def graphStoredArtifact(s: SparkSession, dir: String): graft.operators.GraphIndex.Stored = {
    val key = graft.operators.ArtifactKey.compositeKey(
      s"gv$GraphArtifactVersion",
      Seq(s"$dir/orders.parquet", s"$dir/lineitem.parquet"))
    val base = artifactRoot.resolve(s"graft-graph-$key")
    val tbl = s"graft_graph_edges_$key"
    val stored = graft.operators.GraphIndex.Stored(tbl, base.toString, 0)
    val ready = java.nio.file.Files.exists(
        java.nio.file.Paths.get(stored.edgesPath, "_SUCCESS")) &&
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(stored.spinePath, "_SUCCESS")) &&
      s.catalog.tableExists(tbl)
    if (ready) stored
    else {
      // files may survive a previous JVM whose in-memory catalog died —
      // rebuild the artifact whole (overwrite) rather than trusting a
      // half-present state
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      graft.operators.GraphIndex.build(s, graphEdges(s, dir), tbl, base.toString)
    }
  }

  /** `graph_pagerank_stored`: ranks from the STORED artifact only —
    * the query path never touches orders/lineitem (plan-asserted in
    * the spec); the derivation cost sits in the nightly
    * [[graphStoredArtifact]] build. Oracle = the full in-flow
    * arithmetic, so the storage round trip is load-bearing in the
    * hash match.
    */
  def graphPageRankStored(s: SparkSession, dir: String): DataFrame =
    graft.operators.GraphIndex.ranks(s, graphStoredArtifact(s, dir), iterations = 3)

  /** `graph_pagerank_append`: the INCREMENTAL edge-batch fold — the
    * `o_orderkey % 7 != 0` split plays yesterday's corpus (its stored
    * artifact built per invocation), the `% 7 == 0` split is today's
    * batch, folded in by anti-join append + a spine fold ∝ batch
    * (NO re-derivation of yesterday's edges, no corpus-wide degree
    * re-aggregate). Oracle = one-shot pagerank over the FULL corpus:
    * stored ∪ appended is the full distinct edge set and the folded
    * spine equals the from-scratch degree aggregate, so the match
    * proves the fold exact. This split stays on the append branch of
    * the drift rule at both SFs (measured: new·2 ≤ base).
    */
  def graphPageRankAppend(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GraphIndex
    val base = java.nio.file.Files.createTempDirectory("graft_graph_app").toString
    val tbl = "graft_graph_append_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val stored0 = GraphIndex.build(s,
      graphEdges(s, dir, col("o_orderkey") % 7 =!= 0), tbl, base)
    val (stored1, _) = GraphIndex.append(s, stored0,
      graphEdges(s, dir, col("o_orderkey") % 7 === 0), gen = 1)
    retirePrev(graphAppendPrev, s, tbl, base)
    GraphIndex.ranks(s, stored1, iterations = 3)
  }

  /** `graph_pagerank_warmstart`: INCREMENTAL RANK maintenance — the
    * daily composition of the stored family: yesterday's artifact
    * (`% 7 != 0`) yields a 3-round rank vector, STORED as a |V|-row
    * parquet; today's batch folds into the edge artifact; and the new
    * ranks come from TWO warm rounds over the folded graph seeded by
    * the stored vector (new nodes start uniform). Yesterday's ranks
    * replace a cold round — the warm path runs 2 corpus-wide rounds
    * where the cold path runs 3, and its input is a |V|-row artifact
    * instead of nothing. The oracle unrolls yesterday's 3 rounds and
    * the 2 warm rounds verbatim, so the whole
    * stored-ranks → fold → warm-iterate chain hash-gates.
    */
  def graphPageRankWarmstart(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GraphIndex
    val base = java.nio.file.Files.createTempDirectory("graft_graph_ws").toString
    val tbl = "graft_graph_ws_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val stored0 = GraphIndex.build(s,
      graphEdges(s, dir, col("o_orderkey") % 7 =!= 0), tbl, base)
    GraphIndex.ranks(s, stored0, iterations = 3)
      .select(col("node"), col("rank_fp"))
      .write.parquet(s"$base/ranks-g0")
    val (stored1, _) = GraphIndex.append(s, stored0,
      graphEdges(s, dir, col("o_orderkey") % 7 === 0), gen = 1)
    retirePrev(graphWarmstartPrev, s, tbl, base)
    GraphIndex.warmStartRanks(s, stored1,
      s.read.parquet(s"$base/ranks-g0"), iterations = 2)
  }

  /** `graph_pagerank_purge`: DELETE PROPAGATION into the stored graph
    * artifact (VERDICT r9 #5) — the full-corpus artifact is built,
    * then the purge roster (customer nodes `c<custkey>` with
    * `c_custkey % 89 = 0`) is removed: every edge touching a roster
    * node is physically rewritten away in BOTH directions of the
    * symmetric closure and the degree spine folds a retraction ∝
    * removed edges ([[graft.operators.GraphIndex.purge]] — suppliers
    * left with zero surviving edges drop out of the graph entirely).
    * Ranks then run the unchanged stored-artifact path. Oracle =
    * one-shot PageRank over the graph re-derived from the filtered
    * source (`o_custkey % 89 <> 0`), so the hash proves retracted
    * degrees, vanished nodes, and the redistributed rank mass all
    * equal a rebuild over the surviving edges. (The spec additionally
    * audits the stored artifact for zero roster nodes.)
    */
  def graphPageRankPurge(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GraphIndex
    val base = java.nio.file.Files.createTempDirectory("graft_graph_prg").toString
    val tbl = "graft_graph_prg_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val stored0 = GraphIndex.build(s, graphEdges(s, dir), tbl, base)
    val roster = Tables.load(s, dir, "customer")
      .filter(col("c_custkey") % 89 === 0)
      .select(concat(lit("c"), col("c_custkey")).as("node"))
    val base2 = java.nio.file.Files.createTempDirectory("graft_graph_prgd").toString
    val tbl2 = "graft_graph_prgd_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val (stored1, _) = GraphIndex.purge(s, stored0, roster, tbl2, base2)
    // the unpurged artifact is dead within this invocation (it still
    // holds roster edges); the purged one follows the usual lifecycle
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    deleteTree(java.nio.file.Paths.get(base))
    retirePrev(graphPurgePrev, s, tbl2, base2)
    GraphIndex.ranks(s, stored1, iterations = 3)
  }

  /** `graph_pagerank_maintain`: the drift/retrigger decision (the
    * E95/E96 analog for graphs) on a split that TRIPS it — yesterday
    * = `% 2 != 0`, batch = the other half; the would-be state's
    * appended edges outgrow the base (`n_new·2 > n_base`, measured
    * true at both SFs), so the fold is rejected and a compacting
    * gen-0 REBUILD runs. Output: one decision row (exact counts +
    * branch flag) plus rank aggregates off the resulting artifact —
    * ranks are branch-invariant (identical row set either way), so
    * the oracle replays the counts and the full-corpus rank sum.
    */
  def graphPageRankMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GraphIndex
    val base = java.nio.file.Files.createTempDirectory("graft_graph_mnt").toString
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val tbl = s"graft_graph_mnt_$suffix"
    val rebuildTbl = s"graft_graph_mnt_rb_$suffix"
    val stored0 = GraphIndex.build(s,
      graphEdges(s, dir, col("o_orderkey") % 2 =!= 0), tbl, s"$base/a")
    val r = GraphIndex.maintain(s, stored0,
      graphEdges(s, dir, col("o_orderkey") % 2 === 0), gen = 1,
      rebuildTbl, s"$base/b")
    // dead-branch retirement within the invocation (the IvfIndex
    // discipline): on rebuild the pre-maintenance artifact is dead; on
    // append the rebuild table was never created
    if (r.rebuilt) s.sql(s"DROP TABLE IF EXISTS $tbl")
    retirePrev(graphMaintainPrev, s, r.stored.edgesTable, base)
    GraphIndex.ranks(s, r.stored, iterations = 3)
      .agg(count(lit(1)).as("n_nodes"), sum(col("rank_fp")).as("rank_sum"))
      .select(lit(r.nBase).as("n_base"), lit(r.nNew).as("n_new"),
        lit(r.rebuilt).as("rebuilt"), col("n_nodes"), col("rank_sum"))
  }

  /** Bump when the BM25 postings layout or tokenization changes — the
    * content-keyed stored artifact below must miss rather than serve a
    * stale layout.
    */
  private val Bm25ArtifactVersion = 1

  /** STORED BM25 inverted index for this corpus, commit-keyed (the
    * [[graphStoredArtifact]] lifecycle): the nightly index-build job's
    * output, rebuilt only when the corpus commits anew (metadata-only
    * [[graft.operators.ArtifactKey]] manifest fold — zero Spark jobs,
    * zero corpus bytes at key time; VERDICT r10 #1 replaced the
    * full-corpus text-hash aggregate that ran per invocation) or
    * [[Bm25ArtifactVersion]] bumps. Every invocation (and bench rep)
    * reads only the stored bucketed postings + df/stats spines — the
    * raw corpus is never re-tokenized or re-read on the query path.
    */
  private[graft] def bm25StoredArtifact(s: SparkSession, dir: String): graft.operators.Bm25Index.Stored = {
    val key = graft.operators.ArtifactKey.compositeKey(
      s"bm$Bm25ArtifactVersion", Seq(s"$dir/documents.parquet"))
    val base = artifactRoot.resolve(s"graft-bm25-$key")
    val tbl = s"graft_bm25_postings_$key"
    val stored = graft.operators.Bm25Index.Stored(tbl, base.toString, 0)
    val ready = Seq(stored.postingsPath, stored.dfPath, stored.statsPath)
      .forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS"))) &&
      s.catalog.tableExists(tbl)
    if (ready) stored
    else {
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      graft.operators.Bm25Index.build(s, docs(s, dir), tbl, base.toString)
    }
  }

  /** Query terms off the stored postings themselves: a posting row
    * exists per distinct (doc, word), so the `doc_id % 25` slice of
    * the index IS the query workload's distinct-term list — the whole
    * query path (corpus side AND query side) reads stored artifacts
    * only.
    */
  private def bm25QueryTerms(s: SparkSession, stored: graft.operators.Bm25Index.Stored): DataFrame =
    s.table(stored.postingsTable).filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("query_id"), col("word"))

  /** `text_bm25_stored_topk`: BM25 top-10 from the STORED index only —
    * no tokenize, no df window, no corpus-stat scan at query time; the
    * derivation cost sits in the nightly [[bm25StoredArtifact]] build.
    * Oracle = the full one-shot Robertson computation, so the postings
    * + spine storage round trip is load-bearing in the hash match.
    */
  def textBm25StoredTopK(s: SparkSession, dir: String): DataFrame = {
    val stored = bm25StoredArtifact(s, dir)
    graft.operators.Bm25Index.scoredTopK(s, stored, bm25QueryTerms(s, stored))
  }

  /** `text_bm25_append_topk`: the INCREMENTAL document-batch fold —
    * `doc_id % 3 != 0` plays yesterday's indexed corpus, `% 3 == 0` is
    * today's batch, folded in by a bucket-local doc anti-join + df/
    * stats spine folds ∝ batch (no corpus re-tokenize). BM25 makes
    * this fold non-trivially global: every appended doc moves N, L and
    * the df of each term it mentions, so EVERY stored doc's score
    * shifts — the oracle (one-shot BM25 over the full corpus) proves
    * the folded statistics exact, not just the appended postings.
    */
  def textBm25AppendTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bm25Index
    val d = docs(s, dir)
    val base = java.nio.file.Files.createTempDirectory("graft_bm25_app").toString
    val tbl = "graft_bm25_app_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val stored0 = Bm25Index.build(s, d.filter(col("doc_id") % 3 =!= 0), tbl, base)
    val (stored1, _) = Bm25Index.append(s, stored0,
      d.filter(col("doc_id") % 3 === 0), gen = 1)
    retirePrev(bm25AppendPrev, s, tbl, base)
    Bm25Index.scoredTopK(s, stored1, bm25QueryTerms(s, stored1))
  }

  /** `text_bm25_purge_topk`: DELETE PROPAGATION into the stored BM25
    * index (VERDICT r9 #4) — the full-corpus index is built, the purge
    * roster's (`doc_id % 89 = 0`) postings are physically rewritten
    * away and the df/stats spines fold a retraction ∝ roster
    * ([[graft.operators.Bm25Index.purge]]), then top-k runs off the
    * purged artifacts with the surviving `% 25` query slice. Oracle =
    * one-shot BM25 over the purged corpus, so the hash proves the
    * folded statistics (N, L, every touched df) equal a
    * rebuild-over-survivors — BM25's global coupling means ALL
    * surviving scores shift on purge, and the gate measures exactly
    * that, not just the roster rows' absence. (The spec additionally
    * audits the stored artifact content for zero roster doc_ids.)
    */
  def textBm25PurgeTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bm25Index
    val d = docs(s, dir)
    val base = java.nio.file.Files.createTempDirectory("graft_bm25_prg").toString
    val tbl = "graft_bm25_prg_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val stored0 = Bm25Index.build(s, d, tbl, base)
    val roster = d.filter(purgeRule()).select(col("doc_id"))
    val base2 = java.nio.file.Files.createTempDirectory("graft_bm25_prgd").toString
    val tbl2 = "graft_bm25_prgd_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val (stored1, _) = Bm25Index.purge(s, stored0, roster, tbl2, base2)
    // the unpurged index is dead within this invocation (it still
    // holds roster postings); the purged one follows the usual
    // cross-invocation lifecycle
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    deleteTree(java.nio.file.Paths.get(base))
    retirePrev(bm25PurgePrev, s, tbl2, base2)
    Bm25Index.scoredTopK(s, stored1, bm25QueryTerms(s, stored1))
  }

  /** `pipeline_purge_indexes_audit`: the composed COMPLIANCE AUDIT for
    * the two index families E110's headline gate doesn't cover — both
    * stored retrieval artifacts (BM25 postings + df/stats spines, graph
    * edges + degree spine) purge in one invocation and the gate emits
    * the per-artifact audit a compliance review signs off on:
    * `n_before`/`n_after` row counts (both measured from the artifacts
    * ON DISK, not plans), `n_refs_purged` (the retraction the fold
    * claims), and `n_leaked` — roster references found in the PURGED
    * artifact by content scan (postings with roster doc_ids; spine
    * rows with non-positive df; edges touching a roster node; roster
    * nodes in the degree spine). The oracle restates every count from
    * the raw corpus and pins `n_leaked = 0`, so the force of the gate
    * is the Spark side's disk measurement: a purge bug — a missed
    * bucket, a stale spine row, an un-retracted reverse edge — shows
    * up as a nonzero leak or a count off by the leak size.
    */
  def pipelinePurgeIndexesAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Bm25Index, GraphIndex, Par}
    val d = docs(s, dir)
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val base = java.nio.file.Files.createTempDirectory("graft_prgaudit").toString
    // The BM25 and graph families are INDEPENDENT artifact chains on
    // disjoint tables and paths (guide §2.6, r17 — the same
    // independence audit the three purge-state families got): each
    // thunk builds, purges and audits its own artifacts, and the
    // audit's independent count probes batch through the same pool so
    // one scan's tail back-fills with the next. Values unchanged by
    // construction; row order is fixed by the Seq below.
    def bmFamily(): Seq[(String, Long, Long, Long, Long)] = {
      val bmTbl = s"graft_prgaudit_bm_$suffix"
      val bmTbl2 = s"graft_prgaudit_bmd_$suffix"
      val bm0 = Bm25Index.build(s, d, bmTbl, s"$base/bm")
      val roster = d.filter(purgeRule()).select(col("doc_id"))
      val Seq(postB, dfB, statsB) = Par.run[Long](Seq(
        () => s.table(bmTbl).count(),
        () => s.read.parquet(bm0.dfPath).count(),
        () => s.read.parquet(bm0.statsPath).head().getLong(0)))
      val (bm1, _) = Bm25Index.purge(s, bm0, roster, bmTbl2, s"$base/bmd")
      val Seq(postA, postLeak, dfA, dfLeak, statsA) = Par.run[Long](Seq(
        () => s.table(bmTbl2).count(),
        () => s.table(bmTbl2)
          .join(broadcast(roster), Seq("doc_id"), "left_semi").count(),
        () => s.read.parquet(bm1.dfPath).count(),
        () => s.read.parquet(bm1.dfPath).filter(col("df") <= 0).count(),
        () => s.read.parquet(bm1.statsPath).head().getLong(0)))
      Seq(bmTbl, bmTbl2).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(("bm25_postings", postB, postA, postB - postA, postLeak),
        ("bm25_df_spine", dfB, dfA, dfB - dfA, dfLeak),
        ("bm25_stats", statsB, statsA, statsB - statsA, 0L))
    }
    def gFamily(): Seq[(String, Long, Long, Long, Long)] = {
      val gTbl = s"graft_prgaudit_g_$suffix"
      val gTbl2 = s"graft_prgaudit_gd_$suffix"
      val g0 = GraphIndex.build(s, graphEdges(s, dir), gTbl, s"$base/g")
      val gRoster = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") % 89 === 0)
        .select(concat(lit("c"), col("c_custkey")).as("node"))
      val Seq(edgeB, spineB) = Par.run[Long](Seq(
        () => s.table(gTbl).count(),
        () => s.read.parquet(g0.spinePath).count()))
      val (g1, nRetracted) = GraphIndex.purge(s, g0, gRoster, gTbl2, s"$base/gd")
      // ONE boolean-or scan (ADVICE r10): src-semi + dst-semi counts
      // would double-count an edge whose BOTH endpoints are roster nodes
      // — correct at the pinned zero, wrong magnitude when a purge bug
      // actually fires. Two broadcast left joins mark each side; an edge
      // leaks once iff either mark lands.
      val Seq(edgeA, edgeLeak, spineA, spineLeak) = Par.run[Long](Seq(
        () => s.table(gTbl2).count(),
        () => s.table(gTbl2)
          .join(broadcast(gRoster.withColumnRenamed("node", "src")
            .withColumn("hit_src", lit(1))), Seq("src"), "left")
          .join(broadcast(gRoster.withColumnRenamed("node", "dst")
            .withColumn("hit_dst", lit(1))), Seq("dst"), "left")
          .filter(col("hit_src").isNotNull || col("hit_dst").isNotNull)
          .count(),
        () => s.read.parquet(g1.spinePath).count(),
        () => s.read.parquet(g1.spinePath)
          .join(broadcast(gRoster), Seq("node"), "left_semi").count()))
      Seq(gTbl, gTbl2).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(("graph_edges", edgeB, edgeA, nRetracted, edgeLeak),
        ("graph_spine", spineB, spineA, spineB - spineA, spineLeak))
    }
    val fams = Par.pair(() => bmFamily(), () => gFamily())
    deleteTree(java.nio.file.Paths.get(base))
    def row(t: (String, Long, Long, Long, Long)) =
      s.range(1).select(lit(t._1).as("artifact"), lit(t._2).as("n_before"),
        lit(t._3).as("n_after"), lit(t._4).as("n_refs_purged"),
        lit(t._5).as("n_leaked"))
    (fams._1 ++ fams._2).map(row).reduce(_.unionByName(_))
  }

  /** `graph_pagerank_purge_warmstart`: incremental rank maintenance
    * ACROSS a purge (E142 × E152) — the account-deletion day's cheap
    * path: yesterday's stored rank vector (3 cold rounds over the full
    * artifact) seeds 2 warm rounds over the PURGED artifact instead of
    * a fresh cold start. Every survivor carries its pre-purge rank
    * into round one (no new nodes can appear on a purge, so the
    * uniform fallback never fires), while the purged spine's retracted
    * degrees drive the warm arithmetic — the purged account's rank
    * mass redistributes in exactly the rounds the oracle unrolls.
    * Scale shape: one |V|-row init join + 2 rounds ∝ purged |E|,
    * replacing a full cold iteration count after every compliance
    * event.
    */
  def graphPageRankPurgeWarmstart(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GraphIndex
    val base = java.nio.file.Files.createTempDirectory("graft_graph_pws").toString
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val tbl = s"graft_graph_pws_$suffix"
    val tbl2 = s"graft_graph_pwsd_$suffix"
    val stored0 = GraphIndex.build(s, graphEdges(s, dir), tbl, s"$base/a")
    GraphIndex.ranks(s, stored0, iterations = 3)
      .select(col("node"), col("rank_fp"))
      .write.parquet(s"$base/ranks-g0")
    val roster = Tables.load(s, dir, "customer")
      .filter(col("c_custkey") % 89 === 0)
      .select(concat(lit("c"), col("c_custkey")).as("node"))
    val (stored1, _) = GraphIndex.purge(s, stored0, roster, tbl2, s"$base/b")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    retirePrev(graphPurgeWarmstartPrev, s, tbl2, base)
    GraphIndex.warmStartRanks(s, stored1,
      s.read.parquet(s"$base/ranks-g0"), iterations = 2)
  }

  private val hybridStoredPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  /** `sim_hybrid_stored_rrf`: the production RAG retrieval stack —
    * BOTH hybrid legs served from NIGHTLY STORED ARTIFACTS with zero
    * query-time corpus access: the lexical leg is true BM25 top-20
    * off the content-keyed stored postings + spines (E147 — upgraded
    * from `sim_hybrid_rrf`'s in-flow word-overlap leg), the vector leg
    * is IVF top-20 off the stored centroid table + cid-bucketed lists
    * (E66's stored shape), and reciprocal-rank fusion (k = 60, exact
    * integer) merges them. The in-flow `sim_hybrid_rrf` derives both
    * legs from raw tables per query — this gate is what a deployment
    * actually runs: index nightly, serve from artifacts.
    *
    * Scale shape (100 TB): query cost = one bucketed postings scan
    * (zero corpus-side exchanges, E147) + nprobe list reads (bucketed
    * by cid) + a queries×40-row fusion join — the corpus appears
    * nowhere in the query plan.
    */
  def simHybridStoredRrf(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Bm25Index, KMeans}
    val bm = bm25StoredArtifact(s, dir)
    val lex = Bm25Index.scoredTopK(s, bm, bm25QueryTerms(s, bm), k = 20)
      .select(col("query_id"), col("cand_id"), col("rank").as("r_lex"))
    // vector leg: the simIvfStoredTopK build + lifecycle, top-20
    val all = vecs(s, dir)
    val base = java.nio.file.Files.createTempDirectory("graft_hyb_ivf").toString
    val tbl = "graft_hyb_ivf_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val centroids = KMeans.fit(all, k = 8, iterations = 3)
    s.createDataFrame(centroids.map { case (cid, v) => (cid, v.toSeq) })
      .toDF("cid", "vec")
      .write.mode("overwrite").parquet(s"$base/centroids")
    KMeans.probe(all, centroids, nprobe = 1)
      .write.mode("overwrite").format("parquet")
      .option("path", s"$base/lists")
      .bucketBy(8, "cid").saveAsTable(tbl)
    retirePrev(hybridStoredPrev, s, tbl, base)
    val storedCentroids = s.read.parquet(s"$base/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
    val lists = s.table(tbl)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_vec"), col("cid"))
    val probes = KMeans.probe(all.filter(col("vec_id") % 25 === 0),
        storedCentroids, nprobe = 2)
      .select(col("vec_id").as("query_id"), col("v").as("q_vec"), col("cid"))
    val vec = ivfScore(lists, probes, k = 20)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("rank").as("r_vec"))
    val fused = lex.join(vec, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf_fp",
        coalesce(expr("1000000 DIV (60 + r_lex)"), lit(0L)) +
          coalesce(expr("1000000 DIV (60 + r_vec)"), lit(0L)))
    LatestPerKey.topKRanked(fused, 5, Seq(col("query_id")),
        Seq(col("rrf_fp").desc_nulls_last, col("cand_id").asc_nulls_first))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("rrf_fp"), col("r_lex"), col("r_vec"))
  }

  /** `text_bm25_maintain_topk`: the DRIFT rule for the stored BM25
    * index — the [[graphPageRankMaintain]] verb completing the
    * build/append/purge lifecycle: yesterday's index (`doc_id % 3 = 0`)
    * takes a batch twice its size, the exact integer posting counts
    * trip `n_new·2 > n_base`, and the fold is rejected in favor of a
    * COMPACTING rebuild to a fresh gen-0 artifact (self-contained —
    * postings rewrite from the stored table, spines re-derive from the
    * compacted table, no corpus re-tokenize). The gate emits the
    * decision as exact counts plus top-k aggregates over the resulting
    * artifact; the oracle replays the counts from the corpus and the
    * aggregates from the full one-shot computation (the posting row
    * set is branch-invariant).
    */
  def textBm25MaintainTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bm25Index
    val d = docs(s, dir)
    val base = java.nio.file.Files.createTempDirectory("graft_bm25_mnt").toString
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val tbl = s"graft_bm25_mnt_$suffix"
    val rebuildTbl = s"graft_bm25_mnt_rb_$suffix"
    val stored0 = Bm25Index.build(s, d.filter(col("doc_id") % 3 === 0), tbl, s"$base/a")
    val r = Bm25Index.maintain(s, stored0, d.filter(col("doc_id") % 3 =!= 0),
      gen = 1, rebuildTbl, s"$base/b")
    // dead-branch retirement within the invocation (the GraphIndex
    // discipline): on rebuild the pre-maintenance artifact is dead; on
    // append the rebuild table was never created
    if (r.rebuilt) s.sql(s"DROP TABLE IF EXISTS $tbl")
    retirePrev(bm25MaintainPrev, s, r.stored.postingsTable, base)
    Bm25Index.scoredTopK(s, r.stored, bm25QueryTerms(s, r.stored))
      .agg(count(lit(1)).as("n_topk"), sum(col("score_fp")).as("score_sum"))
      .select(lit(r.nBase).as("n_base"), lit(r.nNew).as("n_new"),
        lit(r.rebuilt).as("rebuilt"), col("n_topk"), col("score_sum"))
  }

  /** [[dedupClusters]] over an explicit (doc_id, text) frame (fixture
    * entry). Propagation runs the SALTED variant: at 10× dup density
    * the fused ~70-vertex components concentrate message volume per
    * reducer (SCALE_SMOKE round-4 measured the plain join AT the 2.0×
    * worst-stage skew gate); salting is row-identical, so the oracle
    * twin is unchanged.
    */
  def dedupClustersOf(d: DataFrame): DataFrame = {
    val (verts, edges) = chunkGraph(d)
    ConnectedComponents.labelPropagateSalted(verts, edges, iterations = 7)
      .select(expr("id DIV 10000").as("doc_id"), (col("id") % 10000).as("chunk_idx"),
        col("component"))
  }

  /** The chunk-shingle near-dup graph shared by [[dedupClustersOf]] and
    * [[dedupClustersStar]]: vertices = 32/16-word chunks, edges =
    * chunks sharing an 8-shingle (bounded buckets).
    */
  private def chunkGraph(d: DataFrame): (DataFrame, DataFrame) = {
    val c = chunked(d)
      .select(col("doc_id"), col("chunk_idx"),
        (col("doc_id") * 10000 + col("chunk_idx")).as("id"), col("cwords"))
    val verts = c.select(col("id"))
    val sh = c.filter(size(col("cwords")) >= 8)
      .select(col("id"),
        explode(array_distinct(TextFunctions.shingles(col("cwords"), 8))).as("sh"))
    val edges = Buckets.boundedMembers(sh, col("sh"), col("id"))
      .select(explode(expr(
        """flatten(transform(members, a ->
          |  transform(filter(members, b -> b > a), b -> struct(a AS src, b AS dst))))""".stripMargin)).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .distinct()
    (verts, edges)
  }

  /** [[dedupClusters]] with components from the alternating
    * large-star/small-star contraction
    * ([[ConnectedComponents.runStar]]) instead of fixed-round
    * propagation — the adversarial-diameter path, gated against the
    * SAME oracle as `dedup_clusters`: at the gate SFs the dup-graph
    * diameter is within the propagation round count, so both must
    * produce the identical component minima; runStar additionally
    * converges (in O(log²) rounds) on graphs where no fixed round
    * count would (spec-asserted on a planted 200-hop chain).
    */
  def dedupClustersStar(s: SparkSession, dir: String): DataFrame = {
    val (verts, edges) = chunkGraph(docs(s, dir))
    ConnectedComponents.runStar(verts, edges)
      .select(expr("id DIV 10000").as("doc_id"), (col("id") % 10000).as("chunk_idx"),
        col("component"))
  }

  /** The full near-dup dedup path as ONE plan: MinHash-LSH pairs →
    * connected components (4 rounds ≥ the dup-graph diameter) →
    * canonical = lowest doc id per cluster — the composition every
    * pair-emitting detector exists to feed. Output keeps ALL docs with
    * their cluster label and a keep flag, so downstream can either
    * filter (`keep`) or audit cluster sizes. Scale: the pair stage is
    * the gated minhash query; propagation adds one join+agg per round
    * over the (tiny) pair set + doc spine.
    */
  def pipelineDedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val pairs = dedupMinhashLsh(s, dir)
    val verts = withNearDups(docs(s, dir)).select(col("doc_id").as("id"))
    ConnectedComponents.labelPropagate(verts,
        pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")),
        iterations = 4)
      .select(col("id").as("doc_id"), col("component"),
        (col("id") === col("component")).as("keep"))
  }

  /** Leakage-safe train/val/test split: the unit of assignment is the
    * near-dup CLUSTER, not the document — every member of a cluster gets
    * the split of its canonical (the md5 bucket of the component id,
    * same 8/1/1 rule as `pipeline_train_split`), so a near-duplicate of
    * a training doc can never land in the eval split and leak training
    * content into the benchmark. The per-doc split (the naive rule that
    * WOULD leak) rides along so the gate can also count how many docs
    * the cluster rule actually moved.
    *
    * Scale shape: cluster labels come from the already-bounded
    * minhash-LSH → connected-components path; the split itself adds one
    * hash expression and zero shuffles beyond the component join.
    */
  def pipelineSplitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    def splitOf(c: Column): Column = {
      val b = conv(substring(md5(c.cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 10
      when(b < 8, lit("train")).when(b === 8, lit("val")).otherwise(lit("test"))
    }
    pipelineDedupCanonical(s, dir).select("doc_id", "component")
      .select(col("doc_id"), col("component"),
        splitOf(col("component")).as("split"),
        (splitOf(col("doc_id")) =!= splitOf(col("component")))
          .as("moved_by_cluster_rule"))
  }

  /** Soft-dedup WEIGHTING (the down-weighting alternative to removal,
    * cf. SemDeDup's discussion of duplication-aware sampling): instead
    * of dropping near-duplicates, weight every document by
    * 1/|its dedup cluster| in parts-per-million fixed point, so a
    * cluster of 10 near-copies contributes one document's worth of
    * training mass. Same cluster assignment as
    * [[pipelineDedupCanonical]] (minhash pairs → connected
    * components); one extra component-keyed count + rejoin.
    */
  def pipelineDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val labeled = pipelineDedupCanonical(s, dir).select("doc_id", "component")
    val sizes = labeled.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        expr("1000000L div cluster_size").as("weight_ppm"))
  }

  /** One BPE TRAINING iteration's counting step at character level:
    * adjacent character-pair frequencies within words, top-20 merge
    * candidates (ties → lexicographic) — the statistic a distributed
    * tokenizer trainer computes per merge round (Sennrich et al.
    * 2016). Scale shape: pairs partial-aggregate map-side (the pair
    * alphabet ≪ the pair stream), top-k is TakeOrdered — the
    * text_vocab_topk shape one level below words.
    */
  def textBpeMerges(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc_nulls_last, col("pair").asc_nulls_first)
      .limit(20)

  /** The full iterated BPE TRAINING loop ([[operators.BpeTrainer]] —
    * the piece [[textBpeMerges]]' single counting round lacked): 10
    * rounds of apply-merges-so-far → recount → adopt-argmax over the
    * documents corpus, emitting the learned table (rank, a, b, n).
    * Later rounds consume earlier rounds' outputs (the corpus learns
    * `m`+`er` only after `e`+`r` merged), so the gate proves the whole
    * data-driven loop, not 10 independent counts. Oracle = the same 10
    * rounds as UNROLLED DuckDB CTEs whose per-round merge pattern is
    * read from the previous round's argmax row (a data-driven chain,
    * like the k-means/PageRank unrolls). The shipped
    * [[graft.functions.TextFunctions.BpeMerges]] fixture is this
    * trainer's output at the sf0.01 corpus (spec-asserted).
    *
    * Scale shape: per round one map-side-combined pair count + a 1-row
    * driver pull (the KMeans.fit contract); the word-occurrence frame
    * is checkpointed once and re-read by all 10 rounds. NOTE: eager —
    * training runs at DataFrame-construction time.
    */
  def textBpeTrain(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Checkpoints.ensure(s.sparkContext)
    val words = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
    val learned = graft.operators.BpeTrainer.train(words, rounds = 10)
    import s.implicits._
    learned.zipWithIndex
      .map { case ((a, b, n), i) => (i + 1L, a, b, n) }
      .toDF("rank", "a", "b", "n")
  }

  /** Corpus + deterministically perturbed copies of every 10th vector —
    * the planted near-dup fixture shared by [[dedupEmbeddingCosine]] and
    * [[dedupSemantic]] (index-patterned additive noise; cosine is
    * scale-invariant so a multiplicative copy would be degenerate).
    */
  private def withPerturbedVecs(s: SparkSession, dir: String): DataFrame = {
    val base = vecs(s, dir).select(col("vec_id"), col("embedding"))
    val pert = base.filter(col("vec_id") % 10 === 0).select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(sequence(lit(1), size(col("embedding"))),
        i => element_at(col("embedding"), i).cast("double") +
          (i % 5 - 2).cast("double") * 0.01).as("embedding"))
    base.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("embedding")).unionByName(pert)
  }

  /** Contrastive-pair mining for embedding-model training: per anchor
    * (every 25th vector), the highest-cosine near-duplicate (cos ≥
    * 0.95) as the POSITIVE and the highest-cosine non-duplicate as the
    * HARD NEGATIVE — the standard hard-negative mining step. Anchors
    * without a planted duplicate emit a null positive (both paths
    * gated). Scale shape: anchors broadcast, corpus scanned once
    * (exactly the exact-ANN baseline's cost); the per-anchor argmax is
    * ONE aggregate — max over struct(cos, -id, id) is the
    * deterministic argmax (highest cos, ties → lowest id), no window,
    * partial-aggregating map-side so only (anchor × 2 structs) rows
    * shuffle. At 100 TB the corpus side swaps in the banded-LSH or IVF
    * candidate generator like the ANN queries.
    */
  def mineContrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val all = withPerturbedVecs(s, dir)
    val anchors = all.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("a_vec"))
    val scored = all.select(col("vec_id").as("cand_id"), col("embedding").as("c_vec"))
      .join(broadcast(anchors), col("anchor_id") =!= col("cand_id"))
      .select(col("anchor_id"), col("cand_id"),
        Similarity.cosine(col("a_vec"), col("c_vec")).as("cos"))
    def argmax(cond: Column): Column =
      max(when(cond, struct(col("cos"), (-col("cand_id")).as("nid"), col("cand_id"))))
    val agg = scored.groupBy("anchor_id").agg(
      argmax(col("cos") >= 0.95).as("pos"),
      argmax(col("cos") < 0.95).as("neg"))
    agg.select(col("anchor_id"),
      col("pos.cand_id").as("positive_id"), round(col("pos.cos"), 6).as("pos_cos"),
      col("neg.cand_id").as("negative_id"), round(col("neg.cos"), 6).as("neg_cos"))
  }

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): k-means
    * clusters partition the embedding space; fine-grained candidates are
    * same-cluster vectors sharing a hyperplane-LSH band; pairs with
    * cosine ≥ 0.95 mark the HIGHER id as a duplicate, so `keep` is the
    * lowest-id-per-dup-group rule the exact dedup uses. Scale: the
    * (cid, band) composite bucket key means parallelism is clusters ×
    * bands × 2^bits — NOT the k-way-only partitioning a raw
    * within-cluster self-join would give — and Buckets.boundedMembers
    * caps degenerate buckets; at 100 TB k grows ∝ corpus (SemDeDup uses
    * k ≈ √N) while each task stays ≤ cap² pairs.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val all = withPerturbedVecs(s, dir)
    val centroids = KMeans.fit(all, k = 8, iterations = 3)
    val assigned = KMeans.probe(all, centroids, nprobe = 1)
    val banded = assigned.select(col("vec_id").as("id"), col("v").as("vec"), col("cid"),
      explode(Similarity.hyperplaneBands(col("v"), 4, 4)).as("band"))
    val dupIds = Buckets.boundedMembers(banded,
        concat(col("cid").cast("string"), lit("|"), col("band")),
        struct(col("id"), col("vec")))
      .select(explode(expr(
        """flatten(transform(members, a ->
          |  transform(filter(members, b -> b.id > a.id),
          |    b -> struct(b.id AS id, cosine_sim(a.vec, b.vec) AS cos))))""".stripMargin)).as("p"))
      .filter(col("p.cos") >= 0.95)
      .select(col("p.id").as("vec_id"))
      .distinct()
      .withColumn("__dup", lit(1))
    assigned.select(col("vec_id"), col("cid"))
      .join(dupIds, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("__dup").isNull.as("keep"))
  }

  /** Polynomial rolling-hash fingerprint per document. */
  def textRollingFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextFunctions.rollingHash(col("text")).as("rhash"))

  /** APPLIED BPE encoding (VERDICT r5 #5 — the missing half of
    * [[textBpeMerges]], which only counts one training iteration's
    * candidates): tokenize every document with the FIXED learned merge
    * table (TextFunctions.BpeMerges — provenance in its scaladoc),
    * emitting the real token count, the character count, and an md5 of
    * the full token stream — so the gate certifies the exact token
    * SEQUENCES, not just their number. The oracle unrolls the same ten
    * merges as a nested replace chain built from the same table (one
    * definition, no literal drift). Pure per-row HOF work: zero
    * shuffle, zero UDF — at 100 TB tokenization is a map-side pass
    * over the corpus scan, which is exactly what this plan is.
    */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val words = filter(split(col("text"), " "), w => w =!= "")
    val toks = TextFunctions.bpeEncodeDoc(col("text"))
    docs(s, dir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      aggregate(words, lit(0L), (acc, w) => acc + length(w)).as("n_chars"),
      md5(array_join(toks, " ").cast("binary")).as("stream_md5"))
  }

  /** Train-then-encode composition (`text_bpe_train_encode`): encode
    * the corpus with the table [[graft.operators.BpeTrainer]] just
    * LEARNED from it — the end-to-end tokenizer path (train on corpus
    * → tokenize corpus) a from-scratch pipeline runs, where
    * [[textBpeEncode]] applies the fixed shipped table. The oracle
    * re-derives the table through the unrolled 10-round training CTEs
    * and builds its replace chain from THOSE rows, so a drifted
    * trainer breaks the gate even if the encode machinery is right.
    * Scale: training is the KMeans-style driver loop (one map-side-
    * combined pair count per round); the encode pass is per-row
    * codegen'd string work over one corpus scan, no shuffle.
    */
  def textBpeTrainEncode(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Checkpoints.ensure(s.sparkContext)
    val d = docs(s, dir)
    val trainWords = d.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
    val learned = graft.operators.BpeTrainer.train(trainWords, rounds = 10)
      .map { case (a, b, _) => (a, b) }
    val ws = filter(split(col("text"), " "), w => w =!= "")
    val toks = flatten(transform(ws, w => split(ltrim(
      TextFunctions.bpeApplyMerges(TextFunctions.bpeSpacedWord(w), learned)), " ")))
    d.select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      md5(array_join(toks, " ").cast("binary")).as("stream_md5"))
  }

  /** BPE-flavored tokenization stats (letter/digit/punct token runs). */
  def textBpeTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(TextFunctions.bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"),
      size(array_distinct(TextFunctions.bpeTokens(col("text")))).cast("long").as("n_distinct_tokens"))

  // ===== embedding similarity =====

  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Every 25th vector is a query; exact brute-force cosine top-5. */
  def simCosineTopK(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    Similarity.bruteForceTopK(all, all.filter(col("vec_id") % 25 === 0), k = 5)
  }

  /** Same query set through the banded hyperplane-LSH (approximate)
    * path — the scale formulation: candidates shrink to band-bucket
    * matches, so the scan is corpus-size, not corpus × queries. 8 bands
    * × 3 bits measures 0.69 recall@5 at ~56% candidate rate on the
    * near-random bench embeddings (where any sublinear method's recall
    * ≈ its candidate fraction — there is no cluster structure to
    * exploit); on clustered corpora the same setting is near-exhaustive
    * (SimilaritySpec's clustered fixture holds it ≥ 0.8).
    */
  def simAnnLshTopK(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    Similarity.lshTopK(all, all.filter(col("vec_id") % 25 === 0), k = 5,
      bands = 8, rowsPerBand = 3)
  }

  /** Same query set through the IVF inverted-list path (coarse quantize →
    * probe nprobe lists → exact scoring).
    */
  def simIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    Similarity.ivfTopK(all, all.filter(col("vec_id") % 25 === 0), k = 5)
  }

  /** IVF with TRAINED centroids: deterministic distributed k-means
    * (operators.KMeans, fixed-point vec_sum centroid updates) as the
    * coarse quantizer. Because fit is fully deterministic (fixed init,
    * left-fold distances, fixed-point means, no RNG), the 3 Lloyd
    * iterations ARE SQL-expressible — ExtOracleSql.simIvfKmeansTopK
    * unrolls them as CTE stages, so this entry hash-gates like any other;
    * KMeansSpec additionally covers purity/determinism/monotone cost.
    */
  def simIvfKmeansTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.KMeans
    val all = vecs(s, dir)
    val centroids = KMeans.fit(all, k = 8, iterations = 3)
    val lists = KMeans.probe(all, centroids, nprobe = 1)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_vec"), col("cid"))
    val probes = KMeans.probe(all.filter(col("vec_id") % 25 === 0), centroids, nprobe = 2)
      .select(col("vec_id").as("query_id"), col("v").as("q_vec"), col("cid"))
    ivfScore(lists, probes)
  }

  /** Probed-list scoring + per-query top-k shared by the recompute and
    * stored-index IVF paths.
    */
  private[graft] def ivfScore(lists: DataFrame, probes: DataFrame,
                              k: Int = 5): DataFrame = {
    val scored = lists.join(probes, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", Similarity.cosine(col("q_vec"), col("c_vec")))
      .dropDuplicates("query_id", "neighbor_id")
    LatestPerKey.topKRanked(scored, k, Seq(col("query_id")),
        Seq(col("score").desc_nulls_last, col("neighbor_id").asc_nulls_first))
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
  }

  /** IVF search against a STORED index — the production shape the
    * recompute queries only gesture at: the trained centroid table
    * (k rows) and the assignment lists (BUCKETED by cid) are written
    * as durable artifacts, then the query path touches ONLY those
    * artifacts — no re-clustering, no corpus-wide scan beyond the
    * probed lists, and the cid-bucketed layout means a probe reads
    * its lists without a shuffle. Gated against the recompute
    * [[simIvfKmeansTopK]]'s oracle verbatim: index build is
    * deterministic, so going through storage must change nothing.
    */
  /** The previous stored-IVF invocation's (table, dir), retired when the
    * NEXT invocation finishes its build: per-invocation names mean a
    * mid-build failure cannot strand a half-written table under the
    * name a reader uses, concurrent invocations cannot race on one
    * catalog entry, and repeated bench reps hold at most one dead
    * index at a time instead of leaking one per rep (ADVICE r5). The
    * retire happens AFTER the new build succeeds — never a window with
    * no intact index — and the quiesce argument for deleting the old
    * files is operators.Checkpoints': the previous rep's frames are
    * fully consumed by then.
    */
  private val ivfStoredPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val ivfAppendPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val ivfDriftPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val ivfCompactPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val ivfMaintainPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val ivfMaintainRtPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val graphAppendPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val graphMaintainPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val graphWarmstartPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val bm25AppendPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val bm25PurgePrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val bm25MaintainPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val graphPurgePrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private val graphPurgeWarmstartPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  private def deleteTree(p: java.nio.file.Path): Unit =
    operators.Checkpoints.deleteTree(p)

  /** Retire the PREVIOUS invocation's stored artifact (table + dir) now
    * that the new one is intact — the per-invocation-name lifecycle the
    * stored-index queries share (see [[ivfStoredPrev]]'s rationale).
    */
  private def retirePrev(ref: java.util.concurrent.atomic.AtomicReference[(String, String)],
                         s: SparkSession, tbl: String, base: String): Unit =
    Option(ref.getAndSet((tbl, base))).foreach { case (pt, pb) =>
      s.sql(s"DROP TABLE IF EXISTS $pt")
      deleteTree(java.nio.file.Paths.get(pb))
    }

  /** After `IvfIndex.maintain` decides, exactly one artifact is dead
    * WITHIN the invocation: the pre-maintenance index when a retrain
    * replaced it, or the (empty) would-be retrain dir when the append
    * branch kept the old index live. Retire it now; the surviving
    * artifact goes through the usual cross-invocation [[retirePrev]].
    */
  private def retireDeadBranch(s: SparkSession, stored: graft.operators.IvfIndex.Stored,
                               base: String, rbase: String, retrained: Boolean): Unit =
    if (retrained) {
      s.sql(s"DROP TABLE IF EXISTS ${stored.listsTable}")
      deleteTree(java.nio.file.Paths.get(base))
    } else deleteTree(java.nio.file.Paths.get(rbase))

  def simIvfStoredTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.KMeans
    val all = vecs(s, dir)
    // offline build + store (per-invocation here; nightly in production)
    val base = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val tbl = "graft_ivf_lists_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val centroids = KMeans.fit(all, k = 8, iterations = 3)
    s.createDataFrame(centroids.map { case (cid, v) => (cid, v.toSeq) })
      .toDF("cid", "vec")
      .write.mode("overwrite").parquet(s"$base/centroids")
    KMeans.probe(all, centroids, nprobe = 1)
      .write.mode("overwrite").format("parquet")
      .option("path", s"$base/lists")
      .bucketBy(8, "cid").saveAsTable(tbl)
    // new index intact — retire the previous invocation's
    retirePrev(ivfStoredPrev, s, tbl, base)
    // query path — stored artifacts only
    val storedCentroids = s.read.parquet(s"$base/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
    val lists = s.table(tbl)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_vec"), col("cid"))
    val probes = KMeans.probe(all.filter(col("vec_id") % 25 === 0),
        storedCentroids, nprobe = 2)
      .select(col("vec_id").as("query_id"), col("v").as("q_vec"), col("cid"))
    ivfScore(lists, probes)
  }

  /** INCREMENTAL IVF index maintenance (operators.IvfIndex — VERDICT r5
    * #1): the corpus split `vec_id % 7 != 0` plays yesterday's corpus,
    * whose trained centroids + cid-bucketed assignment lists are the
    * STORED artifact; the `% 7 == 0` split is today's embedding batch,
    * folded in by assigning against the stored centroid table and
    * APPENDING to the bucketed lists — no retrain, no corpus
    * re-assignment. The query path then reads only stored artifacts.
    * Oracle = a FULL REBUILD over corpus ∪ batch under the SAME
    * corpus-trained centroids (Lloyd iterations unrolled over the
    * corpus split only, then one assignment of every vector), so list
    * membership is identical by construction and the append path +
    * storage round trip are both load-bearing in the hash match.
    */
  def simIvfAppendTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IvfIndex
    val all = vecs(s, dir)
    val isBatch = col("vec_id") % 7 === 0
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    val tbl = "graft_ivf_append_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val stored = IvfIndex.build(s, all.filter(!isBatch), k = 8, iterations = 3, tbl, base)
    IvfIndex.append(s, stored, all.filter(isBatch), gen = 1)
    retirePrev(ivfAppendPrev, s, tbl, base)
    // query path — stored artifacts only (appended lists + frozen centroids)
    val centroids = IvfIndex.readCentroids(s, stored)
    val lists = s.table(tbl)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_vec"), col("cid"))
    val probes = KMeans.probe(all.filter(col("vec_id") % 25 === 0), centroids, nprobe = 2)
      .select(col("vec_id").as("query_id"), col("v").as("q_vec"), col("cid"))
    ivfScore(lists, probes)
  }

  /** Drift metric over the appended index ([[simIvfAppendTopK]]'s
    * build+append, then operators.IvfIndex.drift on the stored lists):
    * per inverted list, base vs appended population and fixed-point
    * mean residuals against the frozen centroids, with the retrain
    * trigger. This is the "when to stop folding" half of incremental
    * maintenance — the same role the cap precondition plays for
    * incremental clusters.
    */
  def simIvfDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IvfIndex
    val all = vecs(s, dir)
    val isBatch = col("vec_id") % 7 === 0
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString
    val tbl = "graft_ivf_drift_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val stored = IvfIndex.build(s, all.filter(!isBatch), k = 8, iterations = 3, tbl, base)
    IvfIndex.append(s, stored, all.filter(isBatch), gen = 1)
    retirePrev(ivfDriftPrev, s, tbl, base)
    IvfIndex.drift(s.table(tbl))
  }

  /** COMPACTION of the fold-forward index (operators.IvfIndex.compact):
    * two daily appends fragment the bucketed lists — every append
    * lands its own file per touched bucket, so probes pay one extra
    * file open per fold (the small-file read amplification every
    * fold-forward artifact accumulates). Compact rewrites the lists
    * into one file per bucket (in-file sorted) and copies the centroid
    * artifact, then the FRAGMENTED index is retired — the query path
    * reads only the compacted artifact. Gated against
    * [[simIvfAppendTopK]]'s full-rebuild oracle VERBATIM: compaction
    * is purely physical (row set and `gen` stamps identical, only file
    * layout changes), so going through it must change nothing — and
    * the generation structure (two appends here vs one there) must
    * not matter either, because assignment under fixed centroids is
    * per-vector.
    */
  def simIvfCompactTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IvfIndex
    val all = vecs(s, dir)
    val isBatch = col("vec_id") % 7 === 0
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_cpt").toString
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val stored = IvfIndex.build(s, all.filter(!isBatch), k = 8, iterations = 3,
      "graft_ivf_cpt_" + sfx, base)
    IvfIndex.append(s, stored, all.filter(isBatch && col("vec_id") % 2 === 0), gen = 1)
    IvfIndex.append(s, stored, all.filter(isBatch && col("vec_id") % 2 =!= 0), gen = 2)
    val cbase = java.nio.file.Files.createTempDirectory("graft_ivf_cptc").toString
    val compacted = IvfIndex.compact(s, stored, "graft_ivf_cptc_" + sfx, cbase)
    // compacted artifact intact — retire the fragmented one NOW (the
    // point of compaction), and the previous invocation's compacted one
    s.sql(s"DROP TABLE IF EXISTS ${stored.listsTable}")
    deleteTree(java.nio.file.Paths.get(base))
    retirePrev(ivfCompactPrev, s, compacted.listsTable, cbase)
    // query path — compacted artifacts only
    val centroids = IvfIndex.readCentroids(s, compacted)
    val lists = s.table(compacted.listsTable)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_vec"), col("cid"))
    val probes = KMeans.probe(all.filter(col("vec_id") % 25 === 0), centroids, nprobe = 2)
      .select(col("vec_id").as("query_id"), col("v").as("q_vec"), col("cid"))
    ivfScore(lists, probes)
  }

  /** Drift-triggered MAINTENANCE (operators.IvfIndex.maintain): the
    * decision half of incremental index upkeep — assign the batch
    * under the frozen centroids, and either FOLD it in (every list
    * healthy) or RETRAIN from scratch (some list tripped). On this
    * fixture the plain % 7 batch trips nothing (spec- and
    * drift-gate-pinned), so the append branch runs; the oracle doesn't
    * assume that — it computes the same trigger over the same exact
    * integer sums and guards BOTH branch queries with it, so the gate
    * proves the decision, not just the branch's arithmetic. The
    * `retrained` column carries the decision into the hashed output.
    */
  def simIvfMaintainTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IvfIndex
    val all = vecs(s, dir)
    val isBatch = col("vec_id") % 7 === 0
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_mnt").toString
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val stored = IvfIndex.build(s, all.filter(!isBatch), k = 8, iterations = 3,
      "graft_ivf_mnt_" + sfx, base)
    val rbase = java.nio.file.Files.createTempDirectory("graft_ivf_mntr").toString
    val (live, retrained) = IvfIndex.maintain(s, stored, all.filter(isBatch), gen = 1,
      k = 8, iterations = 3, "graft_ivf_mntr_" + sfx, rbase)
    retireDeadBranch(s, stored, base, rbase, retrained)
    retirePrev(ivfMaintainPrev, s, live.listsTable, if (retrained) rbase else base)
    maintainResult(s, live, all, retrained)
  }

  /** The retrain branch of [[simIvfMaintainTopK]], forced by a batch
    * that has genuinely drifted: every component of the % 7 batch's
    * embeddings shifts by +3.0 (squared residuals against the frozen
    * centroids jump from ~0.93 to ~64·9 — the fixture's analogue of an
    * upstream embedding-model swap, the event this trigger exists to
    * catch). `maintain` rebuilds with fresh k-means over corpus ∪
    * drifted batch; the oracle replays the SAME trigger and unrolls
    * the fresh Lloyd iterations over the union, both branches guarded
    * — so the pair of maintain gates proves both decision outcomes
    * end-to-end at both SFs.
    */
  def simIvfMaintainRetrain(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IvfIndex
    val all = vecs(s, dir)
    val isBatch = col("vec_id") % 7 === 0
    val drifted = all.filter(isBatch).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double") + lit(3.0)).as("embedding"))
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_mrt").toString
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val stored = IvfIndex.build(s, all.filter(!isBatch), k = 8, iterations = 3,
      "graft_ivf_mrt_" + sfx, base)
    val rbase = java.nio.file.Files.createTempDirectory("graft_ivf_mrtr").toString
    val (live, retrained) = IvfIndex.maintain(s, stored, drifted, gen = 1,
      k = 8, iterations = 3, "graft_ivf_mrtr_" + sfx, rbase)
    retireDeadBranch(s, stored, base, rbase, retrained)
    retirePrev(ivfMaintainRtPrev, s, live.listsTable, if (retrained) rbase else base)
    val union = all.filter(!isBatch)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
      .unionByName(drifted)
    maintainResult(s, live, union, retrained)
  }

  /** Query the maintained index (whichever branch produced it) and
    * stamp the decision into the output: probes are the % 25 slice of
    * the post-maintenance corpus, scored against the LIVE stored lists
    * under the LIVE centroid artifact.
    */
  private def maintainResult(s: SparkSession, live: graft.operators.IvfIndex.Stored,
                             corpus: DataFrame, retrained: Boolean): DataFrame = {
    val centroids = graft.operators.IvfIndex.readCentroids(s, live)
    val lists = s.table(live.listsTable)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_vec"), col("cid"))
    val probes = KMeans.probe(corpus.filter(col("vec_id") % 25 === 0), centroids, nprobe = 2)
      .select(col("vec_id").as("query_id"), col("v").as("q_vec"), col("cid"))
    ivfScore(lists, probes).withColumn("retrained", lit(retrained))
  }

  /** Top-k over int8-quantized vectors (Similarity.quantizeInt8): the
    * scoring runs entirely on the TINYINT codes (integer dot products —
    * the SIMD-friendly form real int8 ANN uses); per-vector scale
    * cancels in cosine, so ranks match dequantized scoring exactly.
    */
  def simQuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    // int8 codes as a double view (every term is an exact integer
    // < 2^53, so integer-code cosine is lossless and engine-portable).
    // quantize_i8d is the native fused quantizer (the composed-HOF
    // form stays in Similarity.quantizeInt8 as the tinyint STORAGE
    // path and the spec-asserted reference). The repartition is a
    // MATERIALIZATION BARRIER, not a distribution choice: codegen
    // defers a stream-side projection into the broadcast-join pair
    // loop, so without it the quantizer re-runs per (query, corpus)
    // PAIR — measured 2.5 s vs 0.5 s exact at sf0.1; with the codes
    // materialized through the exchange the loop streams stored
    // values (0.6 s). Production reads codes pre-encoded from
    // storage; the bench-only re-encode pays one tiny exchange of
    // the 32×-compressed codes (PLANS.md lesson 12/18).
    val qz = vecs(s, dir).select(col("vec_id"),
      call_function("quantize_i8d", col("embedding")).as("qd"))
      .repartition(col("vec_id"))
    Similarity.bruteForceTopK(
      qz, qz.filter(col("vec_id") % 25 === 0), k = 5, vecCol = "qd")
  }

  /** Matryoshka-truncated search (MRL, Kusupati et al. 2022): top-k over
    * the FIRST 8 dimensions only — the cheap-first-pass form
    * matryoshka-trained embeddings enable (prefix dims carry the
    * coarse signal; full-dim re-rank follows on the shortlist). Scale:
    * 8/64 of the dot-product FLOPs and bytes of the exact baseline,
    * same broadcast-scan shape.
    */
  def simMatryoshkaTopK(s: SparkSession, dir: String): DataFrame = {
    val tr = vecs(s, dir).select(col("vec_id"),
      slice(transform(col("embedding"), _.cast("double")), 1, 8).as("embedding"))
    Similarity.bruteForceTopK(tr, tr.filter(col("vec_id") % 25 === 0), k = 5)
  }

  /** Two-stage retrieval (`sim_rerank_two_stage`): the production
    * retrieve-then-rerank verb in its SQ8 form — a cheap INT8-
    * quantized full-dim shortlist (top-50 per query over 8-bit codes,
    * 4× less corpus IO than float32) re-scored with the EXACT
    * full-precision cosine, final top-5 — the FAISS-style scalar-
    * quantized scan + fp32 re-rank. Both leg ranks are emitted
    * (`coarse_rank` beside the final rank) so rank movement between
    * stages is auditable. (A matryoshka prefix shortlist was measured
    * first: recall@5 0.24 on these UNTRAINED synthetic embeddings —
    * prefix concentration is a property of matryoshka training, not
    * of vectors in general; the quantized scan is rank-faithful on
    * any distribution and the spec holds it to ≥ 0.9.)
    *
    * Scale shape (100 TB): stage 1 scans compressed codes (swap in
    * IVF/PQ for the shortlist like the rest of the family); stage 2
    * joins the ≤ 50·|queries|-row shortlist back to full vectors —
    * negligible against the corpus scan it replaces.
    */
  def simRerankTwoStage(s: SparkSession, dir: String): DataFrame = {
    val full = vecs(s, dir).select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("vec"))
    // int8 codes as exact-integer doubles; the repartition is the
    // materialization barrier of PLANS.md #18 (simQuantizedTopK's shape)
    val qz = vecs(s, dir).select(col("vec_id"),
        call_function("quantize_i8d", col("embedding")).as("qd"))
      .repartition(col("vec_id"))
    val shortlist = Similarity.bruteForceTopK(
        qz, qz.filter(col("vec_id") % 25 === 0), k = 50, vecCol = "qd")
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("coarse_rank"))
    val rr = shortlist
      .join(full.select(col("vec_id").as("neighbor_id"), col("vec").as("c_vec")),
        "neighbor_id")
      .join(broadcast(full.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("vec").as("q_vec"))), "query_id")
      .withColumn("score", Similarity.cosine(col("q_vec"), col("c_vec")))
    LatestPerKey.topKRanked(rr, 5, Seq(col("query_id")),
        Seq(col("score").desc_nulls_last, col("neighbor_id").asc_nulls_first))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("score"), 6).as("score"), col("coarse_rank"))
  }

  /** Product-quantized (ADC) top-k: corpus stored as ONE packed BIGINT of
    * 8×4-bit subspace codes (32× less than float32 at D=64); queries
    * score codes against per-query lookup tables — no D-dim arithmetic
    * per corpus row, no corpus shuffle (Similarity.pqTopK; Jégou 2011).
    * The deterministic codebook stand-in mirrors simIvfTopK's centroid
    * convention, so the whole encode→ADC pipeline hash-gates.
    */
  def simPqTopK(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    Similarity.pqTopK(all, all.filter(col("vec_id") % 25 === 0), k = 5)
  }

  /** IVF-PQ: probed inverted lists × packed PQ codes with ADC scoring —
    * the composed production ANN architecture (Similarity.ivfPqTopK);
    * both approximation layers replayed by the DuckDB twin.
    */
  def simIvfpqTopK(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    Similarity.ivfPqTopK(all, all.filter(col("vec_id") % 25 === 0), k = 5)
  }

  /** Recall@5 of each approximate ANN path (hyperplane-LSH, IVF) against
    * the exact brute-force baseline, per query — the quality gate the
    * per-query hash-match cannot provide (each approximate query only
    * matches its own oracle's identical approximation; a silent recall
    * regression would still hash-match). Scale shape: the exact and
    * approximate top-k sets are tiny (queries × k rows), so the join is
    * a broadcast and the whole metric costs one extra corpus scan per
    * method.
    */
  def simAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = simCosineTopK(s, dir).select("query_id", "neighbor_id")
    def recallOf(method: String, approx: DataFrame): DataFrame =
      exact.join(
          approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(lit(method).as("method"), col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / 5.0).as("recall_at_5"))
    recallOf("lsh", simAnnLshTopK(s, dir))
      .unionByName(recallOf("ivf", simIvfTopK(s, dir)))
      .unionByName(recallOf("pq", simPqTopK(s, dir)))
      .unionByName(recallOf("ivfpq", simIvfpqTopK(s, dir)))
      // r7: every approximate path carries the quality metric — the
      // 8/64-dim prefix and the int8 quantization are approximations
      // too, and a silent collapse in either would still hash-match
      .unionByName(recallOf("matryoshka", simMatryoshkaTopK(s, dir)))
      .unionByName(recallOf("int8", simQuantizedTopK(s, dir)))
      // r9: the appended stored index carries the quality metric too —
      // frozen-centroid assignment of the batch must not silently cost
      // recall relative to the other IVF paths
      .unionByName(recallOf("ivf_append", simIvfAppendTopK(s, dir)))
  }

  /** Embedding near-dup: every 10th vector re-appears deterministically
    * perturbed (index-patterned additive noise — cosine is scale-invariant
    * so a multiplicative copy would be a degenerate test); pairs with
    * cosine ≥ 0.95 among banded-LSH candidates (4 bands × 4 bits, bucket
    * cap via Buckets.boundedMembers — same recall/scale shape as the
    * minhash/simhash dedups) survive.
    */
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(withPerturbedVecs(s, dir), threshold = 0.95, nBits = 16, bands = 4)

  // ===== multimodal & streaming =====

  /** Binary-payload feature extraction over a real ImageIO encode→decode
    * round trip (see Multimodal.documentFeatures).
    */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.documentFeatures(docs(s, dir))

  /** Audio-modality twin: WAV binary column → per-partition header
    * decode via the JDK's javax.sound codec (see Multimodal
    * .audioFeatures) — the oracle predicts rate/samples/duration from
    * the digest contract, so a match proves the codec round trip.
    */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFeatures(docs(s, dir))

  /** Video-modality twin: GVID container binary column → header parse +
    * every-4th-frame sampled decode (see Multimodal.videoFeatures) —
    * the oracle predicts header fields and frame dims from the digest
    * contract, so a match proves the container round trip AND that the
    * sampled frames really decoded.
    */
  def multimodalVideo(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoFeatures(docs(s, dir))

  /** Streaming (AvailableNow) hourly window agg — must equal the batch
    * `events_hourly_agg` result exactly.
    */
  def streamingHourlyAgg(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingHourlyAgg(s, dir)

  /** In-flight expectation suite — per-window quality metrics on the
    * event stream, equal to the batch audit (see
    * [[StreamingStage.qualityMetrics]]).
    */
  def streamingExpectationSuite(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingExpectationSuite(s, dir)

  /** Exactly-once streaming publish: the hourly agg through an
    * idempotent batchId-keyed foreachBatch file sink, read back from
    * the committed artifact (see [[StreamingStage.commitBatch]]).
    */
  def streamingPublishExactlyOnce(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingPublishExactlyOnce(s, dir)

  /** Stream–static join: event stream enriched with the customer
    * dimension, aggregated per segment — must equal the batch join+agg.
    */
  def streamingEnrichStatic(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingEnrichStatic(s, dir)

  /** Streaming hourly distinct-user KMV estimates — the sketch as
    * bounded streaming state (see StreamingStage.streamingDistinctUsers).
    */
  def streamingDistinctUsers(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingDistinctUsers(s, dir)

  /** Streaming dedup of a duplicated stream — must equal the base table. */
  def streamingDedupEvents(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingDedupEvents(s, dir)

  /** In-flight compliance purge: the stream filtered against the delete
    * roster before any state/sink, audited per event_type — the
    * streaming face of [[pipelineDeletePropagate]].
    */
  def streamingDeletePropagate(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingDeletePropagate(s, dir)

  /** Stateful streaming sessionization (flatMapGroupsWithState) — must
    * equal the batch window-function sessionization.
    */
  def streamingSessionize(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingSessionize(s, dir)

  /** The same sessionization through Spark 4's transformWithState
    * (StatefulProcessor + explicit timers + RocksDB state store) —
    * gated against the identical batch oracle, proving the
    * flatMapGroupsWithState -> transformWithState migration changes
    * nothing.
    */
  def streamingSessionizeTws(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingSessionizeTws(s, dir)

  /** Incremental staging: clean_contacts_primary maintained as keyed
    * streaming state — must equal the batch staged view.
    */
  def streamingLatestContact(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingLatestContact(s, dir)

  def streamingIntervalJoin(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamStreamAttribution(s, dir)

  /** Native session_window sessionization (see StreamingStage). */
  def streamingSessionWindow(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamingSessionWindow(s, dir)

  /** LEFT OUTER stream-stream interval join (watermark-sentinel flush —
    * see StreamingStage.streamStreamAttributionOuter); equals the batch
    * LEFT JOIN exactly.
    */
  def streamingIntervalJoinOuter(s: SparkSession, dir: String): DataFrame =
    StreamingStage.streamStreamAttributionOuter(s, dir)

  /** One-pass data profile of the derived activities (the QA tool a
    * pipeline runs before trusting a new input drop) — HLL distinct
    * counts (the 100 TB default; engine-specific estimates → rows-only
    * gate).
    */
  def qaProfileActivities(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.profile(Derive.stgActivities(s, dir))

  /** Exact-distinct profile variant (opt-in; plans Spark's multi-distinct
    * Expand — fine at QA scale, hash-gated against the DuckDB oracle).
    */
  def qaProfileActivitiesExact(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.profile(Derive.stgActivities(s, dir), approxDistinct = false)

  // ===== round 7: compliance, ordering, and mixing ops =====

  /** Right-to-be-forgotten propagation with a compliance audit. The
    * deterministic delete roster (every 97th user — standing in for the
    * received requests table) is purged from the raw events layer AND
    * the derived activities layer, and the output is the per-layer audit
    * a compliance review signs off on: rows before, rows after, rows
    * purged, and — the row that matters — `n_leaked`, the count of
    * surviving rows that still satisfy the compliance rule, re-derived
    * from the rule itself rather than from the purge-side roster frame
    * (so a roster-derivation bug shows up as a nonzero audit row instead
    * of cancelling out of both sides).
    *
    * Scale shape: the roster is tiny relative to the corpus (~1% of
    * users), so both purges are broadcast LEFT ANTI joins — no shuffle
    * of the 100 TB side, one scan per layer; the audit aggregates are
    * map-side-combined counts. The leak check reuses the same broadcast.
    */
  def pipelineDeletePropagate(s: SparkSession, dir: String): DataFrame = {
    // the roster derivation is its own full events scan, and it feeds
    // SIX join branches (marked + anti + semi, per layer) — without a
    // checkpoint each branch re-derives it (13 executed events scans
    // measured; 6 after). The checkpointed roster is ~1% of users:
    // tiny files, one scan, every branch broadcasts from it.
    // NOTE: Dataset.checkpoint() is EAGER — constructing this frame runs
    // the roster scan immediately (the price of the single-scan
    // guarantee); plan-only callers should expect the job.
    val roster = graft.operators.Checkpoints.materialize(
      Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .filter(col("user_id") % 97 === 0))
    val layers = Seq(
      "events" -> Tables.events(s, dir)
        .select(col("user_id").cast("string").as("subject_key")),
      "stg_activities" -> Derive.stgActivities(s, dir)
        .select(col("account_id").as("subject_key")))
    val rosterKeys = roster
      .select(col("user_id").cast("string").as("subject_key"), lit(1).as("__hit"))
    layers.map { case (layer, rows) =>
      // one scan for before/after/purged: broadcast LEFT join marks the
      // roster rows, conditional counts split them — not three separate
      // count(*) passes over the 100 TB layer
      val marked = rows.join(broadcast(rosterKeys), Seq("subject_key"), "left")
      val audit = marked.agg(
        count(lit(1)).as("n_before"),
        count(when(col("__hit").isNull, lit(1))).as("n_after"),
        count(col("__hit")).as("n_purged"))
      // the leak check deliberately does NOT reuse the purge-side roster
      // frame: anti-join-then-semi-join on the same frame is empty by
      // construction, so a bug in roster derivation (wrong cast, dropped
      // keys) would corrupt purge and check identically and the audit
      // could never catch it. Instead the check re-states the compliance
      // RULE itself (user_id % 97 == 0; the stand-in for "appears in the
      // requests table") against the surviving rows — an independent
      // derivation that goes nonzero if the roster frame and the rule
      // ever disagree. The oracle recomputes this same count in SQL.
      val leaked = rows.join(broadcast(rosterKeys), Seq("subject_key"), "left_anti")
        .filter(col("subject_key").cast("long") % 97 === 0)
        .agg(count(lit(1)).as("n_leaked"))
      audit.crossJoin(leaked).select(
        lit(layer).as("layer"),
        col("n_before"), col("n_after"), col("n_purged"), col("n_leaked"))
    }.reduce(_.unionByName(_))
  }

  /** Deterministic seeded global shuffle for training-data ordering:
    * every doc gets a shard (one training file at scale) and a position
    * within it, both pure functions of (doc_id, seed) — re-running the
    * pipeline, or resuming it after a crash, reproduces the exact byte
    * order a training run needs for checkpoint-consistent data loading.
    *
    * Scale shape: the md5 shuffle key never leaves the row, shards are
    * hash-balanced (32 here; O(corpus/file-size) in production), and the
    * ordering window partitions BY SHARD — each shard sorts
    * independently in parallel, so there is no global single-partition
    * sort anywhere in the plan.
    */
  def pipelineShuffleDeterministic(s: SparkSession, dir: String): DataFrame = {
    val seed = 42
    val key = md5(concat(col("doc_id").cast("string"), lit(s":$seed")).cast("binary"))
    import org.apache.spark.sql.expressions.Window
    docs(s, dir)
      .select(col("doc_id"), key.as("shuffle_key"),
        (conv(substring(key, 1, 2), 16, 10).cast("long") % 32).as("shard"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("shuffle_key").asc_nulls_first,
            col("doc_id").asc_nulls_first)).cast("long"))
  }

  /** Diversity-balanced subset selection: every embedding is assigned to
    * its trained k-means cell (the same offline centroids the IVF index
    * stores), and each cell contributes an equal quota of 10 docs picked
    * in deterministic digest order — the cheap, distributed stand-in for
    * greedy k-center selection when curating a finetuning subset that
    * must not collapse onto the dominant mode of the corpus.
    *
    * Scale shape: centroids broadcast (the [[graft.operators.KMeans]]
    * nearest expression — assignment is shuffle-free), then ONE shuffle
    * on cid for the per-cell quota window, which NativeTopKRule's
    * bounded-heap machinery or WindowGroupLimit keeps at O(quota) state
    * per cell. The md5 pick order makes the sample reproducible AND
    * unbiased w.r.t. ingestion order — re-curation after an append
    * changes only cells whose membership changed.
    */
  def sampleDiversityQuota(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = vecs(s, dir)
    val centroids = KMeans.fit(all, k = 8, iterations = 3)
    val sampleKey = md5(col("vec_id").cast("string").cast("binary"))
    KMeans.probe(all, centroids, nprobe = 1)
      .select(col("cid"), col("vec_id"), sampleKey.as("sample_key"))
      .withColumn("pick_rank", row_number().over(
        Window.partitionBy(col("cid"))
          .orderBy(col("sample_key").asc_nulls_first,
            col("vec_id").asc_nulls_first)).cast("long"))
      .filter(col("pick_rank") <= 10)
  }

  /** Snapshot-over-snapshot distribution drift monitor (the QA gate a
    * production corpus runs before accepting a new drop): per
    * (source, lang) stratum, yesterday's share vs today's in exact ppm
    * integer arithmetic, flagged when the shift exceeds 0.5%. Yesterday
    * is the deterministic `doc_id % 10 != 0` subset — today's drop adds
    * the remaining tenth, so strata whose composition shifts get
    * nonzero deltas the gate replays exactly.
    *
    * Scale shape: ONE corpus scan — both snapshots' counts come from
    * conditional aggregation in the same map-side-combined groupBy, and
    * the totals are a window over the already-tiny stratum frame (an
    * agg-subtree total would re-scan the corpus: Catalyst does not
    * dedupe a frame consumed by two DAG branches, PLANS.md lesson 24).
    */
  def qaSnapshotDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    val per = docs(s, dir)
      .groupBy(col("source"), col("lang"))
      .agg(
        count(when(col("doc_id") % 10 =!= 0, lit(1))).as("n_old"),
        count(lit(1)).as("n_new"))
    per
      .withColumn("__to", sum(col("n_old")).over(all))
      .withColumn("__tn", sum(col("n_new")).over(all))
      .select(
        col("source"), col("lang"), col("n_old"), col("n_new"),
        expr("n_old * 1000000 DIV __to").as("share_old_ppm"),
        expr("n_new * 1000000 DIV __tn").as("share_new_ppm"),
        abs(expr("n_new * 1000000 DIV __tn") - expr("n_old * 1000000 DIV __to"))
          .as("delta_ppm"))
      .withColumn("drifted",
        (col("delta_ppm") > 5000).cast("boolean"))
      .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)
  }

  /** Temperature-scaled source mixing (the multi-source LLM-corpus
    * weighting scheme): raw source shares p_i are flattened to
    * w_i ∝ p_i^(1/τ) with τ=2, and a fixed token budget is allocated
    * proportionally — tail sources get upweighted relative to their raw
    * share. τ=2 is realized as an INTEGER square root
    * (`floor(sqrt(n_tokens))`) so every downstream number is exact
    * BIGINT arithmetic: ppm shares and DIV allocations, no
    * summation-order-dependent doubles anywhere (IEEE sqrt is correctly
    * rounded on both engines, and for n ≪ 2^52 its floor is exact).
    *
    * Scale shape: one map-side-combined groupBy(source) over the corpus
    * (the only full scan), then the per-source table is tiny — the
    * Σw normalizer is a window over it, not an agg subtree that would
    * re-scan the corpus (PLANS.md lesson 24).
    */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 1000000L // token budget to allocate across sources
    val all = Window.partitionBy()
    val w = floor(sqrt(col("n_tokens").cast("double"))).cast("long")
    val perSource = docs(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("w_sqrt", w)
    perSource
      .withColumn("__tot", sum(col("n_tokens")).over(all))
      .withColumn("__sum_w", sum(col("w_sqrt")).over(all))
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("w_sqrt"),
        expr("n_tokens * 1000000 DIV __tot").as("share_raw_ppm"),
        expr("w_sqrt * 1000000 DIV __sum_w").as("share_temp_ppm"),
        expr(s"$budget * w_sqrt DIV __sum_w").as("alloc_tokens"))
      .orderBy(col("source").asc_nulls_first)
  }

  // ===== round 8: delete propagation into stored state artifacts =====

  /** The state-purge roster over a doc corpus: every 89th id (base OR
    * planted copy — 1000000 ≡ 85 (mod 89), so copies purge on a
    * different base residue than their originals, exercising canonical
    * re-election, surviving-copy, and both-purged arms). Stands in for
    * the received-requests table, like `% 97` does for the layer purge.
    */
  private def purgeRule(idCol: String = "doc_id"): Column = col(idCol) % 89 === 0

  private val purgeDigestPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Delete propagation into the stored EXACT-dedup digest state,
    * committed write-audit-publish: v1 publishes the full-corpus
    * (digest → canonical) map, the purge reads v1 back THROUGH THE
    * POINTER (the stored-state path, not an in-memory shortcut),
    * re-elects canonicals from surviving holders
    * ([[operators.StatePurge.purgeDigestState]]), publishes v2 with an
    * audit that independently re-derives the compliance rule against
    * the read-back rows, then RETIRES the v1 history — old versions
    * full of purged ids are physically deleted with number-burning
    * markers ([[operators.Publish.retireHistory]]). Result = the v2
    * read; oracle = `digestState` recomputed from scratch over the
    * purged corpus, so the hash match proves re-election loses nothing
    * and invents nothing vs a full rebuild.
    */
  def pipelinePurgeDigestState(s: SparkSession, dir: String): DataFrame = {
    import operators.{IncrementalDedup, Publish, StatePurge}
    val all = withExactDups(docs(s, dir))
    val root = java.nio.file.Files.createTempDirectory("graft_purge_digest").toString
    val stateAudit: DataFrame => Unit = st => {
      require(st.filter(col("digest").isNull || col("canonical_id").isNull).isEmpty,
        "state audit: null digest or canonical_id")
      require(st.groupBy("digest").count().filter(col("count") > 1).isEmpty,
        "state audit: digest key not unique")
    }
    Publish.publish(IncrementalDedup.digestState(all), root, stateAudit)
    val v1 = Publish.read(s, root)
    val roster = all.filter(purgeRule()).select(col("doc_id").as("id"))
    val survivors = all.filter(!purgeRule())
      .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
    val purgedAudit: DataFrame => Unit = st => {
      stateAudit(st)
      // the compliance check re-states the RULE against what landed on
      // disk — independent of the roster frame the purge consumed
      require(st.filter(purgeRule("canonical_id")).isEmpty,
        "purge audit: a roster id survived as canonical_id")
    }
    Publish.publish(StatePurge.purgeDigestState(v1, survivors, roster), root, purgedAudit)
    Publish.retireHistory(root)
    Option(purgeDigestPrev.getAndSet(root))
      .foreach(p => deleteTree(java.nio.file.Paths.get(p)))
    Publish.read(s, root)
  }

  /** Delete propagation into the stored minhash BAND state, proven by
    * the operation the state exists for: after purging the corpus
    * roster out of the band members
    * ([[operators.StatePurge.purgeBandState]] — member filter +
    * recomputed counts, bucket-local by band), the NEXT day's batch
    * runs the usual incremental detector against the purged state.
    * Oracle = the full-recompute detector over (corpus \ roster) ∪
    * batch restricted to batch-touching pairs — identical shape to
    * `pipeline_dedup_incremental`'s gate, so a hash match proves the
    * purged state behaves exactly like a state rebuilt from the purged
    * corpus (no pair against a purged doc, no lost pair between
    * survivors). Precondition (spec-pinned, same as the incremental-
    * clusters cap rule): no saturated band holds a roster member —
    * [[operators.StatePurge.affectedSaturatedBands]] is the
    * re-signature trigger past it.
    */
  def pipelinePurgeBandPairs(s: SparkSession, dir: String): DataFrame = {
    import operators.{IncrementalDedup, StatePurge}
    val nd = withNearDups(docs(s, dir))
    val isBatch = col("doc_id") % 7 === 0
    val state = IncrementalDedup.bandState(minhashBanded(nd.filter(!isBatch)))
    val roster = nd.filter(!isBatch && purgeRule()).select(col("doc_id").as("id"))
    val purged = StatePurge.purgeBandState(state, roster)
    IncrementalDedup.pairsAgainst(purged, minhashBanded(nd.filter(isBatch)))
  }

  /** Near-dup pairs for an id subset — the re-solve detector
    * [[pipelinePurgeClusters]] hands to
    * [[operators.StatePurge.purgeClusters]]: re-signature the subset
    * (cost ∝ subset) and run the one-shot band detector on it alone.
    * Equals the global detector restricted to the subset under the
    * bucket-cap precondition (no band at the cap — spec-pinned).
    */
  private def ndPairsAmong(nd: DataFrame)(ids: DataFrame): DataFrame = {
    import operators.IncrementalDedup
    val sub = nd.join(broadcast(ids.select(col("id").as("doc_id"))),
      Seq("doc_id"), "left_semi")
    val banded = minhashBanded(sub)
    IncrementalDedup.pairsAgainst(IncrementalDedup.bandState(banded.limit(0)), banded)
      .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
  }

  /** Delete propagation into stored CLUSTER LABELS — decremental
    * connected components: purging a doc removes its pairs, which can
    * SPLIT a component (the purged doc may be the only bridge), so the
    * maintenance is component-local re-solve, not min-relabeling
    * ([[operators.StatePurge.purgeClusters]] — untouched components
    * pass through verbatim, affected ones re-solve over survivors with
    * re-derived pairs, cost ∝ affected). Oracle = the full re-cluster
    * over the purged corpus (the `pipeline_dedup_canonical` CTEs with
    * the roster filtered out), so splits, re-elected minima, and
    * untouched labels all hash-match a from-scratch rebuild.
    */
  def pipelinePurgeClusters(s: SparkSession, dir: String): DataFrame = {
    import operators.{ConnectedComponents, IncrementalDedup, StatePurge}
    val nd = withNearDups(docs(s, dir))
    // "yesterday's stored labels": the converged full-corpus components
    val banded = minhashBanded(nd)
    val pairs = IncrementalDedup.pairsAgainst(
      IncrementalDedup.bandState(banded.limit(0)), banded)
    val labels = ConnectedComponents.solveAuto(
      nd.select(col("doc_id").as("id")),
      pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")))
    val roster = nd.filter(purgeRule()).select(col("doc_id").as("id"))
    StatePurge.purgeClusters(labels, roster, ndPairsAmong(nd))
      .select(col("id").as("doc_id"), col("component"),
        (col("id") === col("component")).as("keep"))
  }

  /** Cluster-aware train/val/test split with a leakage audit
    * (`pipeline_split_by_cluster`): the training-data hygiene verb —
    * a random per-DOCUMENT split leaks near-duplicates across the
    * train/eval boundary (the eval set then scores memorization, not
    * generalization), so the split unit must be the near-dup CLUSTER:
    * MinHash-LSH pairs → connected components → every doc in a
    * component inherits the split of its component id under a
    * deterministic multiplicative hash (Knuth's 2654435761 mod 2^32;
    * for id domains near 2^63 swap in a 128-bit mixer — the gate
    * corpus ids are ≤ ~1e6 so the product stays exact). 80/10/10
    * train/val/test. The gate AUDITS the claim from the output — the
    * cross-split near-dup pair count is require()d ZERO — and guards
    * against vacuousness by require()ing the naive per-doc hash split
    * DOES leak on this corpus. Oracle restates pairs → components →
    * split → per-split rollup, so sizes, cluster counts, and id sums
    * all hash-match.
    *
    * Scale shape (100 TB): pairs and components are the already-
    * bucketed dedup machinery (never all-pairs); the split is one
    * deterministic projection; the audit is pairs ⋈ two 2-column
    * maps — ∝ pairs, not corpus².
    */
  def pipelineSplitByCluster(s: SparkSession, dir: String): DataFrame = {
    import operators.{ConnectedComponents, IncrementalDedup}
    val nd = withNearDups(docs(s, dir))
    val banded = minhashBanded(nd)
    val pairs = IncrementalDedup.pairsAgainst(
      IncrementalDedup.bandState(banded.limit(0)), banded)
    val labels = ConnectedComponents.solveAuto(
      nd.select(col("doc_id").as("id")),
      pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")))
    def splitOf(c: Column): Column = {
      val b = pmod(pmod(c * lit(2654435761L), lit(4294967296L)), lit(10L))
      when(b < 8, lit("train")).when(b === 8, lit("val")).otherwise(lit("test"))
    }
    val asg = labels.select(col("id").as("doc_id"), col("component"),
      splitOf(col("component")).as("split"))
    def leakedPairs(a: DataFrame): Long =
      pairs.join(a.select(col("doc_id").as("doc_id_1"), col("split").as("s1")),
          Seq("doc_id_1"))
        .join(a.select(col("doc_id").as("doc_id_2"), col("split").as("s2")),
          Seq("doc_id_2"))
        .filter(col("s1") =!= col("s2")).count()
    require(leakedPairs(asg) == 0L,
      "cluster split leaked a near-dup pair across splits")
    require(leakedPairs(nd.select(col("doc_id"),
        splitOf(col("doc_id")).as("split"))) > 0L,
      "split gate vacuous: the naive per-doc split does not leak here")
    asg.groupBy("split").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("component")).as("n_clusters"),
      sum(col("doc_id")).as("sum_ids"))
  }

  private val ivfPurgePrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  /** Delete propagation into the stored IVF index: roster vectors are
    * dropped from the cid-bucketed assignment lists by a broadcast
    * LEFT ANTI join and the lists are PHYSICALLY rewritten in the
    * compact shape (one bucket-keyed shuffle, one file per bucket) —
    * a purged row must not survive in old parquet files, so the purge
    * is a rewrite, not a logical filter. Centroids are NOT retrained:
    * they are aggregate model parameters (no per-subject rows), and
    * retraining on purge would change every assignment — the drift
    * metric owns retraining. Oracle = assignment of the purged corpus
    * under the SAME full-corpus-trained centroids + top-k over
    * surviving queries, so the hash match proves the purged stored
    * index equals a rebuild-under-frozen-centroids over the purged
    * corpus.
    */
  def simIvfPurgeTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IvfIndex, KMeans}
    val all = vecs(s, dir)
    val vecRule = purgeRule("vec_id")
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_prg").toString
    val tbl = "graft_ivf_prg_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val stored = IvfIndex.build(s, all, k = 8, iterations = 3, tbl, base)
    val roster = all.filter(vecRule).select(col("vec_id").as("__pid"))
    val base2 = java.nio.file.Files.createTempDirectory("graft_ivf_prgd").toString
    val tbl2 = "graft_ivf_prgd_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    IvfIndex.purge(s, stored, roster, tbl2, base2)
    // the unpurged index is dead within this invocation (it still holds
    // roster rows); the purged one follows the cross-invocation lifecycle
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    deleteTree(java.nio.file.Paths.get(base))
    retirePrev(ivfPurgePrev, s, tbl2, base2)
    val centroids = IvfIndex.readCentroids(s, IvfIndex.Stored(tbl2, base2))
    val lists = s.table(tbl2)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_vec"), col("cid"))
    val probes = KMeans.probe(all.filter(col("vec_id") % 25 === 0 && !vecRule),
        centroids, nprobe = 2)
      .select(col("vec_id").as("query_id"), col("v").as("q_vec"), col("cid"))
    ivfScore(lists, probes)
  }

  private val purgeStatePrev =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Seq.empty)

  /** The HEADLINE compliance gate (VERDICT r7 #1): delete propagation
    * across the stored text-state artifacts — digest→canonical map,
    * minhash band state, cluster labels — each committed
    * write-audit-publish (v1 = pre-purge, v2 = purged, history
    * retired), returning the per-artifact audit a compliance review
    * signs off on:
    *   - `n_before` / `n_after`: artifact rows in v1 / published v2
    *     (both measured from pointer read-backs, not plans);
    *   - `n_refs_purged`: subject references removed (digest rows
    *     whose canonical was a roster id; band MEMBER ENTRIES dropped;
    *     label rows dropped);
    *   - `n_leaked`: surviving references that satisfy the compliance
    *     RULE, probed on the published v2 read-back independently of
    *     the roster frame the purge consumed (the de-tautologized
    *     check — a roster-derivation bug shows up here);
    *   - `n_stale_versions`: live version dirs other than the current
    *     one after [[operators.Publish.retireHistory]] — the
    *     filesystem probe proving old versions full of purged ids are
    *     physically gone, not merely superseded.
    * The oracle recomputes every count from the purged corpus from
    * scratch (n_stale_versions is pinned 0 — a filesystem fact DuckDB
    * cannot see; the Spark side measures it by listing the store).
    * The IVF artifact has its own content-level gate
    * (`sim_ivf_purge_topk`); StatePurgeSpec greps EVERY stored
    * artifact — these three plus the IVF lists — for roster ids.
    */
  def pipelineDeletePropagateState(s: SparkSession, dir: String): DataFrame = {
    import operators.{ConnectedComponents, IncrementalDedup, Publish, StatePurge}
    val roots = Seq("digest", "band", "labels")
      .map(n => n -> java.nio.file.Files.createTempDirectory(s"graft_prg_$n").toString)
      .toMap

    val nd = withNearDups(docs(s, dir))
    val ndRoster = nd.filter(purgeRule()).select(col("doc_id").as("id"))
    // the banded frame feeds TWO artifact builds (band state, and the
    // pair stream behind the cluster labels) — signature it once; the
    // managed checkpoint stops Catalyst re-running the shingle/minhash
    // HOF pipeline per consumer (PLANS.md lesson 24). NOTE: eager — the
    // signature job runs at construction time, BEFORE the family
    // threads fork (both consume the checkpointed files).
    val banded = graft.operators.Checkpoints.materialize(minhashBanded(nd))

    // --- digest state ---
    def digestFamily(): (String, Long, Long, Long, Long, Long) = {
      val all = withExactDups(docs(s, dir))
      Publish.publish(IncrementalDedup.digestState(all), roots("digest"))
      val dv1 = Publish.read(s, roots("digest"))
      val docRoster = all.filter(purgeRule()).select(col("doc_id").as("id"))
      val survivors = all.filter(!purgeRule())
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
      Publish.publish(
        StatePurge.purgeDigestState(dv1, survivors, docRoster), roots("digest"),
        st => require(st.filter(purgeRule("canonical_id")).isEmpty,
          "purge audit: roster id survived as canonical_id"))
      // v1-side counts BEFORE history retirement physically deletes v1
      val dBefore = dv1.count()
      val dRefs = dv1.join(broadcast(docRoster.select(col("id").as("canonical_id"))),
        Seq("canonical_id"), "left_semi").count()
      Publish.retireHistory(roots("digest"))
      val dv2 = Publish.read(s, roots("digest"))
      ("digest_state", dBefore, dv2.count(), dRefs,
        dv2.filter(purgeRule("canonical_id")).count(),
        Publish.staleVersions(roots("digest")).size.toLong)
    }

    // --- band state ---
    def bandFamily(): (String, Long, Long, Long, Long, Long) = {
      Publish.publish(IncrementalDedup.bandState(banded), roots("band"))
      val bv1 = Publish.read(s, roots("band"))
      Publish.publish(
        StatePurge.purgeBandState(bv1, ndRoster), roots("band"),
        st => require(st.select(explode(col("members")).as("m"))
            .filter(purgeRule("m.doc_id")).isEmpty,
          "purge audit: roster id survived in band members"))
      def memberEntries(st: DataFrame): Long =
        st.agg(coalesce(sum(size(col("members"))), lit(0)).cast("long")).head().getLong(0)
      // v1-side counts BEFORE history retirement physically deletes v1
      val bBefore = bv1.count()
      val bEntries1 = memberEntries(bv1)
      Publish.retireHistory(roots("band"))
      val bv2 = Publish.read(s, roots("band"))
      ("band_state", bBefore, bv2.count(),
        bEntries1 - memberEntries(bv2),
        bv2.select(explode(col("members")).as("m")).filter(purgeRule("m.doc_id")).count(),
        Publish.staleVersions(roots("band")).size.toLong)
    }

    // --- cluster labels ---
    def labelsFamily(): (String, Long, Long, Long, Long, Long) = {
      val pairs = IncrementalDedup.pairsAgainst(
        IncrementalDedup.bandState(banded.limit(0)), banded)
      val labels = ConnectedComponents.solveAuto(
        nd.select(col("doc_id").as("id")),
        pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")))
      Publish.publish(labels, roots("labels"))
      val lv1 = Publish.read(s, roots("labels"))
      Publish.publish(
        StatePurge.purgeClusters(lv1, ndRoster, ndPairsAmong(nd)), roots("labels"),
        st => require(st.filter(purgeRule("id") || purgeRule("component")).isEmpty,
          "purge audit: roster id survived in labels"))
      // v1-side counts BEFORE history retirement physically deletes v1
      val lBefore = lv1.count()
      val lRefs = lv1.join(broadcast(ndRoster), Seq("id"), "left_semi").count()
      Publish.retireHistory(roots("labels"))
      val lv2 = Publish.read(s, roots("labels"))
      ("cluster_labels", lBefore, lv2.count(), lRefs,
        lv2.filter(purgeRule("id") || purgeRule("component")).count(),
        Publish.staleVersions(roots("labels")).size.toLong)
    }

    // The three artifact families are INDEPENDENT commit chains on
    // disjoint roots (guide §2.6 "overlap independent jobs"): run them
    // from a small driver pool so one family's action tails and
    // control-plane gaps back-fill with another family's tasks.
    // Values are unchanged by construction — each family computes its
    // own row from its own roots; only wall-clock overlaps. Row order
    // is fixed by the sequence below, not by completion order.
    val rows = Par.run(Seq(
      () => digestFamily(), () => bandFamily(), () => labelsFamily()))

    Option(purgeStatePrev.getAndSet(roots.values.toSeq)).foreach(
      _.foreach(p => deleteTree(java.nio.file.Paths.get(p))))
    import s.implicits._
    rows.toDF("artifact", "n_before", "n_after", "n_refs_purged", "n_leaked",
        "n_stale_versions")
  }

  // ===== driver r8: trained classifier (rule distillation) =====

  /** TRAINED linear text classifier — the centroid (Rocchio) form, the
    * one-pass closed-form trainer that actually fits Spark's execution
    * model at 100 TB. Task: distill the lexicon-argmax language-ID rule
    * ([[textLangId]]) into a dense linear scorer over bag-of-lexicon-word
    * counts — the same distillation shape as CCNet-style quality
    * classifiers (train a cheap linear model to reproduce an expensive
    * labeling rule, then run the linear model everywhere; Wenzek et al.
    * 2020). Labels are derived (y=+1 iff the argmax rule says "en"), a
    * train split is held out (`doc_id % 10 != 0` trains, the rest
    * tests), and the model is w = μ₊ − μ₋ with the midpoint threshold
    * b = w·(μ₊+μ₋)/2 — all in exact ×10⁶ fixed point (truncating
    * division, Spark `DIV` ≡ DuckDB `//`), so training is
    * bit-reproducible under any partitioning and the oracle replays it
    * in SQL.
    *
    * Why this form and not SGD: training is ONE map-side-combined
    * aggregate over the train split (42 conditional integer sums → one
    * driver row, the KMeans-centroid bounded-pull pattern) and scoring
    * is a broadcast of 21 literals into a pure column expression — no
    * per-round corpus scans, no shuffle anywhere. The iterated
    * integer-GD variants (batch perceptron, Jacobi-preconditioned
    * least squares) were prototyped and REJECTED: on the imbalanced
    * distillation label their fixed-point updates oscillate between
    * all-positive and all-negative classifications round over round —
    * measured, not guessed (majority-flip every round at both mean-
    * update and diag/2 steps); the closed form has no such failure
    * mode. Measured holdout accuracy 0.86 vs 0.72 majority baseline at
    * sf0.01 (0.88 vs 0.78 at sf0.1): the distilled model genuinely
    * learns the rule.
    *
    * NOTE: constructing this frame runs the training aggregate eagerly
    * (the driver pull of the 1-row stats frame), like the KMeans fits.
    */
  def pipelineClassifierCentroid(s: SparkSession, dir: String): DataFrame = {
    val S = 1000000L
    val lexWords = langLexicon.map(_._1)
    val langs = langLexicon.map(_._2).distinct.sorted
    val words = split(col("text"), " ")
    val xCols = lexWords.zipWithIndex.map { case (w, i) =>
      size(filter(words, t => t === w)).cast("long").as(s"x$i")
    }
    val byLang: Map[String, Seq[Int]] =
      langLexicon.zipWithIndex.groupMap(_._1._2)(_._2).map { case (k, v) => k -> v.toSeq }
    def langSum(l: String): Column = byLang(l).map(i => col(s"x$i")).reduce(_ + _)
    val gmax = greatest(langs.map(langSum): _*)
    val labeled = docs(s, dir)
      .select(col("doc_id") +: xCols: _*)
      // the distill label: the argmax rule's "en" verdict, ties broken
      // by lang name exactly as textLangId does (en wins a tie unless
      // de — earlier in the name order — is also at the max)
      .withColumn("label",
        when(langSum("en") === gmax && langSum("de") < gmax, 1L).otherwise(-1L))
    // ONE aggregate over the train split: class counts + per-feature
    // class sums, 42 longs to the driver (bounded pull, cf. KMeans)
    val st = labeled.filter(col("doc_id") % 10 =!= 0).agg(
      sum(when(col("label") === 1L, 1L).otherwise(0L)).as("np"),
      sum(when(col("label") === -1L, 1L).otherwise(0L)).as("nn") +:
        lexWords.indices.flatMap(j => Seq(
          sum(when(col("label") === 1L, col(s"x$j")).otherwise(0L)).as(s"sp$j"),
          sum(when(col("label") === -1L, col(s"x$j")).otherwise(0L)).as(s"sn$j"))): _*
    ).head()
    val np = st.getLong(0).max(1L)
    val nn = st.getLong(1).max(1L)
    // μ in ×10⁶ fixed point; Java / on longs truncates = Spark DIV = DuckDB //
    val muP = lexWords.indices.map(j => st.getLong(2 + 2 * j) * S / np)
    val muN = lexWords.indices.map(j => st.getLong(3 + 2 * j) * S / nn)
    val w = lexWords.indices.map(j => muP(j) - muN(j))
    val b = lexWords.indices.map(j => w(j) * (muP(j) + muN(j))).sum
    // margin = 2·(w·x)·10⁶ − w·(μ₊+μ₋)·10⁶-scale: >0 ⇒ nearer μ₊
    val score = lexWords.indices.map(j => lit(w(j)) * col(s"x$j")).reduce(_ + _)
    labeled.select(
        col("doc_id"),
        col("label"),
        when(col("doc_id") % 10 =!= 0, "train").otherwise("test").as("split"),
        (lit(2L) * score * lit(S) - lit(b)).as("margin"))
      .withColumn("pred", when(col("margin") > 0, 1L).otherwise(-1L))
      .withColumn("correct", col("pred") === col("label"))
  }

  /** Fuzzy entity resolution (`er_fuzzy_match`): resolve a feed of
    * deterministically typo'd customer names back to the clean
    * registry via deletion-neighborhood blocking + exact Levenshtein
    * re-score ([[graft.operators.EntityResolution]]). The dirty feed
    * plants one typo class per record by key mod 4 — exact copy,
    * one-char drop, one-char substitution, adjacent transposition —
    * each at an index-derived position inside the digit run (zero
    * RNG, every class × position combination exercised). maxDist = 2
    * admits the transposition (Levenshtein 2) while deletion-key
    * blocking still guarantees its candidacy.
    */
  def erFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val clean = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("name"))
    graft.operators.EntityResolution.resolve(erDirtyFeed(clean), clean, maxDist = 2)
      .select(col("dirty_id"), col("matched_key"),
        col("dist").cast("long").as("dist"), col("n_cand"))
  }

  /** The deterministic typo feed over a (key, name) registry — one
    * perturbation class per key mod 4 at an index-derived position
    * (shared by the gate and the mass-duplicate scale smoke).
    */
  private[graft] def erDirtyFeed(clean: DataFrame): DataFrame = {
    val name = col("name")
    // typo position: 10 + (key div 4) mod 8 ∈ [10, 17] — inside the
    // 9-digit run of the 18-char names, so prefix blocking would fail
    val p = shiftright(col("key"), 2) % 8 + 10
    val dropped = concat(name.substr(lit(1), p - 1),
      name.substr(p + 1, length(name)))
    val subbed = concat(name.substr(lit(1), p - 1), lit("x"),
      name.substr(p + 1, length(name)))
    val swapped = concat(name.substr(lit(1), p - 1),
      name.substr(p + 1, lit(1)), name.substr(p, lit(1)),
      name.substr(p + 2, length(name)))
    clean.select(
      (col("key") + lit(5000000L)).as("dirty_id"),
      when(col("key") % 4 === 0, name)
        .when(col("key") % 4 === 1, dropped)
        .when(col("key") % 4 === 2, subbed)
        .otherwise(swapped).as("name"))
  }

  /** MERGE INTO semantics (`pipeline_merge_upsert` — the Delta/Iceberg
    * upsert verb as one declarative plan): a deterministic source batch
    * carries updates (key%7=0: balance +100.00), deletes (key%7=1) and
    * inserts (key%7=2 → new key+8M rows); the merge is ONE full-outer
    * join with case-wise resolution — matched+U updates, matched+D
    * drops, unmatched-by-source keeps, unmatched-by-target inserts —
    * emitting every surviving row with its `action` so the hash gate
    * proves per-row semantics AND deletions (absence moves the hash).
    * Balances ride ×100 fixed point (money discipline, §9.1).
    *
    * Scale shape (100 TB): the source batch broadcasts (daily batch ≪
    * target); at batch scale it degrades to one key-partitioned
    * shuffle join — either way MERGE is a single join, no windows, no
    * driver state; with the E97 WAP commit around the write this is
    * the transactional upsert path next to SCD2 (E94) and the
    * incremental staging fold.
    */
  def pipelineMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.load(s, dir, "customer").select(
      col("c_custkey").as("key"), col("c_name").as("name"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_fp"))
    val src = t.filter(col("key") % 7 <= 1).select(col("key"),
        when(col("key") % 7 === 0, "U").otherwise("D").as("op"),
        lit(null).cast("string").as("s_name"),
        (col("bal_fp") + 10000L).as("s_bal"))
      .unionByName(t.filter(col("key") % 7 === 2).select(
        (col("key") + 8000000L).as("key"), lit("I").as("op"),
        concat(lit("Inserted#"), (col("key") + 8000000L).cast("string")).as("s_name"),
        (col("key") % 1000 * 100).as("s_bal")))
    t.join(broadcast(src), Seq("key"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(col("key"),
        coalesce(col("s_name"), col("name")).as("name"),
        when(col("op") === "U", col("s_bal"))
          .otherwise(coalesce(col("bal_fp"), col("s_bal"))).as("bal_fp"),
        when(col("op") === "U", "updated").when(col("op") === "I", "inserted")
          .otherwise("kept").as("action"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion (`sim_hybrid_rrf`):
    * the RAG retrieval stack's fusion step. Per query doc (every
    * 25th), a LEXICAL top-20 (distinct-word overlap, the BM25-family
    * leg, ties → lowest id) and a VECTOR top-20 (exact cosine over
    * the aligned embeddings) fuse via RRF (Cormack et al. 2009):
    * score = Σ 10⁶ DIV (60 + rank) over the legs that returned the
    * candidate — exact integer fixed point, so the hash gate replays
    * the fusion bit-for-bit. Emits the fused top-5 with both leg
    * ranks for auditability.
    *
    * Scale shape (100 TB): queries broadcast in BOTH legs; the
    * lexical leg is one inverted-index join whose shuffle carries
    * (word, ids) and partial counts combine map-side; the vector leg
    * is the one-corpus-scan exact baseline (swap in the IVF/LSH
    * candidate generators like the rest of the sim family); fusion
    * outer-joins two ≤k-row-per-query lists — negligible. At web
    * scale the lexical leg takes tf-idf-weighted postings with
    * stop-word caps exactly like the n-gram dedup's posting cap.
    */
  def simHybridRrf(s: SparkSession, dir: String): DataFrame =
    simHybridRrfWithQueries(s, dir, lit(true), lit(true))

  /** [[simHybridRrf]] with an extra query-side predicate per leg
    * (lexical doc queries and vector queries live in parallel id
    * namespaces) — the fixed-workload scaling fixture; see
    * [[textBm25TopKWithQueries]].
    */
  private[graft] def simHybridRrfWithQueries(s: SparkSession, dir: String,
                                             docPred: Column, vecPred: Column): DataFrame = {
    val d = docs(s, dir)
    def toks(df: DataFrame, idAs: String): DataFrame =
      df.select(col("doc_id").as(idAs),
        explode(array_distinct(split(col("text"), " "))).as("word"))
    // candidate leg fanned to cluster width (r16): the tokenize-explode
    // + map-side pair counting ran on the one-file scan's single split
    val overlap = toks(graft.operators.FanOut.widen(d), "cand_id")
      .join(broadcast(toks(d.filter(col("doc_id") % 25 === 0
        && docPred), "query_id")), "word")
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy("query_id", "cand_id").agg(count(lit(1)).as("n_shared"))
    val lex = LatestPerKey.topKRanked(overlap, 20, Seq(col("query_id")),
        Seq(col("n_shared").desc_nulls_last, col("cand_id").asc_nulls_first), "r_lex")
      .select(col("query_id"), col("cand_id"), col("r_lex").cast("long").as("r_lex"))
    val all = vecs(s, dir)
    val vec = Similarity.bruteForceTopK(all,
      all.filter(col("vec_id") % 25 === 0 && vecPred), k = 20)
      .select(col("query_id"), col("neighbor_id").as("cand_id"), col("rank").as("r_vec"))
    val fused = lex.join(vec, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf_fp",
        coalesce(expr("1000000 DIV (60 + r_lex)"), lit(0L)) +
          coalesce(expr("1000000 DIV (60 + r_vec)"), lit(0L)))
    LatestPerKey.topKRanked(fused, 5, Seq(col("query_id")),
        Seq(col("rrf_fp").desc_nulls_last, col("cand_id").asc_nulls_first))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("rrf_fp"), col("r_lex"), col("r_vec"))
  }

  /** Small-file compaction planner (`layout_compaction` — the
    * bin-packing half of Delta/Iceberg `OPTIMIZE`, next to
    * [[graft.operators.Layout]]'s Z-order half): a deterministic file
    * inventory (one row per (day, type, writer) "file" with its row
    * count) is split into pass-through files already at target size
    * (`rewrite = false`, no bin — OPTIMIZE never rewrites compacted
    * files) and small files, which pack into target-size output bins
    * per PARTITION (files can only compact within their Hive
    * partition) by the size-desc cumulative-sum rule. The mixed
    * writer fan-out (1 for click/view, 8 otherwise) plants both
    * branches at the gated SF.
    *
    * Scale shape (100 TB): the planner runs on file METADATA — one
    * row per file (~1M rows for 100 TB of 128 MB files), so the
    * per-partition window is trivially cheap and there is no global
    * sort; the rewrite it prescribes is partition-local read→write
    * with no shuffle. The conditional-sum window (large files
    * contribute 0) ranks each partition once instead of two passes
    * over split frames.
    */
  def layoutCompaction(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val writerMod = when(col("event_type").isin("click", "view"), 1L).otherwise(8L)
    val files = ev.groupBy(
        expr("ts_ns DIV 86400000000000").as("part_day"),
        col("event_type"), (col("user_id") % writerMod).as("writer"))
      .agg(count(lit(1)).as("size_rows"))
    val small = col("size_rows") < 64
    val w = Window.partitionBy(col("part_day"))
      .orderBy(col("size_rows").desc_nulls_last,
        col("event_type").asc_nulls_first, col("writer").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before",
        coalesce(sum(when(small, col("size_rows")).otherwise(0L)).over(w), lit(0L)))
      .select(col("part_day"), col("event_type"), col("writer"), col("size_rows"),
        small.as("rewrite"),
        when(small, expr("cum_before DIV 64")).as("out_bin"))
  }

  /** Declarative data-quality expectation suite (`qa_expectation_suite`
    * — the Deequ / Great Expectations shape): six named checks over
    * the customer table — column completeness ×2, key uniqueness,
    * numeric range, categorical domain, referential integrity against
    * nation — each emitted as a (metric_ppm, threshold_ppm, passed)
    * row. The range check's tight [0, 9000] window deliberately fails
    * on TPC-H-shaped balances, so the suite demonstrably reports
    * failures, not just green rows.
    *
    * Scale shape (100 TB): every row-local metric comes from ONE
    * conditional-sum aggregate over one scan (map-side partial); the
    * exact key-distinct is the only keyed shuffle (key column only);
    * referential integrity is a broadcast anti-join COUNT — no sort,
    * no window, output is six rows regardless of input size.
    */
  def qaExpectationSuite(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val refOk = c.join(broadcast(n.select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"), "left_semi")
      .agg(count(lit(1)).as("n_ref_ok"))
    val agg = c.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("c_name").isNotNull, 1L).otherwise(0L)).as("n_name"),
        sum(when(col("c_acctbal").isNotNull, 1L).otherwise(0L)).as("n_bal"),
        count_distinct(col("c_custkey")).as("n_key_distinct"),
        sum(when(col("c_acctbal").between(0.0, 9000.0), 1L).otherwise(0L))
          .as("n_bal_range"),
        sum(when(col("c_mktsegment").isin(segs: _*), 1L).otherwise(0L)).as("n_seg"))
      .crossJoin(broadcast(refOk))
    def check(no: Int, name: String, good: String, thrPpm: Long) =
      struct(lit(no.toLong).as("check_no"), lit(name).as("check"),
        expr(s"$good * 1000000 DIV n_rows").as("metric_ppm"),
        lit(thrPpm).as("threshold_ppm"))
    agg.select(explode(array(
        check(1, "completeness_c_name", "n_name", 1000000L),
        check(2, "completeness_c_acctbal", "n_bal", 1000000L),
        check(3, "uniqueness_c_custkey", "n_key_distinct", 1000000L),
        check(4, "range_c_acctbal_0_9000", "n_bal_range", 990000L),
        check(5, "domain_c_mktsegment", "n_seg", 1000000L),
        check(6, "ref_c_nationkey_in_nation", "n_ref_ok", 1000000L))).as("c"))
      .select(col("c.check_no"), col("c.check"), col("c.metric_ppm"),
        col("c.threshold_ppm"),
        (col("c.metric_ppm") >= col("c.threshold_ppm")).as("passed"))
  }

  /** End-to-end curation funnel (`pipeline_curation_funnel`): the full
    * ingest → language-id → quality → decontaminate → exact-dedup →
    * source-quota chain as ONE plan, emitting the per-stage audit
    * table (rows_in / rows_out / rows_dropped) every production corpus
    * build publishes next to its output. Composes the gated pieces
    * verbatim: textLangId's argmax rule, textQualityFilter's Gopher
    * conjunction, textDecontaminate's 8-gram eval overlap,
    * dedupExact's min-id-per-digest rule, sampleSourceQuota's
    * digest-ordered per-source cap.
    *
    * Scale shape (100 TB): the three independent per-doc flags (lang,
    * quality, decon) come from one corpus scan + two broadcast-joined
    * side frames — the audit is then ONE conditional-sum aggregate,
    * not six COUNT jobs over re-run chains. The two survivor-set-
    * dependent stages (dedup, quota) window only over the already-
    * filtered survivors, so their shuffles shrink with every stage;
    * stage counts compose by flag conjunction, never by re-scanning.
    */
  def pipelineCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    // the standard planted-duplicate fixture, so the dedup stage is
    // load-bearing (the raw corpus is duplicate-free); copies of eval
    // docs stay in the eval slice (+1000000 ≡ 0 mod 50)
    val d = withExactDups(docs(s, dir))

    // flag 1: lexicon-argmax language id lands on 'en'
    val lex = langLexicon.toDF("word", "lex_lang")
    val hits = d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(lex), "word")
      .groupBy("doc_id", "lex_lang").agg(count(lit(1)).as("hits"))
    val predEn = LatestPerKey(hits, Seq(col("doc_id")),
        Seq(col("hits").desc_nulls_last, col("lex_lang").asc_nulls_first))
      .filter(col("lex_lang") === "en")
      .select(col("doc_id"), lit(true).as("f_lang_hit"))

    // flag 2: the Gopher-rule conjunction (pure column expression)
    val words = split(col("text"), " ")
    val nTok = size(words).cast("long")
    val len = length(col("text")).cast("double")
    val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") / len
    val meanTokLen = (len - (nTok - 1).cast("double")) / nTok.cast("double")
    val stopHits = size(filter(words,
      w => w.isin("the", "data", "order", "key", "value"))).cast("long")
    val fQual = nTok >= 10 && nTok <= 100000 &&
      meanTokLen >= 2.0 && meanTokLen <= 12.0 && alpha >= 0.5 && stopHits >= 1

    // flag 3: not the eval slice itself, and no 8-gram overlap with it
    def shingled(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(TextFunctions.shingles(split(col("text"), " "), 8)).as("shingle"))
    val evalShingles = shingled(d.filter(col("doc_id") % 50 === 0))
      .select("shingle").distinct()
    val contam = shingled(d.filter(col("doc_id") % 50 =!= 0))
      .join(broadcast(evalShingles), "shingle")
      .select(col("doc_id")).distinct()
      .withColumn("f_contam", lit(true))

    // NOT checkpointed (r16, measured): the three consumers (stage
    // agg, dedup count, quota count) sit inside ONE action, where AQE
    // exchange reuse already materializes the shared subtree once — an
    // eager checkpoint split the plan into two executions and measured
    // SLOWER (3.3 s vs 2.3 s); lesson 24 applies to consumers in
    // separate actions, not branches of one plan
    val flags = d.select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("digest"),
        fQual.as("f_qual"), (col("doc_id") % 50 =!= 0).as("not_eval"))
      .join(predEn, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("digest"),
        coalesce(col("f_lang_hit"), lit(false)).as("f_lang"), col("f_qual"),
        (col("not_eval") && col("f_contam").isNull).as("f_decon"))

    // survivor-dependent stages: dedup then quota, windows over the
    // shrinking survivor set only
    val s3 = flags.filter(col("f_lang") && col("f_qual") && col("f_decon"))
    val s4 = LatestPerKey(s3, Seq(col("digest")), Seq(col("doc_id").asc_nulls_first))
    // quota 8 (not sampleSourceQuota's 10) so the cap binds at every SF
    val s5 = LatestPerKey.topKRanked(s4, 8, Seq(col("source")),
      Seq(col("digest").asc_nulls_first, col("doc_id").asc_nulls_first))

    val c = flags.agg(
      count(lit(1)).as("n0"),
      sum(when(col("f_lang"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("f_lang") && col("f_qual"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("f_lang") && col("f_qual") && col("f_decon"), 1L)
        .otherwise(0L)).as("n3"))
      .crossJoin(broadcast(s4.agg(count(lit(1)).as("n4"))))
      .crossJoin(broadcast(s5.agg(count(lit(1)).as("n5"))))

    def st(no: Int, nm: String, in: String, out: String) =
      struct(lit(no.toLong).as("stage_no"), lit(nm).as("stage"),
        col(in).as("rows_in"), col(out).as("rows_out"))
    c.select(explode(array(
        st(1, "lang_id", "n0", "n1"), st(2, "quality", "n1", "n2"),
        st(3, "decontaminate", "n2", "n3"), st(4, "dedup_exact", "n3", "n4"),
        st(5, "source_quota", "n4", "n5"))).as("s"))
      .select(col("s.stage_no"), col("s.stage"), col("s.rows_in"),
        col("s.rows_out"), (col("s.rows_in") - col("s.rows_out")).as("rows_dropped"))
  }

  /** BM25 ranked retrieval (`text_bm25_topk`): the real Robertson/
    * Spärck Jones scorer behind the hybrid leg's overlap count —
    * k1 = 1.2, b = 0.75, per-term
    * `idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` — in EXACT
    * integer fixed point so the gate replays every division:
    * the idf is the log-free rational `(N−df+½)/(df+½)` (the TF-IDF
    * lesson: ln is a monotone per-term reshaping whose libm rounding
    * would end the hash gate; the rational keeps the same df ordering)
    * scaled to milli, and the saturation quotient is one BIGINT DIV
    * with numerator/denominator cleared of fractions (×20·ppm). All
    * operands positive, so Spark `DIV` ≡ DuckDB `//`. Per (query,
    * cand) the score is an exact integer SUM over matched terms —
    * associative, partition-order-free.
    *
    * Scale shape (100 TB): one tokenize produces the tf postings
    * carrying dl (GROUP BY doc, dl, word — dl is functionally
    * dependent, no second scan); df is a window over the SAME
    * postings shuffle (no join-back re-tokenize — the TF-IDF lesson);
    * corpus stats (N, L) are a 1-row broadcast; the query side is a
    * broadcast distinct-term list, so scoring is one inverted-index
    * join whose partial sums combine map-side; top-10 per query rides
    * the native bounded-heap TopK. At web scale the postings take the
    * stop-word df cap exactly like the n-gram dedup's posting cap.
    */
  def textBm25TopK(s: SparkSession, dir: String): DataFrame =
    textBm25TopKWithQueries(s, dir, lit(true))

  /** [[textBm25TopK]] with an extra QUERY-SIDE predicate — the
    * fixed-workload scaling fixture (VERDICT r9 #3): the heterogeneous
    * smoke corpora grow by disjoint namespaced copies, so pinning the
    * query population to the 1x namespace holds the workload fixed
    * while the corpus scales, isolating the corpus-side exponent the
    * production (fixed-query) deployment sees. `lit(true)` recovers
    * the gate exactly.
    */
  private[graft] def textBm25TopKWithQueries(s: SparkSession, dir: String,
                                             qPred: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val words = split(col("text"), " ")
    val tf = d.select(col("doc_id"), size(words).cast("long").as("dl"),
        explode(words).as("word"))
      .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
    val stats = d.agg(count(lit(1)).as("__n"),
      sum(size(words).cast("long")).as("__l"))
    val qTerms = d.filter(col("doc_id") % 25 === 0 && qPred)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(words)).as("word"))
    // term_fp depends ONLY on the candidate-side posting (tf, df, dl, N,
    // L) — compute it per POSTING (|vocab·docs| rows) and REPARTITION BY
    // CAND before the broadcast join. Two measured effects (8.7 → 2.7 s
    // at sf0.1, PLANS.md #26): (a) the barrier materializes the three
    // integer divisions per posting instead of per matched pair inside
    // the join loop (PLANS.md #18); (b) hashpartitioning(doc_id) already
    // satisfies the pair groupBy's ClusteredDistribution(query_id,
    // cand_id), so the matched-pair stream — ~180× the posting count on
    // this dense-vocab corpus — aggregates COMPLETELY in place with NO
    // exchange: word-partitioned postings scatter a pair's terms across
    // tasks (map-side combine does nothing, the full pair stream
    // shuffles), cand-partitioned postings keep every pair in one task
    // and only the combined pair rows exist at all.
    // idf_milli = (2(N−df)+1)·1000 DIV (2·df+1); saturation quotient
    // numerator/denominator ×20·10⁶ clears k1 = 6/5, b = 3/4 exactly:
    // term = idf_milli·tf·2 200 000 DIV (tf·10⁶ + 300 000 + 900 000·dl·N DIV L)
    val scoredPostings = withDf
      .crossJoin(broadcast(stats))
      .withColumn("term_fp", expr(
        """((2 * (__n - df) + 1) * 1000 DIV (2 * df + 1)) * tf * 2200000
           DIV (tf * 1000000 + 300000 + (900000 * dl * __n) DIV __l)"""))
      .select(col("word"), col("doc_id"), col("term_fp"))
      // PINNED width, not repartition(col): AQE sizes an exchange by its
      // own bytes (116k slim posting rows ≈ one advisory partition) and
      // is blind to the ~180× row amplification the broadcast join does
      // DOWNSTREAM of it — coalescing here serialized the 17.6M-row
      // join+agg loop onto ~1 core (measured 5.5 → 2.0 s pinned)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
    val perPair = scoredPostings
      .join(broadcast(qTerms), "word")
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy(col("query_id"), col("doc_id").as("cand_id"))
      .agg(sum(col("term_fp")).as("score_fp"), count(lit(1)).as("n_terms"))
    LatestPerKey.topKRanked(perPair, 10, Seq(col("query_id")),
        Seq(col("score_fp").desc_nulls_last, col("cand_id").asc_nulls_first))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("score_fp"), col("n_terms"))
  }

  /** k-anonymity generalization (`qa_k_anonymity`): the privacy QA a
    * compliance layer runs before publishing user-keyed aggregates —
    * every released group must contain ≥ k individuals. Quasi-
    * identifiers are (nation, segment, $1000 balance band); a group
    * below k = 4 generalizes UP the fixed hierarchy (band → '*', then
    * segment → '*') until it clears k, the standard
    * suppression-by-generalization ladder (Sweeney 2002). Level-2
    * rows are terminal: they are emitted with their honest
    * `k_anonymous` flag either way, so the output states exactly
    * which released groups still violate k.
    *
    * Scale shape (100 TB): ONE corpus scan builds the level-0 groups
    * (map-side-combined groupBy on the QI key); levels 1 and 2
    * re-aggregate the GROUP frame — bounded by the QI domain
    * (|nations|·|segments|·|bands|), never row count — so the ladder
    * costs two trivial shuffles over a frame that fits in one
    * partition at any corpus size. Row counts are conserved across
    * levels (spec-asserted), so no individual is dropped or counted
    * twice.
    */
  def qaKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val k = 4L
    val g0 = Tables.load(s, dir, "customer")
      .groupBy(col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
      .agg(count(lit(1)).as("n"))
    val ok0 = g0.filter(col("n") >= k).select(col("nation"), col("segment"),
      col("band").cast("string").as("bal_band"), lit(0L).as("level"), col("n"))
    val g1 = g0.filter(col("n") < k)
      .groupBy("nation", "segment").agg(sum(col("n")).as("n"))
    val ok1 = g1.filter(col("n") >= k).select(col("nation"), col("segment"),
      lit("*").as("bal_band"), lit(1L).as("level"), col("n"))
    val g2 = g1.filter(col("n") < k).groupBy("nation").agg(sum(col("n")).as("n"))
    val ok2 = g2.select(col("nation"), lit("*").as("segment"),
      lit("*").as("bal_band"), lit(2L).as("level"), col("n"))
    ok0.unionByName(ok1).unionByName(ok2)
      .withColumn("k_anonymous", col("n") >= k)
  }

  /** Deterministic dense global IDs (`pipeline_global_ids`): assign
    * every document a contiguous 0-based id in curriculum order
    * (n_chars asc, doc_id asc — shortest first) WITHOUT a global
    * single-partition sort: ids are the partitioned two-phase rank —
    * per-bucket ROW_NUMBER (bucket = the order-preserving prefix
    * (n_chars, doc_id DIV 4096), so partitions stay bounded under any
    * length skew) plus a broadcast per-bucket offset from one
    * cumulative sum over the tiny bucket-counts frame. The id feeds
    * the fixed-size training shards (shard_id, pos_in_shard) a data
    * loader addresses directly.
    *
    * Scale shape (100 TB): the corpus-sized window is PARTITIONED by
    * bucket — nothing corpus-sized ever passes through one partition
    * (the naive `ROW_NUMBER() OVER (ORDER BY …)` plans a
    * SinglePartition exchange: the whole corpus through one task).
    * The only single-partition work is the cumsum over the counts
    * frame, one row per bucket — size it via the bucket width (set
    * width ≈ corpus/10·cores so the frame stays ~10⁴ rows at any
    * scale). Spec asserts the two-phase ids equal the naive global
    * window bit-for-bit and that the corpus window keeps its
    * partition keys.
    */
  def pipelineGlobalIds(s: SparkSession, dir: String): DataFrame =
    denseCurriculumIds(docs(s, dir))
      .select(col("doc_id"), col("n_chars"), col("global_id"),
        expr("global_id DIV 256").as("shard_id"),
        expr("global_id % 256").as("pos_in_shard"))

  /** The E125 two-phase bucketed rank: dense 0-based ids in
    * (n_chars, doc_id) order with no single-partition corpus window.
    */
  private def denseCurriculumIds(d0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = d0.select(col("doc_id"), col("n_chars"),
      expr("doc_id DIV 4096").as("b"))
    val off = d.groupBy("n_chars", "b").agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(
        sum(col("cnt")).over(Window
          .orderBy(col("n_chars").asc_nulls_first, col("b").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("n_chars", "b", "offset")
    d.join(broadcast(off), Seq("n_chars", "b"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("n_chars"), col("b"))
        .orderBy(col("doc_id").asc_nulls_first)))
      .select(col("doc_id"), col("n_chars"),
        (col("offset") + col("rn") - 1L).as("global_id"))
  }

  /** Append-stable ID assignment (`pipeline_global_ids_incremental`):
    * the daily-ingest face of E125 — yesterday's assignment (corpus
    * minus the `doc_id % 7 = 0` batch) is IMMUTABLE state; the batch
    * receives fresh ids starting at |state| in the same curriculum
    * order among themselves. The stability contract is the point: a
    * full re-rank over the grown corpus RENUMBERS existing documents
    * (new short docs shift every longer doc's id — spec proves it),
    * which invalidates every stored shard pointer and resume
    * checkpoint that references them; append-stable ids only ever
    * grow the tail.
    *
    * Scale shape (100 TB): both halves are the E125 two-phase rank
    * (bounded-bucket windows, tiny offsets frames); the state side is
    * READ, not recomputed, in production — here it is re-derived so
    * the oracle can state the whole assignment from the base table.
    */
  def pipelineGlobalIdsIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
    val state = denseCurriculumIds(d.filter(col("doc_id") % 7 =!= 0))
    val batch = denseCurriculumIds(d.filter(col("doc_id") % 7 === 0))
      .crossJoin(broadcast(state.agg(count(lit(1)).as("__n0"))))
      .select(col("doc_id"), col("n_chars"),
        (col("global_id") + col("__n0")).as("global_id"))
    state.withColumn("is_new", lit(false))
      .unionByName(batch.withColumn("is_new", lit(true)))
  }

  /** Proportional stratified sampling with exact largest-remainder
    * allocation (`sample_stratified_proportional`): a 100-doc budget
    * split across the (skewed) language strata by the Hamilton
    * apportionment rule — base seats `B·cnt DIV N`, leftover seats to
    * the largest remainders (ties → lang asc) — then each stratum
    * contributes its quota in digest order (md5 = the deterministic
    * pseudo-random pick, append-stable like the diversity quota).
    * Integer DIV/% throughout, so the allocation arithmetic
    * hash-gates; Σ quota = B exactly by construction (spec-asserted),
    * which rounding-based proportional samplers cannot promise.
    *
    * Scale shape (100 TB): allocation runs on the per-stratum COUNTS
    * frame (|langs| rows — its global windows are over that tiny
    * frame, never the corpus); the corpus-side pick is the native
    * bounded-heap TopK with k = B (quota ≤ B always), so no stratum
    * is ever sorted — the dominant 'en' stratum streams through
    * per-partition B-heaps and only ≤ B rows per stratum cross the
    * final exchange, where a per-stratum ROW_NUMBER window would push
    * the whole majority language through one partition.
    */
  def sampleStratifiedProportional(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = 100L
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
      md5(col("text").cast("binary")).as("digest"))
    val n = d.agg(count(lit(1)).as("__n"))
    val allocW = Window.orderBy(col("rem").desc_nulls_last, col("lang").asc_nulls_first)
    val alloc = d.groupBy("lang").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .withColumn("base", expr(s"$b * cnt DIV __n"))
      .withColumn("rem", expr(s"($b * cnt) % __n"))
      .withColumn("rk", row_number().over(allocW).cast("long"))
      .withColumn("tot", sum(col("base")).over(
        allocW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("lang"),
        (col("base") + when(col("rk") <= lit(b) - col("tot"), 1L).otherwise(0L)).as("quota"))
    LatestPerKey.topKRanked(d, b.toInt, Seq(col("lang")),
        Seq(col("digest").asc_nulls_first, col("doc_id").asc_nulls_first), "sample_rank")
      .join(broadcast(alloc), "lang")
      .filter(col("sample_rank") <= col("quota"))
      .select(col("doc_id"), col("lang"),
        col("sample_rank").cast("long").as("sample_rank"), col("quota"))
  }

  /** Detector-quality evaluation (`qa_dedup_eval`): precision / recall
    * / F1 of the MinHash-LSH near-dup detector against the PLANTED
    * ground truth (every 10th doc's first-5-words-dropped copy) — the
    * gated metric row a pipeline publishes before trusting a dedup
    * config at scale, turning what was spec-only planted-pair checking
    * into an auditable artifact. All counts are exact integers and the
    * three ratios exact ppm DIV quotients, so the evaluation itself
    * hash-gates (an eval that drifts with partitioning would be worse
    * than none).
    *
    * Scale shape (100 TB): truth is a projection of the corpus (no
    * extra scan — the same %10 rule the fixture states); tp is one
    * pair-keyed join between the detector output and truth (both pair
    * lists, ≪ corpus); the metric arithmetic is a 1-row frame.
    */
  def qaDedupEval(s: SparkSession, dir: String): DataFrame = {
    val truth = docs(s, dir).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
    val det = dedupMinhashLsh(s, dir)
      .select(col("doc_id_1").as("a"), col("doc_id_2").as("b"))
    val c = det.join(truth, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("tp"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(det.agg(count(lit(1)).as("n_detected"))))
    dedupEvalMetrics(c)
  }

  /** Metric arithmetic of [[qaDedupEval]] over a (n_truth, n_detected,
    * tp) count frame. Degenerate-fixture guards (ADVICE r8): a detector
    * returning no pairs (n_detected = 0), an empty truth set, or tp = 0
    * must report zero metrics, not crash — Spark's DIV yields NULL on
    * /0 while the DuckDB oracle's // raises, so an unguarded quotient
    * would turn a degenerate input into a gate crash/mismatch instead
    * of a 0 row.
    */
  private[graft] def dedupEvalMetrics(c: DataFrame): DataFrame =
    c.select(col("n_truth"), col("n_detected"), col("tp"),
        (col("n_detected") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        expr("CASE WHEN n_detected = 0 THEN 0 ELSE tp * 1000000 DIV n_detected END")
          .as("precision_ppm"),
        expr("CASE WHEN n_truth = 0 THEN 0 ELSE tp * 1000000 DIV n_truth END")
          .as("recall_ppm"))
      .withColumn("f1_ppm",
        expr("""CASE WHEN precision_ppm + recall_ppm = 0 THEN 0
               |ELSE 2 * precision_ppm * recall_ppm DIV (precision_ppm + recall_ppm)
               |END""".stripMargin))

  /** Top principal direction of the embedding corpus
    * (`embed_pca_power`): three unrolled power-iteration rounds
    * `v ← Xᵀ(Xv)` in EXACT integer fixed point — the dimensionality-
    * reduction/whitening primitive an embedding pipeline runs before
    * compressing or re-projecting vectors (the PCA sibling of the
    * k-means/PageRank unrolled-iteration family). Determinism: every
    * quantity is a bounded integer — embeddings quantized ×10⁶, the
    * per-vector projection s = Σ x·v summed exactly, both rescalings
    * stated as SIGN-SPLIT truncating division (`-((-s) DIV d)` for
    * negatives — Spark DIV truncates toward zero where DuckDB `//`
    * floors, so negative operands NEVER meet a bare DIV), and the
    * normalizers (max |s|, max |v|) are exact integer maxima. The
    * oracle re-derives all three rounds from data as CTEs — nothing
    * engine-computed is baked in.
    *
    * Scale shape (100 TB): the classic distributed power iteration,
    * MATERIALIZED per round (VERDICT r10 #5, reworked): the exploded
    * fixed-point corpus `xl` is persisted for the run
    * ([[graft.operators.PageRank.run]] lifecycle), each round persists
    * its corpus-sized projection `s` for the two consumers inside the
    * round, and only the bounded frames cross the driver — the scalar
    * maxima (one `max(abs(…))` aggregate each) and the 64-row v (one
    * row per dim), which re-enters the next round as a broadcast
    * local relation. The r10 form instead composed all three rounds
    * into ONE lazy plan whose nested `broadcast(agg)` normalizer
    * subqueries re-executed their entire upstream lineage — round-1
    * work ran ~2^rounds times (measured 10 s vs 1.5 s at sf0.1 for an
    * identical answer). Per round: one job for s+smax, one corpus
    * pass for vᵣₐᵥ (keyed join s⋈x, map-side-combined 64-row sum),
    * v's rescale applied in exact integer arithmetic on the driver.
    * Overflow headroom: |s| ≤ 64·x̂·10⁶ ≈ 3.4e13, t capped at 2²⁰ by
    * its rescale, |v_raw| ≤ n·2²⁰·x̂ — raise the t shift with log₂ n
    * past ~10⁷ vectors (documented, not silently truncated).
    */
  def embedPcaPower(s: SparkSession, dir: String): DataFrame = {
    val xl = vecs(s, dir).select(col("vec_id"),
        posexplode(expr(
          "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"))
          .as(Seq("pos", "x_fp")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"), col("x_fp"))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val vSchema = StructType(Seq(
      StructField("dim", LongType, nullable = false),
      StructField("v_fp", LongType, nullable = false)))
    def localV(rows: Seq[Row]): DataFrame =
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), vSchema)
    def signDiv(num: String, den: Long) =
      expr(s"CASE WHEN $num < 0 THEN -((-$num) DIV $den) ELSE $num DIV $den END")
    // one round, materialized: s + its scalar normalizer in one
    // persisted pass, v_raw collected (64 rows) and rescaled on the
    // driver with the SAME truncate-toward-zero division (Scala Long
    // `/` truncates toward zero, matching the SQL CASE sign-split)
    def round(v: DataFrame): Seq[Row] =
      Checkpoints.withPersisted(xl.join(broadcast(v), "dim")
        .groupBy("vec_id").agg(sum(col("x_fp") * col("v_fp")).as("s"))) { sRow =>
        val smaxRow = sRow.agg(max(abs(col("s")))).head()
        val smax = if (smaxRow.isNullAt(0)) 0L else smaxRow.getLong(0)
        val t = sRow.select(col("vec_id"), signDiv("s", 1L + smax / 1048576L).as("t"))
        val vraw = xl.join(t, "vec_id")
          .groupBy("dim").agg(sum(col("t") * col("x_fp")).as("vr"))
          .collect().toSeq
        val vmax = if (vraw.isEmpty) 0L
          else vraw.map(r => math.abs(r.getLong(1))).max
        vraw.map(r => Row(r.getLong(0), r.getLong(1) / (1L + vmax / 1000000L)))
      }
    // every round reads `xl` through this loan's cache entry
    Checkpoints.withPersisted(xl) { _ =>
      val v0 = (0L until 64L).map(d => Row(d, 1000000L))
      localV(round(localV(round(localV(round(localV(v0)))))))
    }
  }

  /** Compaction EXECUTION (`layout_compaction_exec`): the rewrite half
    * of OPTIMIZE, completing E118's bin-packing planner — a
    * day-partitioned events table written with a deliberately
    * fragmented layout (32-way shuffle before the partitioned write →
    * every task contributes a file to every day it touches) is
    * compacted by re-clustering on the PARTITION KEY (each day lands
    * wholly in one task → one file per day) and rewritten. The gate
    * reads the COMPACTED table back from disk and its per-day
    * aggregate must equal computing directly off the source — the
    * rewrite moved bytes, not data. The spec asserts the physical
    * claims the hash can't see: strictly fewer files, identical
    * row-level content.
    *
    * Scale shape (100 TB): compaction IO ∝ the fragmented partitions
    * being rewritten (here: all, by construction); the re-cluster is
    * ONE shuffle on the partition key and each output task writes
    * sequentially — the same verb as E129's backfill with "rewrite
    * small files" instead of "recompute bad days" as the reason.
    */
  def layoutCompactionExec(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("value"), expr("ts_ns DIV 86400000000000").as("day"))
    // fragmented initial layout: many writers per day partition
    ev.repartition(32).write.partitionBy("day").parquet(s"$out/frag")
    // OPTIMIZE: re-cluster on the partition key, rewrite compacted
    s.read.parquet(s"$out/frag").repartition(col("day"))
      .write.partitionBy("day").parquet(s"$out/compact")
    s.read.parquet(s"$out/compact")
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 1000000).cast("long")).cast("double") / 1000000)
          .as("sum_value"))
  }

  /** Token-budget source mixing (`mix_token_budget`): each source
    * contributes documents in digest order until a 600-TOKEN budget is
    * exhausted — the unit a training mix is actually specified in
    * (tokens, not document counts; a source of long documents fills
    * its slice with fewer docs). Greedy prefix rule: a doc is taken
    * while the running token total BEFORE it is under budget, so the
    * crossing document is included (progress is guaranteed even when
    * one document exceeds the whole budget) and the selection is a
    * contiguous digest-order prefix — append-stable like the quota
    * samplers.
    *
    * Scale shape (100 TB): the per-source cumulative sum is bounded
    * BEFORE it runs — a taken prefix has at most B docs (tokens ≥ 1),
    * so the native bounded-heap TopK cuts every source to ≤ B rows
    * map-side and only those survivors reach the window; the dominant
    * source never sorts (the stratified sampler's bound, with the
    * budget as k).
    */
  def mixTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = 600L
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      md5(col("text").cast("binary")).as("digest"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val cut = LatestPerKey.topKRanked(d, b.toInt, Seq(col("source")),
      Seq(col("digest").asc_nulls_first, col("doc_id").asc_nulls_first), "pick_rank")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("digest").asc_nulls_first, col("doc_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, -1)
    cut
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < b)
      .select(col("source"), col("pick_rank").cast("long").as("pick_rank"),
        col("doc_id"), col("n_tokens"),
        (col("cum_before") + col("n_tokens")).as("cum_tokens"))
  }

  /** Seasonality-adjusted anomaly detection (`events_anomaly_seasonal`):
    * the deseasonalized upgrade of the rolling z-score — each hourly
    * count is judged against the baseline of its OWN hour-of-day slot
    * per event type (traffic at 03:00 is compared to other 03:00s, so
    * a quiet-hour spike isn't masked by the daily cycle's variance).
    * The 3σ test is EXACT INTEGER: `(x−μ)² > 9σ²` over the slot's
    * (n, S = Σc, Q = Σc²) multiplies through by n² into
    * `(n·x − S)² > 9·(n·Q − S²)` — no square root, no float mean, so
    * the flags (and both sides of the inequality, emitted for audit)
    * hash-gate bit-exactly where a σ-based form would hinge on libm.
    *
    * Scale shape (100 TB): one map-side-combined hourly groupBy, then
    * baselines as a window over (type, hod) — 24·|types| slots, each
    * ~|days| rows; nothing row-sized shuffles twice. The sqrt-free
    * rewrite is the same move as the OLS/PageRank fixed-point family:
    * state every comparison in the integers the sums already live in.
    */
  def eventsAnomalySeasonal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(expr("ts_ns DIV 86400000000000").as("day"),
        expr("(ts_ns % 86400000000000) DIV 3600000000000").as("hod"),
        col("event_type"))
      .agg(count(lit(1)).as("x"))
    val slot = Window.partitionBy(col("event_type"), col("hod"))
    hourly
      .withColumn("n", count(lit(1)).over(slot))
      .withColumn("s", sum(col("x")).over(slot))
      .withColumn("q", sum(col("x") * col("x")).over(slot))
      .select(col("day"), col("hod"), col("event_type"), col("x").as("n_events"),
        ((col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s"))).as("dev_sq_n2"),
        (lit(9L) * (col("n") * col("q") - col("s") * col("s"))).as("thr_sq_n2"))
      .withColumn("is_anomaly", col("dev_sq_n2") > col("thr_sq_n2"))
  }

  /** Incremental materialized-view maintenance (`pipeline_incremental_mv`):
    * the additive-aggregate sibling of the latest-row incremental
    * staging — a stored daily (day, type) summary (rows, exact
    * fixed-point value sum) is maintained by FOLDING a new event batch
    * in: aggregate ONLY the batch, full-outer-join it onto the stored
    * summary, add the components. Additive state is what makes
    * aggregate MVs maintainable at all: the fold touches |batch| +
    * |touched groups| rows, never the history, and partial sums merge
    * exactly because the fixed-point longs are associative (the
    * determinism discipline doubles as the incremental-correctness
    * one). Gate oracle = the one-shot aggregate over ALL events — the
    * fold must be indistinguishable from a full recompute.
    *
    * Scale shape (100 TB): daily cost ∝ batch (one map-side-combined
    * groupBy of the batch) + one key-partitioned join against a
    * summary whose cardinality is |days × types|, not row count; with
    * the E97 WAP commit around the write this is the production MV
    * refresh loop.
    */
  def pipelineIncrementalMv(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def agg(df: DataFrame): DataFrame = df
      .groupBy(expr("ts_ns DIV 86400000000000").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1000000).cast("long")).as("sum_fp"))
    val state = agg(ev.filter(col("event_id") % 4 =!= 0))
    val batch = agg(ev.filter(col("event_id") % 4 === 0))
    state.select(col("day"), col("event_type"),
        col("n_events").as("n0"), col("sum_fp").as("s0"))
      .join(batch.select(col("day"), col("event_type"),
        col("n_events").as("n1"), col("sum_fp").as("s1")),
        Seq("day", "event_type"), "full_outer")
      .select(col("day"), col("event_type"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("n1"), lit(0L))).as("n_events"),
        ((coalesce(col("s0"), lit(0L)) + coalesce(col("s1"), lit(0L)))
          .cast("double") / 1000000).as("sum_value"))
  }

  /** Time-travel reads over the WAP version history
    * (`pipeline_time_travel` — the `VERSION AS OF` verb completing
    * the table-format set next to MERGE/E122, OPTIMIZE/E118+E43 and
    * dynamic-overwrite backfill/E129): publish a balance snapshot,
    * publish an updated snapshot over it, then read BOTH — the
    * superseded version by NAME from the immutable history
    * ([[graft.operators.Publish.readVersion]]), the current one
    * through the pointer — and emit per-snapshot totals plus the
    * changed-row audit (count and exact summed delta between the two
    * reads). The gate proves the old version survives the new publish
    * byte-exactly: its totals come from the DISK read-back, and the
    * oracle states them from the source table.
    *
    * Scale shape (100 TB): time travel is free at write time —
    * versions are immutable dirs the commit already produces; the
    * diff is one key-partitioned join between two snapshot reads
    * (column-pruned to key + the compared column).
    */
  def pipelineTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Publish
    val root = java.nio.file.Files.createTempDirectory("graft_tt").toString
    val t = Tables.load(s, dir, "customer").select(col("c_custkey").as("key"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_fp"))
    val v1 = Publish.publish(t, root)
    val v2 = Publish.publish(
      t.withColumn("bal_fp", when(col("key") % 7 === 0, col("bal_fp") + 10000L)
        .otherwise(col("bal_fp"))), root)
    val old = Publish.readVersion(s, root, v1)
    val cur = Publish.read(s, root)
    def snap(label: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_rows"), sum(col("bal_fp")).as("sum_bal_fp"))
        .select(lit(label).as("snapshot"), col("n_rows"), col("sum_bal_fp"))
    val changed = old.select(col("key"), col("bal_fp").as("old_bal"))
      .join(cur.select(col("key"), col("bal_fp").as("new_bal")), "key")
      .filter(col("old_bal") =!= col("new_bal"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("new_bal") - col("old_bal")).as("sum_bal_fp"))
      .select(lit("changed").as("snapshot"), col("n_rows"), col("sum_bal_fp"))
    snap(v1, old).unionByName(snap(v2, cur)).unionByName(changed)
  }

  /** CHANGE DATA FEED across the stored version history
    * (`pipeline_change_feed` — the Delta CDF / Iceberg
    * changelog-scan verb, completing the CDC story E78 started):
    * three corpus versions land as WAP publishes (v2 = the
    * snapshot-diff perturbation plant: drop %17, edit %13 → ' rev2',
    * insert %29; v3 = additionally drop %19, edit %11 → ' rev3',
    * insert %31), then the feed derives insert/update/delete rows for
    * EVERY consecutive version pair by reading the versions BACK FROM
    * DISK — so publish → history → per-pair diff is one gated chain,
    * and a consumer can replay the table's evolution without the
    * writer having logged anything beyond the commits themselves.
    * Unchanged rows are not emitted (the CDF contract: feed volume ∝
    * change volume, not table size).
    *
    * Scale shape (100 TB): each pair diff joins two snapshot reads
    * column-pruned to (id, 16-byte digest) — ~32 bytes/doc moves, the
    * E78 bound, never payloads; pairs are independent (a backfill
    * over N versions runs N−1 parallel diffs). In production the
    * digest would come from stored column statistics instead of
    * re-hashing the payload.
    */
  /** The three planted corpus versions the change-feed gates publish
    * (v2 = the snapshot-diff perturbation plant: drop %17, edit %13 →
    * ' rev2', insert %29; v3 = additionally drop %19, edit %11 →
    * ' rev3', insert %31), committed as WAP versions. Returns the
    * store root and the sorted live version names.
    */
  private def changeFeedFixture(s: SparkSession, dir: String): (String, Seq[String]) = {
    import graft.operators.Publish
    val root = java.nio.file.Files.createTempDirectory("graft_cdf").toString
    val d = docs(s, dir)
    // planted-insert id namespace derived from the corpus, not a fixed
    // constant: off = max(doc_id)+1 keeps doc_id+off and doc_id+2*off
    // disjoint from every real id (and from each other) at ANY SF —
    // a fixed 3000000 collides once orderkey-derived ids pass 3M
    val off = d.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val rev2 = when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
      .otherwise(col("text"))
    val v1 = d.select(col("doc_id"), col("text"))
    val v2 = d.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), rev2.as("text"))
      .unionByName(d.filter(col("doc_id") % 29 === 0).select(
        (col("doc_id") + lit(off)).as("doc_id"),
        concat(lit("new "), col("text")).as("text")))
    val v3 = d.filter(col("doc_id") % 17 =!= 0 && col("doc_id") % 19 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(rev2, lit(" rev3")))
          .otherwise(rev2).as("text"))
      .unionByName(d.filter(col("doc_id") % 29 === 0).select(
        (col("doc_id") + lit(off)).as("doc_id"),
        concat(lit("new "), col("text")).as("text")))
      .unionByName(d.filter(col("doc_id") % 31 === 0).select(
        (col("doc_id") + lit(2L * off)).as("doc_id"),
        concat(lit("brand "), col("text")).as("text")))
    Seq(v1, v2, v3).foreach(Publish.publish(_, root))
    (root, (Publish.staleVersions(root).filter(_.matches("v\\d+"))
      :+ Publish.currentVersion(root).get).sorted)
  }

  def pipelineChangeFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Publish
    val (root, history) = changeFeedFixture(s, dir)
    history.sliding(2).map { case Seq(va, vb) =>
      val a = Publish.readVersion(s, root, va)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("old_md5"))
      val b = Publish.readVersion(s, root, vb)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("new_md5"))
      a.join(b, Seq("doc_id"), "full_outer")
        .select(lit(va).as("version_from"), lit(vb).as("version_to"),
          col("doc_id"),
          when(col("old_md5").isNull, lit("insert"))
            .when(col("new_md5").isNull, lit("delete"))
            .when(col("old_md5") =!= col("new_md5"), lit("update"))
            .otherwise(lit(null).cast("string")).as("change"),
          col("old_md5"), col("new_md5"))
        .filter(col("change").isNotNull)
    }.reduce(_.unionByName(_))
  }

  /** `pipeline_apply_change_feed`: the CONSUMER side of the change
    * data feed (E149's missing half — a feed nobody can apply is just
    * a diff): per consecutive version pair, a ROW-IMAGE-carrying feed
    * (change kind + the new payload, the Delta CDF shape; `E149`'s
    * digest-only feed is the bandwidth-lean variant of the same diff)
    * is derived from the stored versions, then FOLDED over a replica
    * seeded from v1 read back from disk — deletes/updates retract by
    * key (anti-join), inserts/updates land their row images — and the
    * gate emits the final replica's per-doc digests. Oracle = v3
    * restated from the source table, so the proof is end-to-end:
    * publish → history → per-pair feed → apply → replica ≡ the final
    * snapshot, without the replica ever reading any version but v1.
    *
    * Scale shape (100 TB): the replica fold is the standard CDC
    * downstream materialization — each apply is one key anti-join +
    * union ∝ feed volume (∝ changes, not table size); a backfill over
    * N versions is N−1 sequential folds of change-sized frames.
    */
  def pipelineApplyChangeFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Publish
    val (root, history) = changeFeedFixture(s, dir)
    val replica0 = Publish.readVersion(s, root, history.head)
    val replica = history.sliding(2).foldLeft(replica0) {
      case (replica, Seq(va, vb)) =>
        val a = Publish.readVersion(s, root, va)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("old_md5"))
        val b = Publish.readVersion(s, root, vb)
          .select(col("doc_id"), col("text").as("new_text"))
        val feed = a.join(
            b.withColumn("new_md5", md5(col("new_text").cast("binary"))),
            Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("old_md5").isNull, lit("insert"))
              .when(col("new_md5").isNull, lit("delete"))
              .when(col("old_md5") =!= col("new_md5"), lit("update"))
              .otherwise(lit(null).cast("string")).as("change"),
            col("new_text"))
          .filter(col("change").isNotNull)
        replica
          .join(feed.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .unionByName(feed.filter(col("change") =!= "delete")
            .select(col("doc_id"), col("new_text").as("text")))
      case (replica, _) => replica
    }
    replica.select(col("doc_id"),
      md5(col("text").cast("binary")).as("text_md5"))
  }

  /** VACUUM with a retention window (`pipeline_vacuum_retention` —
    * the verb that makes unbounded WAP history affordable, next to
    * time travel/E133 and the compliance purge): four snapshots
    * publish, then [[graft.operators.Publish.vacuumRetain]] keeps the
    * newest two and physically reclaims the rest (burned-number
    * `.purged` markers stay behind). The gate emits one row per
    * version — vacuumed versions carry NULL aggregates (they are
    * GONE; the spec asserts readVersion refuses them and their dirs
    * are deleted), retained/current versions aggregate their DISK
    * read-back — so the oracle states exactly which history survives
    * a retention pass and proves the survivors byte-intact.
    */
  def pipelineVacuumRetention(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Publish
    val root = java.nio.file.Files.createTempDirectory("graft_vac").toString
    val t = Tables.load(s, dir, "customer").select(col("c_custkey").as("key"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_fp"))
    (1 to 4).foreach(i => Publish.publish(t.filter(col("key") % 7 < i), root))
    Publish.vacuumRetain(root, keepLast = 2)
    val cur = Publish.currentVersion(root)
    (1 to 4).map { i =>
      val v = "v%05d".format(i)
      val live = java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(root, v))
      if (!live)
        s.range(1).select(lit(v).as("version"), lit("vacuumed").as("status"),
          lit(null).cast("long").as("n_rows"), lit(null).cast("long").as("sum_bal_fp"))
      else {
        val status = if (cur.contains(v)) "current" else "retained"
        Publish.readVersion(s, root, v)
          .agg(count(lit(1)).as("n_rows"), sum(col("bal_fp")).as("sum_bal_fp"))
          .select(lit(v).as("version"), lit(status).as("status"),
            col("n_rows"), col("sum_bal_fp"))
      }
    }.reduce(_.unionByName(_))
  }

  /** `pipeline_vacuum_compact_markers`: the janitor's janitor —
    * `.purged` markers keep vacuumed numbers burned one FILE per
    * reclaimed version, unbounded at streaming-vacuum cadence;
    * [[graft.operators.Publish.compactPurgedMarkers]] folds them into
    * the single `_BURNED` watermark. The gate runs the full chain:
    * four publishes, a `keepLast = 2` vacuum (two markers), the
    * compaction (markers → watermark), then the PROOF that compaction
    * preserved the burned-number contract — the next publish must
    * allocate `v00005`, never a number the folded markers had burned.
    * Oracle restates the deterministic filesystem trace.
    */
  def pipelineVacuumCompactMarkers(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Publish
    val root = java.nio.file.Files.createTempDirectory("graft_vaccm").toString
    val t = Tables.load(s, dir, "customer").select(col("c_custkey").as("key"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_fp"))
    (1 to 4).foreach(i => Publish.publish(t.filter(col("key") % 7 < i), root))
    Publish.vacuumRetain(root, keepLast = 2)
    def markers(): Long = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.count(_.getFileName.toString.matches("v\\d+\\.purged")).toLong
      } finally st.close()
    }
    val nBefore = markers()
    val folded = Publish.compactPurgedMarkers(root).toLong
    val nAfter = markers()
    val next = Publish.publish(t.filter(col("key") % 7 < 5), root)
    s.range(1).select(lit(nBefore).as("n_markers_before"),
      lit(folded).as("n_folded"), lit(nAfter).as("n_markers_after"),
      lit(next).as("next_version"))
  }

  /** Idempotent partition backfill (`pipeline_backfill_overwrite`):
    * the daily-pipeline repair verb — a day-partitioned aggregate
    * table where a subset of days landed corrupted (the fixture
    * inflates `day % 5 = 0` counts by 1000) is healed by recomputing
    * ONLY those days and writing them with DYNAMIC partition
    * overwrite: `mode("overwrite")` under
    * `partitionOverwriteMode=dynamic` replaces exactly the partitions
    * present in the incoming frame and leaves every other day's files
    * physically untouched (spec asserts the untouched days' part-files
    * are byte-identical before/after). The gate reads the healed
    * table BACK FROM DISK and must equal the clean computation — so
    * write → corrupt → backfill → read is the proven chain.
    *
    * Scale shape (100 TB): a backfill rewrites data ∝ the bad days,
    * not the table — static overwrite (or drop-and-rewrite) would
    * rewrite everything; MERGE would read-join everything. Dynamic
    * overwrite is the only verb whose IO tracks the repair size, and
    * it is idempotent: re-running the same backfill converges to the
    * same bytes (same day partitions replaced with the same rows).
    */
  def pipelineBackfillOverwrite(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_backfill")
      .resolve("table").toString
    val daily = Tables.events(s, dir)
      .groupBy(expr("ts_ns DIV 86400000000000").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 1000000).cast("long")).cast("double") / 1000000)
          .as("sum_value"))
    val bad = col("day") % 5 === 0
    // initial load: the bad days land corrupted
    daily.withColumn("n_events",
        when(bad, col("n_events") + 1000L).otherwise(col("n_events")))
      .write.partitionBy("day").parquet(out)
    // backfill: recompute ONLY the bad days; dynamic overwrite replaces
    // exactly those partitions
    daily.filter(bad)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(out)
    s.read.parquet(out)
      .select(col("day").cast("long").as("day"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  private val statsSpinePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** File-level min/max DATA SKIPPING (`layout_stats_pruned_scan`,
    * [[graft.operators.StatsSpine]]) — the stored-spine form of
    * Delta/Iceberg log stats, completing the layout family: E118/E161
    * plan and execute compaction, `layout_zorder` clusters, and this
    * gate PRUNES. Lineitem is range-laid-out on `l_orderkey` into 16
    * files (the nightly OPTIMIZE), a one-row-per-file min/max spine is
    * built in one pass and STORED; the query path reads the spine,
    * keeps only files whose [min, max] intersects the middle-decile
    * order-key band [max/5, 3·max/10], and scans just those. The
    * oracle states the same band filter over the RAW table, so the
    * layout write, the spine build, the storage round trip, AND the
    * driver-side file pruning are all load-bearing in the hash match;
    * StatsSpineSpec asserts the physical claim the hash can't see
    * (strictly fewer files scanned than written).
    *
    * Scale shape (100 TB): the spine is one row per file (~800k rows
    * at 128 MB files — a few MB), built by a map-side-combinable
    * groupBy during the layout pass and folded per batch thereafter
    * ([[graft.operators.StatsSpine.append]]); each query plans by
    * scanning the spine, not by listing/footer-reading 800k files,
    * and a 10%-band query reads ~10% of the data bytes.
    */
  def layoutStatsPrunedScan(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.StatsSpine
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    val base = java.nio.file.Files.createTempDirectory("graft_spine").toString
    // nightly layout: range-cluster on the skip column, then store the spine
    li.repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$base/data")
    StatsSpine.build(s, s"$base/data", Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$base/spine")
    retirePrevDir(statsSpinePrev, base)
    // query path: band bounds in integer arithmetic (oracle restates
    // them with DuckDB's `//`), spine-pruned scan, predicate re-applied
    // (skipping is a superset guarantee)
    val maxK = li.agg(max("l_orderkey")).head.getLong(0)
    val lo = maxK / 5
    val hi = (3 * maxK) / 10
    val spine = s.read.parquet(s"$base/spine")
    StatsSpine.prunedRead(s, s"$base/data", spine, "l_orderkey", lo, hi)
      .filter(col("l_orderkey").between(lo, hi))
      .groupBy(col("l_returnflag").as("rf"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"))
  }

  private val bloomSpinePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Bloom-sidecar POINT-LOOKUP skipping (`layout_bloom_pruned_scan`,
    * [[graft.operators.StatsSpine.buildBloom]]) — the skipping verb
    * min/max can't serve: documents are laid out in size tiers
    * (range on `n_chars` — a realistic ingest clustering), so every
    * file's doc_id [min, max] spans ~the whole domain and the E160
    * spine prunes nothing; the per-file Bloom sidecar answers "which
    * files hold THESE doc_ids?" — the planning question a GDPR delete
    * or a targeted re-annotation asks — touching only true holders
    * plus ~zero false positives. Keys are query constants, so their
    * md5 bit positions are computed once on the driver and the spine
    * probe is pure element_at/shift arithmetic per file row.
    *
    * The oracle states the IN-list over the RAW table, so the layout
    * write, the bloom build (exact OR-merge under any task split),
    * the storage round trip, and the no-false-negative probe are all
    * load-bearing in the hash; StatsSpineSpec pins the physical
    * claims: min/max keeps ALL files on this layout while the bloom
    * survivor set equals the true holder set.
    *
    * Scale shape (100 TB): sidecar ≈ 1 KB per 128 MB file (~800 MB
    * for 800k files — one executor's worth, scanned distributed);
    * a k-id lookup reads ≤ k files instead of the table. Sizing rule:
    * mBits ≥ ~13 bits per expected distinct key per file for <0.1% FP.
    */
  def layoutBloomPrunedScan(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.StatsSpine
    val mBits = 1 << 13
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = java.nio.file.Files.createTempDirectory("graft_bloomspine").toString
    docs.repartitionByRange(16, col("n_chars"), col("doc_id"))
      .sortWithinPartitions("n_chars")
      .write.mode("overwrite").parquet(s"$base/data")
    StatsSpine.buildBloom(s, s"$base/data", "doc_id", mBits)
      .write.mode("overwrite").parquet(s"$base/bloom")
    retirePrevDir(bloomSpinePrev, base)
    // the lookup set: 5 ids spread across the domain, stated by the
    // oracle as (i*max)//7 — doc_ids are dense so they all exist
    val mk = docs.agg(max("doc_id")).head.getLong(0)
    val ids = (1L to 5L).map(i => (i * mk) / 7)
    val spine = s.read.parquet(s"$base/bloom")
    StatsSpine.prunedReadByKeys(s, s"$base/data", spine,
        ids.map(_.toString), mBits)
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  private val bloomRosterPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Roster-DataFrame targeted delete (`layout_bloom_roster_delete`,
    * VERDICT r10 #4): the GDPR-delete verb at ROSTER scale — the
    * doomed-id set is a DataFrame (here every `doc_id % 43 == 0`, a
    * few percent of the corpus scattered across every size-tier
    * file), never a driver literal. [[StatsSpine.rosterHolders]]
    * probes the bloom sidecar with a distributed position join,
    * [[StatsSpine.deleteRewriteRoster]] rewrites only holder files
    * with a left-anti join against the roster, and both sidecars fold
    * (holder rows retracted, fresh-generation rows appended). The
    * gate reads the post-delete table THROUGH THE FOLDED MANIFEST —
    * so the oracle's aggregate over `doc_id % 43 <> 0` proves the
    * probe found every holder, the rewrite dropped exactly the roster
    * rows, and the manifest names exactly the surviving file set.
    *
    * Scale shape (100 TB): probe ∝ roster×files (distributed join,
    * no data bytes), rewrite ∝ holder files only, manifest fold ∝
    * file count — the corpus is read only where it must be rewritten.
    */
  def layoutBloomRosterDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.StatsSpine
    val mBits = 1 << 13
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = java.nio.file.Files.createTempDirectory("graft_bloomroster").toString
    d.repartitionByRange(16, col("n_chars"), col("doc_id"))
      .sortWithinPartitions("n_chars")
      .write.mode("overwrite").parquet(s"$base/data")
    val stats0 = StatsSpine.build(s, s"$base/data", Seq("n_chars"))
    val bloom0 = StatsSpine.buildBloom(s, s"$base/data", "doc_id", mBits)
    val roster = d.filter(col("doc_id") % 43 === 0).select(col("doc_id"))
    val (stats1, _) = StatsSpine.deleteRewriteRoster(s, stats0, bloom0,
      "doc_id", roster, mBits, Seq("n_chars"), s"$base/gen1")
    retirePrevDir(bloomRosterPrev, base)
    StatsSpine.readManifest(s, s"$base/data", stats1)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
  }

  private val versionedPublishPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Versioned table lifecycle (`layout_versioned_publish`, VERDICT
    * r10 #3 — [[graft.operators.VersionedTable]]): the manifest-is-
    * the-table model driven through its three verbs on one table —
    * CREATE (docs ≡ 0 mod 3, range-laid-out on n_chars) → APPEND
    * (docs ≡ 1 mod 3, fold ∝ batch) → DELETE a roster (doc_id ≡ 0
    * mod 5, bloom-probed holder rewrite) — then every version read
    * back THROUGH ITS OWN MANIFEST, plus a stats-pruned band read at
    * the head version. The oracle restates each version's membership
    * from the raw table, so the hash proves: the append folded
    * without disturbing generation 0, the delete dropped exactly the
    * roster from BOTH generations, time travel returns superseded
    * content byte-identically after the delete, and the pruned band
    * read misses nothing the band owns.
    */
  def layoutVersionedPublish(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_vtable").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec, layout)
    val v2 = VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    val v3 = VersionedTable.deleteRoster(s, root, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    retirePrevDir(versionedPublishPrev, root)
    def slice(tag: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .select(lit(tag).as("slice"), col("n_docs"), col("sum_ids"), col("sum_chars"))
    slice(s"1_$v1", VersionedTable.readVersion(s, root, v1))
      .unionByName(slice(s"2_$v2", VersionedTable.readVersion(s, root, v2)))
      .unionByName(slice(s"3_$v3", VersionedTable.readVersion(s, root, v3)))
      .unionByName(slice("4_band",
        VersionedTable.prunedRead(s, root, "n_chars", 200, 400)
          .filter(col("n_chars").between(200, 400))))
  }

  private def vtSlice(tag: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
      .select(lit(tag).as("slice"), col("n_docs"), col("sum_ids"), col("sum_chars"))

  private val dvDeletePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Merge-on-read delete lifecycle (`layout_dv_delete`,
    * [[graft.operators.VersionedTable.deleteRosterDV]]): the
    * DELETION-VECTOR posture of the GDPR verb — CREATE the versioned
    * table, then two stacked DV deletes (doc_id ≡ 0 mod 7, then ≡ 0
    * mod 11 — the second covers files the first already vectorized,
    * exercising the fold-forward), then COMPACTION materializing the
    * vectors back to plain files. Every version is read back through
    * its own manifest with the DV anti-join resolving, and the oracle
    * restates each membership from the raw table — so the hash proves
    * the vectors hide exactly the doomed rows at each commit, stack
    * without resurrection, survive time travel, and compaction is
    * content-identical to the merge-on-read view it replaces. The
    * spec pins what the hash can't see: NO data file rewritten by
    * either DV commit, the anti-join broadcast, vectors gone after
    * compaction.
    *
    * Scale shape (100 TB): a DV commit costs ∝ bloom-probed holder
    * files scanned + deleted-row positions written (KBs) — against
    * the copy-on-write rewrite ∝ holder bytes; reads pay one
    * broadcast anti-join ∝ total deleted rows until compaction
    * resets the trade at maintenance cadence.
    */
  def layoutDvDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_dvtable").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d, root, spec, layout)
    val v2 = VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    val v3 = VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 11 === 0).select(col("doc_id")))
    val v4 = VersionedTable.compactDeletes(s, root, spec)
    retirePrevDir(dvDeletePrev, root)
    vtSlice(s"1_$v1", VersionedTable.readVersion(s, root, v1))
      .unionByName(vtSlice(s"2_$v2", VersionedTable.readVersion(s, root, v2)))
      .unionByName(vtSlice(s"3_$v3", VersionedTable.readVersion(s, root, v3)))
      .unionByName(vtSlice(s"4_$v4", VersionedTable.readVersion(s, root, v4)))
      .unionByName(vtSlice("5_band",
        VersionedTable.prunedRead(s, root, "n_chars", 200, 400)
          .filter(col("n_chars").between(200, 400))))
  }

  private val versionedOccPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Multi-writer commit race (`layout_versioned_occ`,
    * [[graft.operators.VersionedTable.appendOcc]]): writer A captures
    * head v00001 and — in the window between its head read and its
    * commit — a competing writer B lands an append (v00002). A's
    * first attempt writes v00003 and is VETOED by its conditional
    * commit's head fence ([[graft.operators.Publish.requireHead]];
    * tombstoned `.failed`, number burned); A rebases onto v00002 and commits
    * v00004. The gate reads all three live versions back; the oracle
    * restates each membership from the raw table, so the hash proves
    * NO LOST UPDATE (B's rows survive in A's final fold) and NO
    * DOUBLE APPLY (A's batch lands exactly once despite two
    * attempts). The gate fails loudly if the race didn't take
    * exactly two attempts.
    */
  def layoutVersionedOcc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_occtable").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec, layout)
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val (vA, attempts) = VersionedTable.appendOcc(s,
      d.filter(col("doc_id") % 3 === 2), root, spec, layout,
      beforeCommit = () =>
        // the competing writer, landing INSIDE writer A's read→commit
        // window — first attempt only, so A's retry goes through clean
        if (raced.compareAndSet(false, true)) {
          VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
          ()
        })
    require(attempts == 2,
      s"occ gate expected exactly one conflict (2 attempts), got $attempts")
    retirePrevDir(versionedOccPrev, root)
    vtSlice(s"1_$v1", VersionedTable.readVersion(s, root, v1))
      .unionByName(vtSlice("2_v00002", VersionedTable.readVersion(s, root, "v00002")))
      .unionByName(vtSlice(s"3_$vA", VersionedTable.readVersion(s, root, vA)))
  }

  private val versionedEvoPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Schema evolution across versions (`layout_versioned_schema_evolution`):
    * v1 CREATEs the table with (doc_id, n_chars); v2 APPENDs a batch
    * carrying a NEW `lang` column. The head read resolves the merged
    * schema (v1 files back-fill `lang` as NULL — parquet mergeSchema
    * through the manifest's file list), while time travel to v1
    * returns the original two-column schema untouched. Slices: v1
    * membership, head legacy rows (every `lang` NULL — n_lang must be
    * 0), head new rows (every `lang` present). The oracle restates
    * all three from the raw table with the same NULL back-fill rule.
    */
  def layoutVersionedSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_evotable").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(4, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s,
      d.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("n_chars")),
      root, spec, layout)
    // the evolving writer OPTS IN — an un-flagged drifting append is
    // refused (E187's enforcement, require()d here so the evolution
    // gate also pins the refusal default)
    require(
      try {
        VersionedTable.append(s,
          d.filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("n_chars"), col("lang")),
          root, spec, layout)
        false
      } catch { case _: IllegalArgumentException => true },
      "an un-flagged drifting append must be refused")
    VersionedTable.append(s,
      d.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("n_chars"), col("lang")),
      root, spec, layout, allowEvolution = true)
    retirePrevDir(versionedEvoPrev, root)
    val head = VersionedTable.read(s, root)
    def evoSlice(tag: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          count(col("lang")).as("n_lang"))
        .select(lit(tag).as("slice"), col("n_docs"), col("sum_ids"), col("n_lang"))
    // time travel predates the column: n_lang stated as 0 (the spec
    // pins the v1 schema literally lacking `lang`)
    evoSlice(s"1_$v1", VersionedTable.readVersion(s, root, v1)
        .withColumn("lang", lit(null).cast("string")))
      .unionByName(evoSlice("2_head_legacy", head.filter(col("doc_id") % 2 === 0)))
      .unionByName(evoSlice("3_head_new", head.filter(col("doc_id") % 2 === 1)))
  }

  private val dvUpsertPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Merge-on-read upsert (`layout_dv_upsert`,
    * [[graft.operators.VersionedTable.upsertDV]]): replace-by-key in
    * ONE commit — updates (doc_id ≡ 0 mod 13, n_chars bumped +1000)
    * and brand-new inserts (ids offset past max(doc_id), from the
    * ≡ 0 mod 17 slice) land as a fresh generation while every
    * replaced row is deletion-vectored, atomically (one manifest
    * publish carries both actions). The head read must show exactly
    * the merged table: the oracle restates it as a CASE-adjusted
    * UNION, sliced by whole-table / updated-band / inserted-band —
    * a replaced row appearing twice (vector missed) or not at all
    * (append missed) breaks a slice hash.
    *
    * Scale shape (100 TB): the MERGE cost model merge-on-read buys —
    * commit ∝ bloom-probed holders scanned + batch written; zero
    * existing files rewritten (spec-pinned), against copy-on-write
    * MERGE's rewrite of every matched file.
    */
  def layoutDvUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_dvupsert").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d, root, spec, layout)
    val off = d.agg(max("doc_id")).head.getLong(0) + 1L
    val updates = d.filter(col("doc_id") % 13 === 0)
        .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(d.filter(col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + lit(off)))
    VersionedTable.upsertDV(s, root, spec, updates, layout)
    retirePrevDir(dvUpsertPrev, root)
    val head = VersionedTable.read(s, root)
    vtSlice("1_head", head)
      .unionByName(vtSlice("2_updated",
        head.filter(col("doc_id") % 13 === 0 && col("doc_id") < off)))
      .unionByName(vtSlice("3_inserted", head.filter(col("doc_id") >= off)))
  }

  private val versionedVacuumPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Versioned-table physical vacuum (`layout_versioned_vacuum`,
    * [[graft.operators.VersionedTable.vacuum]]): the storage-reclaim
    * half of the table model — a five-commit history (create, append,
    * copy-on-write delete, DV delete, compaction) leaves superseded
    * generation files and a consumed DV sidecar on disk for time
    * travel; `vacuum(keepLast = 2)` retires manifests v1–v3 and
    * deletes every file only they referenced, while v4 (the DV view)
    * and v5 (compacted head) keep reading byte-identically from the
    * retained set. The oracle restates both retained memberships; the
    * spec pins the physical claims — files actually reclaimed, time
    * travel to a vacuumed version refused, reclaim idempotent.
    *
    * Scale shape (100 TB): reclaim ∝ file-count listing + deletes
    * (no data read/moved); the referenced set is manifest-sized —
    * Delta `VACUUM ... RETAIN` economics on the explicit manifest.
    */
  def layoutVersionedVacuum(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_vtvac").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d.filter(col("doc_id") % 2 === 0), root, spec, layout)
    VersionedTable.append(s, d.filter(col("doc_id") % 2 === 1), root, spec, layout)
    VersionedTable.deleteRoster(s, root, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    val v4 = VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 3 === 0).select(col("doc_id")))
    val v5 = VersionedTable.compactDeletes(s, root, spec)
    val (retired, nFiles, _) = VersionedTable.vacuum(s, root, keepLast = 2)
    require(retired.nonEmpty && nFiles > 0,
      s"vacuum gate expected real reclaim, got retired=$retired files=$nFiles")
    retirePrevDir(versionedVacuumPrev, root)
    vtSlice(s"1_$v5", VersionedTable.read(s, root))
      .unionByName(vtSlice(s"2_$v4", VersionedTable.readVersion(s, root, v4)))
  }

  private val dvChangeFeedPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Manifest-derived change feed (`layout_dv_change_feed`,
    * [[graft.operators.VersionedTable.changeFeed]]): the row-level CDF
    * between two versions computed from manifests + DV sidecars alone
    * — inserts are the added files' rows resolved through the newer
    * vectors, deletes are the DV delta resolved back to FULL OLD ROWS
    * by a position join (vectored bytes stay on disk, so the feed
    * carries payloads, not just keys). The gate drives create →
    * append → DV-delete, pulls the v1→v3 feed, APPLIES it to a
    * replica of v1 (anti-join deletes, union inserts), and slices
    * feed inserts / feed deletes / applied replica — the applied
    * hash equals the head membership only if the feed is exactly the
    * net change (CDF semantics: a row inserted and deleted inside the
    * window must net out of both sides).
    *
    * Scale shape (100 TB): feed ∝ changed files read + DV delta,
    * never ∝ table — the incremental-consumer economics a CDC
    * pipeline needs; planning inputs are two manifest reads.
    */
  def layoutDvChangeFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_dvfeed").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec, layout)
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    val v3 = VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    val feed = VersionedTable.changeFeed(s, root, v1, v3)
    retirePrevDir(dvChangeFeedPrev, root)
    val ins = feed.filter(col("change_type") === "insert").drop("change_type")
    val del = feed.filter(col("change_type") === "delete")
    val applied = VersionedTable.readVersion(s, root, v1)
      .join(del.select(col("doc_id").as("__del_id")),
        col("doc_id") === col("__del_id"), "left_anti")
      .unionByName(ins)
    vtSlice("1_inserts", ins)
      .unionByName(vtSlice("2_deletes", del))
      .unionByName(vtSlice("3_applied", applied))
  }

  private val feedByTsPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** TIMESTAMP-ADDRESSED batch CDF (`layout_feed_by_timestamp`,
    * [[graft.operators.VersionedTable.changeFeedByTimestamp]] — the
    * Delta `table_changes(tbl, start_ts, end_ts)` parity verb): the
    * change feed between the versions the table had at two INSTANTS,
    * each bound resolved through the writer-stamped `commit_ts` index
    * (the `versionAsOfTs` rule — changes strictly after the older
    * instant's state). Four stamped commits (create@1000 →
    * append@2000 → MERGE@3000 → DV-delete@4000); the gate pulls the
    * (1500, 3500) window — which must resolve to (v1, v3] and carry
    * the append's inserts plus the merge's delete+insert pairs with
    * FINAL values netted through the window (a key born at v2 and
    * updated at v3 emits one insert, no delete — CDF semantics) —
    * and require()s the empty-range answer (two instants inside the
    * same commit's reign return zero rows, not an error).
    *
    * Scale shape (100 TB): bound resolution is one `_ts_index` read;
    * the feed pays the changeFeed bill (changed files + DV delta per
    * segment), never table bytes.
    */
  def layoutFeedByTimestamp(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_feedts").toString
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec,
      extraMeta = Map("commit_ts" -> "1000"))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec,
      extraMeta = Map("commit_ts" -> "2000"))
    VersionedTable.merge(s, root, spec,
      d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars")),
      matchedUpdate = Map("n_chars" -> col("src_n_chars")),
      insertNotMatched = false, extraMeta = Map("commit_ts" -> "3000"))
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 13 === 0).select(col("doc_id")),
      extraMeta = Map("commit_ts" -> "4000"))
    // two instants inside v3's reign: the empty range, not an error
    require(VersionedTable.changeFeedByTimestamp(s, root, 3200L, 3800L).isEmpty,
      "an empty timestamp range must return zero rows")
    val feed = VersionedTable.changeFeedByTimestamp(s, root, 1500L, 3500L)
    retirePrevDir(feedByTsPrev, root)
    feed.select(col("doc_id"), col("lang"), col("n_chars"), col("change_type"))
  }

  private val cloneAsOfPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val cloneAsOfDstPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** TIME-ADDRESSED clone + restore (`layout_clone_asof`,
    * [[graft.operators.VersionedTable.shallowCloneAsOfTs]] /
    * [[graft.operators.VersionedTable.restoreAsOfTs]] — Delta's
    * `CLONE/RESTORE ... TIMESTAMP AS OF`): three stamped commits;
    * a zero-copy clone cut AT an instant inside v2's reign (its v1
    * manifest must reference exactly v2's files — `src@v00002`
    * require()d), then the SOURCE restores to an instant inside v1's
    * reign (a new commit republishing v1's manifest — history stays
    * append-only and the pre-restore read, bound eagerly to its
    * manifest, is unaffected). Slices: the clone (content@v2), the
    * pre-restore source head (content@v3), the restored source
    * (content@v1) — one wrong bound resolution diverges a slice.
    *
    * Scale shape (100 TB): both verbs are ONE manifest write each
    * (zero data bytes moved); bound resolution is one `_ts_index`
    * read.
    */
  def layoutCloneAsOf(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_clonets").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_clonets_d").toString + "/c"
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec,
      extraMeta = Map("commit_ts" -> "1000"))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec,
      extraMeta = Map("commit_ts" -> "2000"))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 2), root, spec,
      extraMeta = Map("commit_ts" -> "3000"))
    VersionedTable.shallowCloneAsOfTs(s, root, dst, 2500L)
    require(VersionedTable.versionMeta(dst, "v00001").get("src")
      .exists(_.endsWith("@v00002")),
      "the clone must reference the as-of version, not the head")
    val headRead = VersionedTable.read(s, root) // binds v3's manifest eagerly
    VersionedTable.restoreAsOfTs(s, root, 1500L) // v4 = content@v1
    retirePrevDir(cloneAsOfPrev, root)
    retirePrevDir(cloneAsOfDstPrev,
      java.nio.file.Paths.get(dst).getParent.toString)
    def slice(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("slice"), col("doc_id"), col("lang"), col("n_chars"))
    slice("1_clone", VersionedTable.read(s, dst))
      .unionByName(slice("2_pre_restore_head", headRead))
      .unionByName(slice("3_restored", VersionedTable.read(s, root)))
  }

  private val replaceWherePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Transactional band overwrite (`layout_replace_where`,
    * [[graft.operators.VersionedTable.replaceWhere]] — Delta's
    * `replaceWhere` option): the daily-rebuild verb — every row whose
    * `n_chars` lies in [300, 420] is replaced by a recomputed batch
    * in ONE commit (fully-in-band files drop unread, straddlers
    * deletion-vector their in-band positions, the batch appends — a
    * two-commit deleteBand+append would expose a row-less band to
    * concurrent readers and split the change across feed windows).
    * The gate require()s real in-band file drops under the range
    * layout, the out-of-band-batch refusal, and — the atomicity
    * claim in feed form — applies the SINGLE v1→v2 feed window onto
    * a replica of v1 and hashes it against the head: one window
    * carries the whole replacement as delete(old)+insert(new).
    *
    * Scale shape (100 TB): cost ∝ band files + straddler scans +
    * batch bytes, never table — the partition-rebuild economics.
    */
  def layoutReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_rplw").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(16, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d, root, spec, layout)
    // the recomputed band: same keys, reclassified lang
    val batch = d.filter(col("n_chars").between(300, 420))
      .select(col("doc_id"), lit("xx").as("lang"), col("n_chars"))
    val v2 = VersionedTable.replaceWhere(s, root, spec,
      "n_chars", 300, 420, batch, layout)
    val meta = VersionedTable.versionMeta(root, v2)
    require(meta("n_dropped_files").toInt >= 1,
      s"the range layout must yield fully-in-band files to drop: $meta")
    // the replaceWhere contract: an out-of-band batch row refuses
    require(scala.util.Try(VersionedTable.replaceWhere(s, root, spec,
      "n_chars", 300, 420,
      d.filter(col("n_chars") > 450).limit(5), layout)).isFailure,
      "an out-of-band batch must refuse")
    // one feed window carries the whole replacement
    val feed = VersionedTable.changeFeed(s, root, v1, v2)
    val ins = feed.filter(col("change_type") === "insert").drop("change_type")
    val del = feed.filter(col("change_type") === "delete")
    val applied = VersionedTable.readVersion(s, root, v1)
      .join(del.select(col("doc_id").as("__del_id")),
        col("doc_id") === col("__del_id"), "left_anti")
      .unionByName(ins)
    retirePrevDir(replaceWherePrev, root)
    def slice(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("slice"), col("doc_id"), col("lang"), col("n_chars"))
    slice("1_head", VersionedTable.read(s, root))
      .unionByName(slice("2_feed_applied", applied))
  }

  private val fsckRepairPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Emergency dangling-reference repair (`layout_fsck_repair`,
    * [[graft.operators.VersionedTable.repairMissingFiles]] — Delta's
    * `FSCK REPAIR TABLE`): an EXTERNAL cleanup deletes data files out
    * from under the manifest, and every read fails on the missing
    * files until the dangling references are dropped. The gate appends
    * the `de` slice as its own generation (per-commit generation dirs
    * make the lost file set value-determined, so the oracle can
    * restate the survivors), deletes exactly that generation's files
    * through the storage facade, and require()s the full contract:
    * the broken table refuses to read; the repair drops exactly the
    * dangling references (manifest-only — the payload is
    * unrecoverable, that is what "lost" means); a second repair
    * no-ops at the head; and a change-feed window SPANNING the fsck
    * commit refuses loudly (the repair carries no CDC — it is filed
    * in no feed verb class by design, so downstream consumers
    * re-bootstrap instead of silently missing the disappearance).
    * Output: the repaired head — the oracle restates the survivor
    * rows.
    *
    * Scale shape (100 TB): one existence probe per manifest row
    * (control-plane IO through [[graft.operators.TableStore]]) + one
    * manifest publish — no data read or moved.
    */
  def layoutFsckRepair(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Publish, TableStore, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_fsck").toString
    val v1 = VersionedTable.create(s, d.filter(col("lang") =!= "de"), root, spec)
    val v2 = VersionedTable.append(s, d.filter(col("lang") === "de"), root, spec)
    val mroot = s"$root/manifest"
    def filesOf(v: String): Set[String] = Publish.readVersion(s, mroot, v)
      .select("file").collect().map(_.getString(0)).toSet
    val lost = filesOf(v2) -- filesOf(v1)
    require(lost.nonEmpty, "the appended generation must own files")
    // the external cleanup: the de generation's bytes vanish
    lost.foreach(f => TableStore.get.deleteIfExists(f.stripPrefix("file:")))
    require(scala.util.Try(VersionedTable.read(s, root).count()).isFailure,
      "a table referencing missing files must fail to read before repair")
    val (v3, nDropped) = VersionedTable.repairMissingFiles(s, root)
    require(nDropped == lost.size,
      s"repair must drop exactly the dangling references: $nDropped vs ${lost.size}")
    require(VersionedTable.repairMissingFiles(s, root) == ((v3, 0)),
      "a second repair must no-op at the repaired head")
    require(scala.util.Try(
      VersionedTable.changeFeed(s, root, v2, v3).collect()).isFailure,
      "a change-feed window across an fsck repair must refuse")
    retirePrevDir(fsckRepairPrev, root)
    VersionedTable.read(s, root)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  private val dvPurgeAuditPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** DV-delete ≠ erasure — the compliance decomposition
    * (`layout_dv_purge_audit`): a deletion vector HIDES rows (the
    * bytes stay on disk, that is the whole merge-on-read trade), so a
    * GDPR purge through the versioned table is a three-verb chain —
    * DV-delete (instant logical removal), compaction (head files
    * rewritten without the rows), vacuum (history physically
    * reclaimed). The gate measures BOTH ledgers at each stage: the
    * logical view through the manifest (roster gone from stage 1) and
    * a content scan of every generation file ON DISK (roster bytes
    * present until the vacuum — n_physical only reaches 0 after all
    * three verbs). The oracle restates every count from the raw
    * table, pinning the stage-3 physical count at exactly 0 — the
    * claim a compliance review actually signs.
    *
    * Scale shape (100 TB): the audit scan is the verification cost a
    * purge pays once at compliance cadence; the purge itself is
    * DV ∝ holders scanned, compact ∝ dv'd files, vacuum ∝ deletes.
    */
  def layoutDvPurgeAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_dvpurge").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d, root, spec, layout)
    val roster = d.filter(col("doc_id") % 89 === 0).select(col("doc_id"))
    def physicalRosterCount(): Long = {
      // content scan of every GENERATION file on disk (dv-* sidecars
      // hold positions, not rows) — what bytes would a seizure find?
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val fdir = java.nio.file.Paths.get(s"$root/files")
      def walk(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.isDirectory(p)) {
          val st = java.nio.file.Files.list(p)
          try st.forEach(walk(_)) finally st.close()
        } else if (p.toString.endsWith(".parquet")) buf += p.toString
      val st = java.nio.file.Files.list(fdir)
      try st.forEach(c =>
        if (!c.getFileName.toString.startsWith("dv-")) walk(c))
      finally st.close()
      if (buf.isEmpty) 0L
      else s.read.option("mergeSchema", "true").parquet(buf.toSeq: _*)
        .join(broadcast(roster), Seq("doc_id"), "left_semi").count()
    }
    // each stage is measured EAGERLY: the later vacuum deletes files
    // an earlier stage's lazy plan would still reference
    def stage(tag: String): (String, Long, Long, Long) = {
      val r = VersionedTable.read(s, root)
        .agg(count(lit(1)), sum(col("doc_id"))).head()
      (tag, r.getLong(0), r.getLong(1), physicalRosterCount())
    }
    VersionedTable.deleteRosterDV(s, root, spec, roster)
    val s1 = stage("1_dv_delete")
    VersionedTable.compactDeletes(s, root, spec)
    val s2 = stage("2_compact")
    VersionedTable.vacuum(s, root, keepLast = 1)
    val s3 = stage("3_vacuum")
    retirePrevDir(dvPurgeAuditPrev, root)
    import s.implicits._
    Seq(s1, s2, s3)
      .toDF("stage", "n_live", "sum_live_ids", "n_physical_roster")
  }

  private val indexFromFeedPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val indexFromFeedIdxPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  /** Stored index maintained off the table's change feed
    * (`layout_index_from_feed`): the full production stack in one
    * chain — the VERSIONED TABLE is the source of truth, the stored
    * BM25 index is DERIVED state, and the [[graft.operators
    * .VersionedTable.changeFeed]] is the only thing that moves
    * between them. v1 creates the table and the index is built from
    * the v1 read (through the manifest, not the raw corpus); the
    * table then takes an append and a DV-delete; the index folds the
    * v1→v3 feed — [[graft.operators.Bm25Index.append]] for the
    * insert docs (payloads from the feed), [[graft.operators
    * .Bm25Index.purge]] for the delete ids — and serves top-k that
    * must hash-match the full Robertson oracle over the HEAD
    * membership. A missed insert, a resurrected delete, or a stale
    * df/stats spine shifts a score and breaks the hash.
    *
    * Scale shape (100 TB): index maintenance ∝ feed (changed files +
    * DV delta) + purge ∝ index — never a rebuild ∝ corpus; the same
    * CDC economics [[layoutMvFromFeed]] proves for aggregates, now
    * for the inverted index every RAG stack maintains.
    */
  def layoutIndexFromFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Bm25Index, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = docs(s, dir).select(col("doc_id"), col("text"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_idxfeed").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec, layout)
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val base = java.nio.file.Files.createTempDirectory("graft_idxfeed_a").toString
    val tbl = s"graft_idxfeed_$suffix"
    // the index seed (reads only v1's immutable file set) and the
    // table's writer side (append + DV-delete commits on the table
    // root) share no state beyond committed v1 — overlap them (guide
    // §2.6) so the build's scoring jobs back-fill the commits'
    // control-plane gaps
    val (idx0, v3) = Par.pair(
      () => Bm25Index.build(s,
        VersionedTable.readVersion(s, root, v1).select(col("doc_id"), col("text")),
        tbl, base),
      () => {
        VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
        VersionedTable.deleteRosterDV(s, root, spec,
          d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
      })
    // one feed window, two consumers (insert fold + delete purge):
    // persist it so the manifest diff runs once, not per fold
    val base2 = java.nio.file.Files.createTempDirectory("graft_idxfeed_b").toString
    val tbl2 = s"graft_idxfeed_p_$suffix"
    val (idx2, _) =
      Checkpoints.withPersisted(VersionedTable.changeFeed(s, root, v1, v3)) { feed =>
        val (idx1, _) = Bm25Index.append(s, idx0,
          feed.filter(col("change_type") === "insert").select(col("doc_id"), col("text")),
          gen = 1)
        Bm25Index.purge(s, idx1,
          feed.filter(col("change_type") === "delete").select(col("doc_id")),
          tbl2, base2)
      }
    // the unpurged index is dead within this invocation; the table
    // root and purged index follow the cross-invocation lifecycle
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    deleteTree(java.nio.file.Paths.get(base))
    retirePrevDir(indexFromFeedPrev, root)
    retirePrev(indexFromFeedIdxPrev, s, tbl2, base2)
    // query ids ≡ 0 mod 23 — the shared % 25 rule is a subset of the
    // deleted % 5 roster here, which would leave the gate vacuous
    Bm25Index.scoredTopK(s, idx2,
      s.table(idx2.postingsTable).filter(col("doc_id") % 23 === 0)
        .select(col("doc_id").as("query_id"), col("word")))
  }

  private val ivfFromFeedPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val ivfFromFeedIdxPrev =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  /** Stored IVF index maintained off the change feed
    * (`layout_ivf_from_feed`): the vector-index sibling of
    * `layout_index_from_feed`, completing the derived-state symmetry —
    * the versioned table (over EMBEDDINGS) is the source of truth,
    * the cid-bucketed IVF lists are derived state, and the manifest
    * change feed is the only thing that moves between them. v1
    * (`vec_id % 3 = 0`) trains the coarse quantizer and seeds the
    * lists; the table takes an append (`% 3 = 1`) and a DV-delete
    * (`% 5 = 0`); the index folds the feed — [[operators.IvfIndex.append]]
    * assigns insert payloads under the FROZEN centroids (cost ∝ feed),
    * [[operators.IvfIndex.purge]] retracts delete ids by one broadcast
    * anti-join + bucket-keyed rewrite (cost ∝ index) — and serves
    * top-k for query ids ≡ 0 mod 23. Oracle = a full rebuild under
    * the same v1-trained centroids over the HEAD membership
    * (assignment under fixed centroids is per-vector, so fold ∪ purge
    * must equal it exactly): a missed insert, resurrected delete, or
    * drifted centroid shifts an assignment and breaks the hash.
    *
    * Scale shape (100 TB): maintenance ∝ feed + purge ∝ index, never
    * rebuild ∝ corpus — the embedding-index CDC economics; the feed's
    * delete payloads mean the consumer never rescans the table.
    */
  def layoutIvfFromFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IvfIndex, KMeans, VersionedTable}
    val spec = VersionedTable.Spec(Seq("vec_id"), "vec_id", 1 << 13)
    val all = vecs(s, dir).select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("graft_ivffeed").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("vec_id")).sortWithinPartitions("vec_id")
    val v1 = VersionedTable.create(s, all.filter(col("vec_id") % 3 === 0),
      root, spec, layout)
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val base = java.nio.file.Files.createTempDirectory("graft_ivffeed_a").toString
    val tbl = s"graft_ivffeed_$suffix"
    // the quantizer training (reads only v1's immutable file set) and
    // the table's writer side (append + DV-delete commits) share no
    // state beyond committed v1 — overlap them (guide §2.6): the
    // k-means collect rounds' driver gaps back-fill with commit tasks
    val (idx0, v3) = Par.pair(
      () => IvfIndex.build(s, VersionedTable.readVersion(s, root, v1),
        k = 8, iterations = 3, tbl, base),
      () => {
        VersionedTable.append(s, all.filter(col("vec_id") % 3 === 1), root, spec, layout)
        VersionedTable.deleteRosterDV(s, root, spec,
          all.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
      })
    // one feed window, two consumers (insert fold + delete purge):
    // persist it so the manifest diff runs once, not per fold
    val base2 = java.nio.file.Files.createTempDirectory("graft_ivffeed_p").toString
    val tbl2 = s"graft_ivffeed_p_$suffix"
    val idx2 =
      Checkpoints.withPersisted(VersionedTable.changeFeed(s, root, v1, v3)) { feed =>
        IvfIndex.append(s, idx0,
          feed.filter(col("change_type") === "insert")
            .select(col("vec_id"), col("embedding")), gen = 1)
        IvfIndex.purge(s, idx0,
          feed.filter(col("change_type") === "delete").select(col("vec_id")),
          tbl2, base2)
      }
    // the unpurged index is dead within this invocation; the table
    // root and purged index follow the cross-invocation lifecycle
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    deleteTree(java.nio.file.Paths.get(base))
    retirePrevDir(ivfFromFeedPrev, root)
    retirePrev(ivfFromFeedIdxPrev, s, tbl2, base2)
    val centroids = IvfIndex.readCentroids(s, idx2)
    val lists = s.table(tbl2)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_vec"), col("cid"))
    val probes = KMeans.probe(
        s.table(tbl2).filter(col("vec_id") % 23 === 0)
          .select(col("vec_id"), col("v").as("embedding")),
        centroids, nprobe = 2)
      .select(col("vec_id").as("query_id"), col("v").as("q_vec"), col("cid"))
    ivfScore(lists, probes)
  }

  private val reclusterPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Layout evolution (`layout_recluster`,
    * [[graft.operators.VersionedTable.recluster]]): the OPTIMIZE verb
    * as a manifest commit — the table is CREATEd under a
    * skip-hostile layout (hash repartition: every file's n_chars
    * interval spans the domain, so a band predicate prunes nothing),
    * takes a DV-delete (so the rewrite must resolve vectors, not
    * resurrect), then RECLUSTERs by range on n_chars. The gate
    * require()s the physical claim (the band's surviving-file count
    * strictly drops) and hashes the content claims: identical
    * membership before/after, and the post-recluster pruned band read
    * equals the band stated from the raw table.
    *
    * Scale shape (100 TB): one rewrite at maintenance cadence buys
    * every subsequent band read ∝ band instead of ∝ table — the
    * reason OPTIMIZE exists; the pruning is manifest-driven, so the
    * improvement lands with no reader change.
    */
  def layoutRecluster(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{StatsSpine, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_recluster").toString
    // skip-hostile: hash-scatter — every file spans the n_chars domain
    VersionedTable.create(s, d, root, spec, df => df.repartition(8))
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 9 === 0).select(col("doc_id")))
    def bandFiles(): Long =
      StatsSpine.survivors(VersionedTable.manifest(s, root), "n_chars", 200, 400).count()
    val before = VersionedTable.read(s, root)
      .agg(count(lit(1)), sum(col("doc_id"))).head()
    val filesBefore = bandFiles()
    VersionedTable.recluster(s, root, spec,
      df => df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars"))
    val filesAfter = bandFiles()
    require(filesAfter < filesBefore,
      s"recluster gate expected real pruning gains, got $filesBefore -> $filesAfter")
    retirePrevDir(reclusterPrev, root)
    import s.implicits._
    Seq(("1_before", before.getLong(0), before.getLong(1)))
      .toDF("slice", "n_docs", "sum_ids")
      .unionByName(vtSlice("2_after", VersionedTable.read(s, root))
        .drop("sum_chars"))
      .unionByName(vtSlice("3_band",
        VersionedTable.prunedRead(s, root, "n_chars", 200, 400)
          .filter(col("n_chars").between(200, 400))).drop("sum_chars"))
  }

  private val reclusterZPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** OPTIMIZE ZORDER BY as a manifest commit
    * (`layout_recluster_zorder`,
    * [[graft.operators.VersionedTable.recluster]] composed with
    * [[graft.operators.Layout.zorderLayout]]): the E75 Morton layout
    * run THROUGH the versioned table's OPTIMIZE verb, graded on the
    * read it exists to serve — a BOX predicate on BOTH clustering
    * dims. The table is created under a skip-hostile hash scatter,
    * takes a DV-delete (the rewrite must resolve vectors), is first
    * reclustered LINEAR on `n_chars` (tight leading-dim intervals;
    * every file still spans the `doc_id` domain, so the box prunes
    * only one dim), then reclustered Z-ORDER on
    * (`n_chars`, `doc_id`). The gate require()s the multi-dim claim —
    * the box's surviving-file count under Z-order is strictly below
    * the linear layout's — and hashes the content claims: identical
    * membership across both rewrites, and the box-pruned read equal
    * to the box stated from the raw table.
    *
    * Scale shape (100 TB): a linear sort prunes ∝ one dimension's
    * selectivity; the Morton interleave gives every file a tight
    * bounding box in both dims so a box read scans ∝ the PRODUCT of
    * the selectivities — on a 1000-executor cluster that is the
    * difference between touching 10% and 0.5% of a 100 TB table, with
    * no reader change (the pruning is manifest-driven).
    */
  def layoutReclusterZorder(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Layout, StatsSpine, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars", "doc_id"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_zrecluster").toString
    // skip-hostile: hash-scatter — every file spans both domains
    VersionedTable.create(s, d, root, spec, df => df.repartition(16))
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 9 === 0).select(col("doc_id")))
    val bands = Seq(("n_chars", 200, 400), ("doc_id", 100, 200))
    // 32 output files: boxes must be FINER than the query box for the
    // multi-dim claim to be observable (at 16 files over this domain a
    // Morton box is ~256 wide — every one intersects the band)
    def boxFiles(): Long =
      bands.foldLeft(VersionedTable.manifest(s, root)) {
        case (m, (c, lo, hi)) => StatsSpine.survivors(m, c, lo, hi)
      }.count()
    VersionedTable.recluster(s, root, spec,
      df => df.repartitionByRange(32, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars", "doc_id"))
    val filesLinear = boxFiles()
    VersionedTable.recluster(s, root, spec,
      df => Layout.zorderLayout(df, 32, col("n_chars"), col("doc_id")))
    val filesZ = boxFiles()
    require(filesZ < filesLinear,
      s"zorder recluster expected multi-dim pruning gains over linear, " +
        s"got $filesLinear -> $filesZ box files")
    retirePrevDir(reclusterZPrev, root)
    vtSlice("1_after", VersionedTable.read(s, root))
      .unionByName(vtSlice("2_box",
        VersionedTable.prunedReadBands(s, root, bands)
          .filter(col("n_chars").between(200, 400) &&
            col("doc_id").between(100, 200))))
  }

  private val shallowClonePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val shallowCloneDstPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Zero-copy clone + divergence (`layout_shallow_clone`,
    * [[graft.operators.VersionedTable.shallowClone]]): the clone's v1
    * manifest references the SOURCE head's files — no data copied,
    * commit = one manifest write — and the two tables then diverge:
    * a DV-delete on the CLONE (doc_id ≡ 0 mod 7) must leave the
    * source's head read byte-identical (the vector lives under the
    * clone's root; the shared files are immutable), while the clone
    * reads the source's bytes THROUGH its own manifest + vector. The
    * oracle restates both memberships; the spec pins the physical
    * zero-copy claim (no data files under the clone's root) and
    * vacuum custody (the clone's vacuum cannot reclaim source files).
    *
    * Scale shape (100 TB): dev/test table copies and branch-like
    * experimentation at O(manifest) cost instead of O(table) — the
    * Delta SHALLOW CLONE economics.
    */
  def layoutShallowClone(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val src = java.nio.file.Files.createTempDirectory("graft_clone_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_clone_dst").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d.filter(col("doc_id") % 2 === 0), src, spec, layout)
    VersionedTable.append(s, d.filter(col("doc_id") % 2 === 1), src, spec, layout)
    VersionedTable.shallowClone(s, src, dst)
    VersionedTable.deleteRosterDV(s, dst, spec,
      d.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    retirePrevDir(shallowClonePrev, src)
    retirePrevDir(shallowCloneDstPrev, dst)
    vtSlice("1_source", VersionedTable.read(s, src))
      .unionByName(vtSlice("2_clone", VersionedTable.read(s, dst)))
  }

  /** Per-language (n_docs, Σchars) — the MV head shared by the
    * feed-maintenance and transaction gates.
    */
  private def mvLangAgg(df: DataFrame): DataFrame =
    df.groupBy("lang").agg(count(lit(1)).as("n_docs"),
      sum(col("n_chars").cast("long")).as("sum_chars"))

  /** Incremental MV fold off a change feed: MV' = MV ⊞ agg(inserts)
    * ⊟ agg(deletes) via one full-outer join on the group key, groups
    * draining to zero dropped — computable without touching the table
    * because the feed's deletes carry full payloads.
    */
  private def mvLangFold(mv0: DataFrame, feed: DataFrame): DataFrame = {
    val delta = mvLangAgg(feed.filter(col("change_type") === "insert"))
      .select(col("lang"), col("n_docs").as("ins_n"), col("sum_chars").as("ins_c"))
      .join(mvLangAgg(feed.filter(col("change_type") === "delete"))
        .select(col("lang"), col("n_docs").as("del_n"), col("sum_chars").as("del_c")),
        Seq("lang"), "full_outer")
    mv0.join(delta, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("ins_n"), lit(0L))
          - coalesce(col("del_n"), lit(0L))).as("n_docs"),
        (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("ins_c"), lit(0L))
          - coalesce(col("del_c"), lit(0L))).as("sum_chars"))
      .filter(col("n_docs") > 0)
  }

  private val mvFromFeedPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Materialized view maintained off the change feed
    * (`layout_mv_from_feed`): the CDC-consumer composition — a
    * per-language aggregate (n_docs, Σchars) is materialized at v1,
    * the table then takes an append and a DV-delete, and the MV is
    * FOLDED from [[graft.operators.VersionedTable.changeFeed]] alone:
    * MV' = MV ⊞ agg(inserts) ⊟ agg(deletes) via one full-outer join,
    * groups draining to zero dropped. The oracle restates the head
    * aggregate directly, so the hash proves fold == rebuild — the
    * incremental-view-maintenance contract running on the feed's net
    * semantics (the deletes carry full payloads, which is what makes
    * the ⊟ side computable without touching the table).
    *
    * Scale shape (100 TB): maintenance ∝ feed (changed files + DV
    * delta), never ∝ table — the nightly-MV economics; the fold is
    * one small-side outer join on the group key.
    */
  def layoutMvFromFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_mvfeed").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec, layout)
    val mv0 = mvLangAgg(VersionedTable.readVersion(s, root, v1))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    val v3 = VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    val feed = VersionedTable.changeFeed(s, root, v1, v3)
    retirePrevDir(mvFromFeedPrev, root)
    mvLangFold(mv0, feed)
  }

  private val feedAcrossPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Change feed ACROSS a content-identical rewrite
    * (`layout_feed_across_optimize`): Delta CDF's `dataChange=false`
    * skip, measured — the window create→append→DV-delete→RECLUSTER→
    * append spans an OPTIMIZE, and [[graft.operators.VersionedTable.changeFeed]]
    * SEGMENTS at it instead of refusing (each data segment's file
    * diff runs against its own endpoint manifests, so the rewrite's
    * churned files never masquerade as inserts). The v1-materialized
    * MV folded from the ONE spanning window hashes against the head
    * aggregate stated directly — an insert double-counted through
    * the rewrite, a delete lost at the boundary, or a churned file
    * leaking into the feed all break the hash.
    *
    * Scale shape (100 TB): maintenance rewrites no longer fence off
    * CDC consumers — the nightly OPTIMIZE and the hourly MV fold
    * coexist on one history, each segment still ∝ its changes.
    */
  def layoutFeedAcrossOptimize(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_feedx").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0),
      root, spec, layout)
    val mv0 = mvLangAgg(VersionedTable.readVersion(s, root, v1))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    // the maintenance rewrite the window must span
    VersionedTable.recluster(s, root, spec,
      df => df.repartition(4))
    val v5 = VersionedTable.append(s, d.filter(col("doc_id") % 3 === 2),
      root, spec, layout)
    val feed = VersionedTable.changeFeed(s, root, v1, v5)
    retirePrevDir(feedAcrossPrev, root)
    mvLangFold(mv0, feed)
  }

  private val feedAcrossUpdPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Change feed ACROSS content-CHANGING rewrites
    * (`layout_feed_across_update`): the writer-side-CDC half of the
    * feed contract — where `layout_feed_across_optimize` spans a
    * `dataChange=false` rewrite by SEGMENTING (the rewrite contributes
    * nothing), this window spans a CoW UPDATE and a CoW roster DELETE,
    * whose file diffs are NOT their content diffs. Each such commit
    * emits Delta-style `_change_data` rows at write time
    * ([[graft.operators.VersionedTable.updateWhere]] /
    * [[graft.operators.VersionedTable.deleteRoster]] `cdc_path` meta)
    * — delete pre-images + insert post-images of exactly the matched
    * rows — and [[graft.operators.VersionedTable.changeFeed]] splices
    * them between its segment diffs in window order. The MV folded
    * from the ONE spanning window (create→append→UPDATE→CoW-delete→
    * DV-delete) hashes against the head aggregate stated directly: a
    * churned survivor leaking as an insert, a pre-image delete lost,
    * or a post-image landing under the wrong group all break the hash.
    *
    * Scale shape (100 TB): the nightly UPDATE no longer fences off
    * every downstream feed consumer — CDC bytes ∝ matched rows ×2,
    * and the feed still costs ∝ changed files + CDC, never ∝ table.
    */
  def layoutFeedAcrossUpdate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_feedu").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0),
      root, spec, layout)
    val mv0 = mvLangAgg(VersionedTable.readVersion(s, root, v1))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    // the content-changing rewrites the window must fold across
    VersionedTable.updateWhere(s, root, spec,
      col("n_chars").between(200, 400), Map("lang" -> lit("xx")), layout)
    VersionedTable.deleteRoster(s, root, spec,
      d.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    val v5 = VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    val feed = VersionedTable.changeFeed(s, root, v1, v5)
    retirePrevDir(feedAcrossUpdPrev, root)
    mvLangFold(mv0, feed)
  }

  private val mergePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Three-clause MERGE (`layout_merge`,
    * [[graft.operators.VersionedTable.merge]]): the SQL/Delta
    * `MERGE INTO t USING s ON t.key = s.key` verb committed
    * merge-on-read — WHEN MATCHED AND src divisible-by-7 THEN DELETE,
    * WHEN MATCHED AND target even THEN UPDATE SET (lang suffixed,
    * n_chars from source — a SET reading BOTH sides of the pair),
    * WHEN NOT MATCHED AND key not divisible-by-5 THEN INSERT, and the
    * matched rows neither clause claims COPY THROUGH with zero IO.
    * The gate require()s the merge-on-read invariant directly: every
    * pre-merge data file is still listed by the post-merge manifest
    * (claimed rows were deletion-vectored, never rewritten). The
    * oracle restates the final table as the three-way UNION the MERGE
    * semantics define, so the hash proves clause routing, SQL binding
    * (conditions over the pre-update pair), and the DV+append commit
    * in one pass.
    *
    * Scale shape (100 TB): cost ∝ bloom-probed holder files + source
    * + batch written — the nightly CDC-apply touches its changed band
    * of a 100 TB table, and no existing file is rewritten.
    */
  def layoutMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0),
      root, spec, layout)
    val before = VersionedTable.manifest(s, root)
      .select("file").collect().map(_.getString(0)).toSet
    val source = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") + 100000).as("n_chars"))
    VersionedTable.merge(s, root, spec, source,
      matchedUpdate = Map(
        "lang" -> concat(col("lang"), lit("+")),
        "n_chars" -> col("src_n_chars")),
      matchedUpdateCond = Some(col("n_chars") % 2 === 0),
      matchedDeleteCond = Some(col("src_n_chars") % 7 === 0),
      notMatchedCond = Some(col("src_doc_id") % 5 =!= 0),
      layout = layout)
    val after = VersionedTable.manifest(s, root)
      .select("file").collect().map(_.getString(0)).toSet
    require(before.subsetOf(after),
      "merge must be merge-on-read: no pre-merge data file is rewritten")
    retirePrevDir(mergePrev, root)
    mvLangAgg(VersionedTable.read(s, root))
  }

  private val feedAcrossMergePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Change feed ACROSS a MERGE (`layout_feed_across_merge`): the
    * feed-safety half of the merge contract — because
    * [[graft.operators.VersionedTable.merge]] commits DV + append,
    * its file-level diff IS its content diff, so a window spanning it
    * needs NO writer-side CDC: updates surface as delete(pre-image)
    * + insert(post-image) straight from the manifest algebra (fresh
    * DV positions resolve to full old rows; the batch generation
    * carries the new ones). The MV folded from the ONE window
    * create→append→merge hashes against the head aggregate stated
    * directly — a copy-through row leaking into the feed, a lost
    * pre-image, or an insert routed under the wrong group all break
    * the hash.
    *
    * Scale shape (100 TB): the CDC-apply verb and its downstream feed
    * consumers compose with no extra sidecar bytes — feed cost stays
    * ∝ changed files + DV delta.
    */
  def layoutFeedAcrossMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_feedm").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0),
      root, spec, layout)
    val mv0 = mvLangAgg(VersionedTable.readVersion(s, root, v1))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1),
      root, spec, layout)
    val source = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") + 100000).as("n_chars"))
    val v3 = VersionedTable.merge(s, root, spec, source,
      matchedUpdate = Map(
        "lang" -> concat(col("lang"), lit("+")),
        "n_chars" -> col("src_n_chars")),
      matchedUpdateCond = Some(col("n_chars") % 2 === 0),
      matchedDeleteCond = Some(col("src_n_chars") % 7 === 0),
      notMatchedCond = Some(col("src_doc_id") % 5 =!= 0),
      layout = layout)
    val feed = VersionedTable.changeFeed(s, root, v1, v3)
    retirePrevDir(feedAcrossMergePrev, root)
    mvLangFold(mv0, feed)
  }

  private val mergeScd2Prev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** SCD Type-2 dimension maintenance in ONE MERGE
    * (`layout_merge_scd2`): the classic warehouse pattern the
    * row-granular DV makes possible — a dimension keyed by `doc_id`
    * carries history rows (status `closed`) next to each key's
    * `current` row, and one [[graft.operators.VersionedTable.merge]]
    * applies a change batch via the SQL null-key staging trick:
    * real-key source rows CLOSE the changed current version (matched
    * update, condition `status = current AND lang IS DISTINCT FROM
    * new`) and insert brand-new keys; null-key rows (which can never
    * match) insert the changed keys' NEW current versions, the real
    * key restored through the custom insert projection
    * (`notMatchedInsert`). Rows whose staged change is a no-op
    * (`doc_id % 12 = 0` stages an unchanged lang) copy through
    * unclaimed. Because the DV is row-granular, closing a current row
    * cannot vector its key's history — the failure a key-granular
    * upsert hits on any duplicate-key dimension.
    *
    * Scale shape (100 TB): a dimension's nightly SCD2 apply costs the
    * change batch + its bloom-probed band — history depth adds
    * holder rows, never rewrites.
    */
  def layoutMergeScd2(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("doc_id"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
    val root = java.nio.file.Files.createTempDirectory("graft_scd2").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
    VersionedTable.create(s,
      d.filter(col("doc_id") % 3 === 0).withColumn("status", lit("current")),
      root, spec, layout)
    val newLang = when(col("doc_id") % 12 === 0, col("lang"))
      .otherwise(concat(coalesce(col("lang"), lit("")), lit("X")))
    val changes = d.filter(col("doc_id") % 6 === 0)
      .select(col("doc_id"), newLang.as("new_lang"))
    val freshKeys = d.filter(col("doc_id") % 3 === 2 && col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        concat(coalesce(col("lang"), lit("")), lit("X")).as("new_lang"))
    val keyType = d.schema("doc_id").dataType
    val source = changes.unionByName(freshKeys)
      .select(col("doc_id"), col("doc_id").as("real_k"), col("new_lang"))
      .unionByName(changes.filter(col("doc_id") % 12 =!= 0)
        .select(lit(null).cast(keyType).as("doc_id"),
          col("doc_id").as("real_k"), col("new_lang")))
    VersionedTable.merge(s, root, spec, source,
      matchedUpdate = Map("status" -> lit("closed")),
      matchedUpdateCond = Some(col("status") === "current" &&
        !(col("lang") <=> col("src_new_lang"))),
      notMatchedInsert = Map(
        "doc_id" -> col("src_real_k"),
        "lang" -> col("src_new_lang"),
        "status" -> lit("current")),
      layout = layout)
    retirePrevDir(mergeScd2Prev, root)
    VersionedTable.read(s, root).groupBy("lang", "status")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id").cast("long")).as("sum_ids"))
  }

  private val deleteBandPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Metadata-only band DELETE (`layout_delete_band`,
    * [[graft.operators.VersionedTable.deleteBand]]): the
    * drop-partition economics — under the range-clustered layout a
    * `DELETE WHERE n_chars BETWEEN 150 AND 600` drops every
    * fully-in-band file from the manifest WITHOUT reading it and
    * deletion-vectors only the straddlers. The gate require()s the
    * mechanism directly: at least one file dropped metadata-only,
    * ZERO new data files written (the post-delete file set is a
    * strict subset of the pre-delete one), and a spanning change-feed
    * window folds across the commit (dropped files + DV delta ARE the
    * content diff). The oracle restates the surviving rows.
    *
    * Scale shape (100 TB): the nightly retention purge is a manifest
    * filter + ≤2 straddler scans — never a table-wide bloom probe or
    * band rewrite.
    */
  def layoutDeleteBand(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_dband").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0),
      root, spec, layout)
    val mv0 = mvLangAgg(VersionedTable.readVersion(s, root, v1))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1),
      root, spec, layout)
    val before = VersionedTable.manifest(s, root)
      .select("file").collect().map(_.getString(0)).toSet
    val v3 = VersionedTable.deleteBand(s, root, spec, "n_chars", 150, 600)
    val after = VersionedTable.manifest(s, root)
      .select("file").collect().map(_.getString(0)).toSet
    require(after.subsetOf(before) && after.size < before.size,
      s"band delete must drop files metadata-only and write none " +
        s"(${before.size} -> ${after.size})")
    val meta = VersionedTable.versionMeta(root, v3)
    require(meta("n_dropped_files").toInt >= 1,
      "the clustered layout must yield at least one fully-in-band file")
    // the feed folds across the metadata delete: dropped files + DV
    // delta carry the full deleted payloads
    val folded = mvLangFold(mv0, VersionedTable.changeFeed(s, root, v1, v3))
    retirePrevDir(deleteBandPrev, root)
    mvLangAgg(VersionedTable.read(s, root))
      .select(lit("1_head").as("slice"), col("lang"), col("n_docs"),
        col("sum_chars"))
      .unionByName(folded.select(lit("2_folded").as("slice"), col("lang"),
        col("n_docs"), col("sum_chars")))
  }

  private val hiddenPartPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Hidden partitioning (`layout_hidden_partition`,
    * [[graft.operators.PartitionTransform]]): the table declares
    * `bucket(8, doc_id)` as TABLE METADATA; writers cluster files by
    * the derived bucket, the manifest carries per-file min/max of the
    * bucket value, and a reader's point lookup on RAW `doc_id` prunes
    * through the transform inside the manifest filter — no partition
    * column stored in data files, no transform spelled in the query
    * (the Iceberg hidden-partitioning contract; the Hive failure it
    * retires is a raw-column predicate silently full-scanning a
    * derived-column-partitioned table). The gate require()s the prune
    * directly — each probe's survivor set is a small fraction of the
    * manifest across BOTH generations — and hashes probe rows + the
    * head aggregate against the raw restatement.
    *
    * Scale shape (100 TB): raw min/max can never serve a point lookup
    * on a high-cardinality column under any other clustering (every
    * file's [min, max] spans ~the whole id domain); bucket(N) makes
    * the lookup read ~1/N of the files regardless of what else the
    * layout optimizes for, and the prune itself is a manifest filter
    * — planning-time, file-count rows.
    */
  def layoutHiddenPartition(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{BucketTransform, PartitionTransform, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val bucket = BucketTransform(8, "doc_id")
    val layout = PartitionTransform.clusterLayout(8, Seq(bucket))
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_hpart").toString
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec,
      layout, transforms = Seq(bucket))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    val total = VersionedTable.manifest(s, root).count()
    val probes = Seq(1L, 300L, 400L)
    probes.foreach { p =>
      val hit = VersionedTable.partitionSurvivorFiles(s, root, "doc_id", p).length
      require(hit * 4 <= total,
        s"bucket(8) point lookup must prune: kept $hit of $total files for doc_id=$p")
    }
    val probeRows = probes.map { p =>
      VersionedTable.partitionPrunedRead(s, root, "doc_id", p)
        .filter(col("doc_id") === p)
        .select(lit(s"1_probe_$p").as("slice"), col("lang"),
          lit(1L).as("n_docs"), col("n_chars").cast("long").as("sum_chars"))
    }.reduce(_.unionByName(_))
    retirePrevDir(hiddenPartPrev, root)
    probeRows.unionByName(
      mvLangAgg(VersionedTable.read(s, root))
        .select(lit("2_head").as("slice"), col("lang"), col("n_docs"),
          col("sum_chars")))
  }

  private val partEvolvePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Partition-spec evolution (`layout_partition_evolution`,
    * [[graft.operators.VersionedTable.evolvePartitioning]]): Iceberg's
    * flagship — an UNPARTITIONED table declares `bucket(8, doc_id)` in
    * a zero-rewrite property commit; data written before the evolution
    * keeps NULL transform stats and every pruned read KEEPS it
    * (correct, unpruned — pruning a NULL-stat file would lose rows),
    * while data written after carries tight stats and prunes. One
    * manifest filter serves the mixed table; old data ages into the
    * new spec through natural rewrites, never a forced 100 TB
    * rewrite. The gate require()s both halves of the contract — every
    * pre-evolution file survives the probe AND the post-evolution
    * generation strictly prunes — and hashes a pre-evolution probe, a
    * post-evolution probe, and the head aggregate against the raw
    * restatement.
    */
  def layoutPartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{BucketTransform, PartitionTransform, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val bucket = BucketTransform(8, "doc_id")
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_pevo").toString
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec,
      layout = _.repartition(4))
    val oldFiles = VersionedTable.manifest(s, root)
      .select("file").collect().map(_.getString(0)).toSet
    VersionedTable.evolvePartitioning(s, root, Seq(bucket))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec,
      PartitionTransform.clusterLayout(8, Seq(bucket)))
    val total = VersionedTable.manifest(s, root).count()
    val survivors = VersionedTable
      .partitionSurvivorFiles(s, root, "doc_id", 400L).toSet
    require(oldFiles.subsetOf(survivors),
      "a pre-evolution (NULL-stat) file must never prune")
    require(survivors.size < total,
      s"post-evolution files must prune: kept ${survivors.size} of $total")
    val probeRows = Seq(300L, 400L).map { p =>
      VersionedTable.partitionPrunedRead(s, root, "doc_id", p)
        .filter(col("doc_id") === p)
        .select(lit(s"1_probe_$p").as("slice"), col("lang"),
          lit(1L).as("n_docs"), col("n_chars").cast("long").as("sum_chars"))
    }.reduce(_.unionByName(_))
    retirePrevDir(partEvolvePrev, root)
    probeRows.unionByName(
      mvLangAgg(VersionedTable.read(s, root))
        .select(lit("2_head").as("slice"), col("lang"), col("n_docs"),
          col("sum_chars")))
  }

  private val metaDistinctPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Metadata-only APPROX COUNT DISTINCT (`layout_metadata_distinct`,
    * [[graft.operators.VersionedTable.metadataDistinct]]): the
    * manifest's per-file KMV key sketches merge (min-k union,
    * lossless) into the same estimate the sketch aggregate computes
    * over the raw table — bit-equal, which is exactly what the hash
    * proves against the oracle's direct KMV restatement. Completes
    * the metadata-only aggregate family (COUNT/MIN/MAX → DISTINCT);
    * the zero-IO claim and the DV refusal are spec-pinned.
    */
  def layoutMetadataDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13,
      keySketch = true)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_mdist").toString
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec,
      layout = _.repartition(4))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec,
      layout = _.repartition(4))
    retirePrevDir(metaDistinctPrev, root)
    VersionedTable.metadataDistinct(s, root)
  }

  private val applyChangesPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val applyChangesPrev2 =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** CDC table replication (`layout_apply_changes`,
    * [[graft.operators.VersionedTable.applyChanges]]): the Delta
    * APPLY CHANGES INTO pattern — a replica bootstraps from the
    * source's v1 and then stays current by folding change-feed
    * windows, each window ONE atomic merge-on-read commit (update =
    * DV old + append new), idempotent by `applied_upto`. The source
    * runs a four-verb chain (create → append → MERGE update →
    * DV-delete), the replica applies it in TWO windows with a
    * redelivery in between (require()d to no-op), and the gate hashes
    * SOURCE and REPLICA head aggregates against ONE restatement — any
    * lost pre-image, double-applied window, or misrouted insert
    * diverges the slices. Bootstrap generation files are require()d
    * to survive in the replica's final manifest (merge-on-read
    * replication, never a rewrite).
    *
    * Scale shape (100 TB): a cross-cluster mirror pays feed bytes +
    * bloom-probed holders per window — never table bytes; chaining
    * works because the apply commit is itself feed-safe.
    */
  def layoutApplyChanges(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val src = java.nio.file.Files.createTempDirectory("graft_cdc_src").toString
    val rep = java.nio.file.Files.createTempDirectory("graft_cdc_rep").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0),
      src, spec, layout)
    // replica bootstrap = the source's v1, applied_upto stamped
    VersionedTable.create(s, VersionedTable.readVersion(s, src, v1), rep, spec,
      layout, extraMeta = Map("applied_upto" -> v1))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), src, spec, layout)
    VersionedTable.merge(s, src, spec,
      d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars")),
      matchedUpdate = Map("n_chars" -> col("src_n_chars")),
      insertNotMatched = false, layout = layout)
    val v4 = VersionedTable.deleteRosterDV(s, src, spec,
      d.filter(col("doc_id") % 13 === 0).select(col("doc_id")))
    val bootFiles = VersionedTable.manifest(s, rep)
      .select("file").collect().map(_.getString(0)).toSet
    // window 1: three verbs, one commit on the replica
    require(VersionedTable.applyChanges(s, rep, spec,
      VersionedTable.changeFeed(s, src, v1, v4), v4, layout).isDefined)
    // redelivered window must no-op (exactly-once from at-least-once)
    require(VersionedTable.applyChanges(s, rep, spec,
      VersionedTable.changeFeed(s, src, v1, v4), v4, layout).isEmpty,
      "a redelivered window must no-op")
    // window 2: an incremental delete
    val v5 = VersionedTable.deleteRosterDV(s, src, spec,
      d.filter(col("doc_id") % 17 === 0).select(col("doc_id")))
    require(VersionedTable.applyChanges(s, rep, spec,
      VersionedTable.changeFeed(s, src, v4, v5), v5, layout).isDefined)
    val repFiles = VersionedTable.manifest(s, rep)
      .select("file").collect().map(_.getString(0)).toSet
    require(bootFiles.subsetOf(repFiles),
      "replication must be merge-on-read: bootstrap files survive")
    retirePrevDir(applyChangesPrev, src)
    retirePrevDir(applyChangesPrev2, rep)
    mvLangAgg(VersionedTable.read(s, src))
      .select(lit("1_source").as("slice"), col("lang"), col("n_docs"),
        col("sum_chars"))
      .unionByName(mvLangAgg(VersionedTable.read(s, rep))
        .select(lit("2_replica").as("slice"), col("lang"), col("n_docs"),
          col("sum_chars")))
  }

  private val applyChangesSeqPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** APPLY CHANGES ... SEQUENCE BY (`layout_apply_changes_seq`,
    * [[graft.operators.VersionedTable.applyChangesSeq]]): an EXTERNAL
    * out-of-order CDC feed — multiple ops per key in one window, late
    * rows, shuffled arrival — resolved to the net op per key by the
    * sequence column (highest wins; at an equal sequence an insert
    * outranks a delete — the fixture engineers exactly that tie) and
    * folded as one atomic merge-on-read commit per window. Two
    * windows, then the two redeliveries that break a naive replica:
    * the SAME window again and the OLDER window after a newer one —
    * both require()d to no-op (the `applied_upto` watermark, which
    * survives maintenance commits by inheritance). The oracle
    * restates the full resolution — the feed unions, the
    * `row_number() OVER (ORDER BY seq DESC, change_type DESC)`
    * window, and the two folds — so a wrong tie-break, a lost
    * late-arriving op, or a re-applied window all hash-diverge.
    *
    * Scale shape (100 TB): resolution is ONE shuffle over WINDOW rows
    * (never table rows); each fold pays window rows + bloom-probed
    * holder files — a cross-cluster mirror consuming a raw Kafka-CDC
    * topic pays topic bytes, not table bytes.
    */
  def layoutApplyChangesSeq(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val rep = java.nio.file.Files.createTempDirectory("graft_cdcseq_rep").toString
    VersionedTable.create(s, d.filter(col("doc_id") < 300), rep, spec,
      extraMeta = Map("applied_upto" -> "v1"))
    def op(rows: DataFrame, ct: String, seq: Int): DataFrame =
      rows.withColumn("change_type", lit(ct)).withColumn("seq", lit(seq))
    val feed1 = op(d.filter(col("doc_id") < 100)
        .withColumn("n_chars", col("n_chars") + 1000), "insert", 1)
      .unionByName(op(d.filter(col("doc_id") < 100 && col("doc_id") % 3 === 0),
        "delete", 2))
      .unionByName(op(d.filter(col("doc_id") < 100 && col("doc_id") % 5 === 0)
        .withColumn("n_chars", col("n_chars") + 3000), "insert", 3))
      .unionByName(op(d.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 1000), "insert", 1))
      // the engineered equal-sequence tie: insert must outrank delete
      .unionByName(op(d.filter(col("doc_id") === 42)
        .withColumn("n_chars", col("n_chars") + 9000), "insert", 9))
      .unionByName(op(d.filter(col("doc_id") === 42), "delete", 9))
      // arrival order scrambled — resolution must not depend on it
      .repartition(7, col("seq"))
    val feed2 = op(d.filter(col("doc_id") >= 200 && col("doc_id") < 240),
        "delete", 7)
      .unionByName(op(d.filter(col("doc_id") >= 150 && col("doc_id") < 160)
        .withColumn("n_chars", col("n_chars") + 500), "insert", 1))
      .repartition(5, col("doc_id"))
    require(VersionedTable.applyChangesSeq(s, rep, spec, feed1, "v2", "seq")
      .isDefined, "window 1 must apply")
    require(VersionedTable.applyChangesSeq(s, rep, spec, feed2, "v3", "seq")
      .isDefined, "window 2 must apply")
    require(VersionedTable.applyChangesSeq(s, rep, spec, feed2, "v3", "seq")
      .isEmpty, "a redelivered window must no-op")
    require(VersionedTable.applyChangesSeq(s, rep, spec, feed1, "v2", "seq")
      .isEmpty,
      "an OUT-OF-ORDER redelivery of an older window must no-op — " +
        "re-applying it would resurrect stale key values")
    retirePrevDir(applyChangesSeqPrev, rep)
    VersionedTable.read(s, rep).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** Triangle census over the near-dup pair graph (`graph_triangles`,
    * [[graft.operators.Triangles]]): per-node triangle participation
    * plus the global count (node = -1), by degree-ordered node
    * iteration — wedge work Σ out-deg² bounded O(E^1.5), no hub
    * explosion. The dedup-QA reading: triangle density separates
    * true duplicate CLUSTERS (transitive) from similarity CHAINS
    * (a~b~c without a~c) — the difference between safe cluster
    * collapse and over-merging. The pair frame is checkpointed once
    * (lesson 24: four downstream branches would re-run the minhash
    * pipeline per branch); exact-integer counts, so the oracle states
    * the algorithm-independent spec (all three edges present,
    * x < y < z) with no orientation.
    */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Checkpoints.materialize(
      dedupMinhashLsh(s, dir)
        .select(col("doc_id_1").as("a"), col("doc_id_2").as("b")))
    graft.operators.Triangles.census(pairs)
  }

  /** Global transitivity of the near-dup pair graph
    * (`graph_transitivity`): 3·triangles / wedges as an exact-integer
    * ppm ratio (wedges = Σ deg·(deg−1)/2) — the one-number dedup-QA
    * dial on top of [[graphTriangles]]: ≈10⁶ ppm means near-dup
    * clusters are transitive (safe to collapse), low ppm means the
    * detector is producing similarity CHAINS whose collapse would
    * over-merge. Same checkpointed pair frame; all quantities
    * integer, so the ratio hash-gates (`div` ≡ DuckDB `//`).
    */
  def graphTransitivity(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Checkpoints.materialize(
      dedupMinhashLsh(s, dir)
        .select(col("doc_id_1").as("a"), col("doc_id_2").as("b")))
    val tri = graft.operators.Triangles.census(pairs)
      .filter(col("node") === -1L).select(col("n_tri"))
    val wedges = pairs.select(col("a").as("node"))
      .unionByName(pairs.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .agg(sum(col("deg") * (col("deg") - 1)).as("tw"))
      .select(expr("tw div 2").as("n_wedges"))
    tri.crossJoin(wedges).select(col("n_tri"), col("n_wedges"),
      when(col("n_wedges") === 0L, lit(0L))
        .otherwise(expr("(3 * n_tri * 1000000) div n_wedges"))
        .as("transitivity_ppm"))
  }

  private val partRosterPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Hidden-partition ROSTER lookup (`layout_partition_roster`,
    * [[graft.operators.VersionedTable.partitionPrunedIn]]): the batch
    * point-lookup shape — a GDPR roster of 4 doc_ids against the
    * bucket(8)-partitioned table reads only the files whose bucket
    * stats can hold ANY of the roster's transform images (one
    * manifest filter, each image computed in-plan), then the exact IN
    * predicate. The gate require()s the union prune (≤ roster-many
    * buckets of files survive across both generations) and hashes the
    * roster rows against the raw restatement.
    *
    * Scale shape (100 TB): a k-key roster reads ~min(k, N)/N of the
    * files BEFORE the row-level bloom/semi-join machinery sees a
    * byte — file-level skipping is the only layer whose cost doesn't
    * touch the table at all.
    */
  def layoutPartitionRoster(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{BucketTransform, PartitionTransform, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val bucket = BucketTransform(8, "doc_id")
    val layout = PartitionTransform.clusterLayout(8, Seq(bucket))
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_prost").toString
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec,
      layout, transforms = Seq(bucket))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    val roster = Seq[Any](1L, 300L, 400L, 451L)
    val total = VersionedTable.manifest(s, root).count()
    val pruned = VersionedTable.partitionPrunedIn(s, root, "doc_id", roster)
    val kept = pruned.select(input_file_name()).distinct().count()
    require(kept * 2 <= total,
      s"the roster prune must skip most files (kept $kept of $total)")
    retirePrevDir(partRosterPrev, root)
    pruned.filter(col("doc_id").isin(roster: _*))
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  private val mergeEvolvePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** MERGE with schema evolution (`layout_merge_evolve`, the Delta
    * autoMerge posture): one merge whose source carries a column the
    * table lacks (`quality`) lands updates (SET from source), inserts
    * (source value by default) AND the new column in one atomic
    * commit — existing files never rewrite, untouched rows read the
    * new column as NULL through the merged read schema. The gate
    * require()s the schema grew, that bootstrap files survived
    * by name (merge-on-read, not a rewrite), and hashes the
    * per-language rollup INCLUDING the evolution column's count/sum
    * (NULL-for-untouched is part of the statement).
    *
    * Scale shape (100 TB): the backfill-free column add every feature
    * pipeline wants — pay the batch, never the table; the column
    * back-fills lazily through natural rewrites.
    */
  def layoutMergeEvolve(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("doc_id"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_mev").toString
    VersionedTable.create(s, d.filter(col("doc_id") % 3 < 2), root, spec)
    val before = VersionedTable.manifest(s, root)
      .select("file").collect().map(_.getString(0)).toSet
    val src = d.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") + 1000L).as("n_chars"),
        (col("n_chars") % 7).as("quality"))
    VersionedTable.merge(s, root, spec, src,
      matchedUpdate = Map("n_chars" -> col("src_n_chars"),
        "quality" -> col("src_quality")),
      allowEvolution = true)
    val head = VersionedTable.read(s, root)
    require(head.columns.contains("quality"),
      "the merge must evolve the schema")
    val after = VersionedTable.manifest(s, root)
      .select("file").collect().map(_.getString(0)).toSet
    require(before.subsetOf(after),
      "evolution must not rewrite existing files (merge-on-read)")
    retirePrevDir(mergeEvolvePrev, root)
    head.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        count(col("quality")).as("n_quality"),
        sum(col("quality").cast("long")).as("sum_quality"))
  }

  private val typeWidenPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Type widening (`layout_type_widening`,
    * [[graft.operators.VersionedTable.widenColumn]]): the id-column-
    * outgrew-INT migration as a ZERO-REWRITE property commit — two
    * narrow (INT) generations land, the widen commit flips the read
    * schema to BIGINT immediately (require()d before any wide data
    * exists), then a generation with values past 2³¹ appends. Old
    * files stay narrow on disk and upcast at scan (the wide-merged
    * read schema); the manifest's stat spine coerces through the
    * sidecar union, so a band prune above INT range is require()d to
    * read ONLY the wide generation's files. The hash states the
    * mixed-width sum no single-width table could hold.
    *
    * Scale shape (100 TB): the alternative is the full-table rewrite
    * every pre-widening engine schedules when ids overflow — here
    * it's one manifest-sized commit and the old bytes age out through
    * natural maintenance.
    */
  def layoutTypeWidening(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_small"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def narrow(m: Long) = d.filter(col("doc_id") % 3 === m)
      .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_small"))
    val root = java.nio.file.Files.createTempDirectory("graft_widen").toString
    VersionedTable.create(s, narrow(0), root, spec)
    VersionedTable.append(s, narrow(1), root, spec)
    VersionedTable.widenColumn(s, root, spec, "n_small", "bigint")
    require(VersionedTable.read(s, root).schema("n_small").dataType ==
      org.apache.spark.sql.types.LongType,
      "the read schema must widen at the property commit, before wide data")
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") + lit(3000000000L)).as("n_small")), root, spec)
    // the stat spine coerces through the sidecar union: a band above
    // INT range must plan only the wide generation's files
    val wide = VersionedTable.prunedRead(s, root, "n_small",
      3000000000L, Long.MaxValue)
    require(wide.select(input_file_name()).distinct().count() <
      VersionedTable.manifest(s, root).count(),
      "the over-INT band must prune the narrow generations")
    require(wide.filter(col("n_small") >= 3000000000L).count() ==
      d.filter(col("doc_id") % 3 === 2).count(),
      "the wide generation must read back complete")
    retirePrevDir(typeWidenPrev, root)
    VersionedTable.read(s, root).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_small")).as("sum_small"))
  }

  private val branchWapPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val branchWapBrPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Branch + WRITE-AUDIT-PUBLISH (`layout_branch_wap`,
    * [[graft.operators.VersionedTable.fastForward]]): the risky
    * rewrite — an append plus a roster DV-delete — stages on a BRANCH
    * (a [[graft.operators.VersionedTable.shallowClone]] whose v1
    * records its base), the audit runs expectations against the
    * branch READ while main's head is require()d UNCHANGED, and only
    * then does `fastForward` publish the branch head onto main as one
    * atomic commit. The gate also require()s the stale-base refusal
    * (a second fast-forward of the same branch throws
    * PublishConflict — main has moved past the base) and that time
    * travel to the base version still reads the pre-branch content.
    *
    * Scale shape (100 TB): the branch pays the verbs' IO once; the
    * publish is one manifest swap — unaudited rows are never visible
    * to main's readers, the Iceberg WAP economics.
    */
  def layoutBranchWap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Publish, VersionedTable}
    val spec = VersionedTable.Spec(Seq("doc_id"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val main = java.nio.file.Files.createTempDirectory("graft_wap_m").toString
    val br = java.nio.file.Files.createTempDirectory("graft_wap_b").toString + "/b"
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), main, spec)
    val vBase = VersionedTable.headVersion(main).get
    VersionedTable.shallowClone(s, main, br)
    // WRITE: the risky rewrite stages on the branch only
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), br, spec)
    VersionedTable.deleteRosterDV(s, br, spec,
      d.filter(col("doc_id") % 11 === 0).select(col("doc_id")))
    require(VersionedTable.headVersion(main).contains(vBase),
      "branch writes must not move main's head (isolation)")
    // AUDIT: expectations against the branch read, before main sees a row
    require(VersionedTable.read(s, br)
      .filter(col("doc_id") % 11 === 0).count() == 0L,
      "audit: the roster delete must hold on the branch")
    // PUBLISH: one atomic manifest swap
    VersionedTable.fastForward(s, main, br)
    val replayed =
      try { VersionedTable.fastForward(s, main, br); false }
      catch { case _: Publish.PublishConflict => true }
    require(replayed, "a second fast-forward must refuse the stale base")
    require(VersionedTable.readVersion(s, main, vBase).count() ==
      d.filter(col("doc_id") % 3 === 0).count(),
      "time travel to the base must still read pre-branch content")
    retirePrevDir(branchWapPrev, main)
    retirePrevDir(branchWapBrPrev,
      br.substring(0, br.lastIndexOf('/')))
    VersionedTable.read(s, main).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
  }

  private val branchRebaseMainPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val branchRebaseBrPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val branchRebaseBr2Prev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Branch REBASE onto a moved main (`layout_branch_rebase`,
    * [[graft.operators.VersionedTable.rebaseBranch]] — VERDICT r13
    * frontier gap #3): the longer-lived-branch posture. Main and a
    * branch DIVERGE on disjoint keys (branch: append wave-1 + delete
    * `%21==0`; main: append wave-2 + delete `%21==3`), so the
    * fast-forward correctly throws PublishConflict (require()d) — and
    * the rebase replays the branch's own change feed onto main's
    * moved head as one fenced merge-on-read commit, leaving main ≡
    * the serial application of both sides (the oracle states it from
    * the raw table). The UNSAFE case is require()d refused: a second
    * branch and main then touch the SAME keys (`%21==9`), and
    * `rebaseBranch` must throw rather than guess an order — replay is
    * only sound when the divergence windows' key sets are disjoint.
    *
    * Scale shape (100 TB): the rebase pays branch-window rows +
    * main's bloom-probed holders; the overlap check is a semi-join of
    * two window-sized key sets — never ∝ either table.
    */
  def layoutBranchRebase(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Publish, VersionedTable}
    val spec = VersionedTable.Spec(Seq("doc_id"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val main = java.nio.file.Files.createTempDirectory("graft_rb_m").toString
    val br = java.nio.file.Files.createTempDirectory("graft_rb_b").toString + "/b"
    val br2 = java.nio.file.Files.createTempDirectory("graft_rb_b2").toString + "/b"
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), main, spec)
    VersionedTable.shallowClone(s, main, br)
    // the two sides diverge on DISJOINT key sets
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), br, spec)
    VersionedTable.deleteRosterDV(s, br, spec,
      d.filter(col("doc_id") % 21 === 0).select(col("doc_id")))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 2), main, spec)
    VersionedTable.deleteRosterDV(s, main, spec,
      d.filter(col("doc_id") % 21 === 3).select(col("doc_id")))
    val ffRefused =
      try { VersionedTable.fastForward(s, main, br); false }
      catch { case _: Publish.PublishConflict => true }
    require(ffRefused, "a moved main must refuse the fast-forward")
    VersionedTable.rebaseBranch(s, main, br, spec)
    // overlap refusal: a second branch and main touch the SAME keys
    VersionedTable.shallowClone(s, main, br2)
    VersionedTable.deleteRosterDV(s, br2, spec,
      d.filter(col("doc_id") % 21 === 9).select(col("doc_id")))
    VersionedTable.deleteRosterDV(s, main, spec,
      d.filter(col("doc_id") % 21 === 9).select(col("doc_id")))
    val rebased = scala.util.Try(VersionedTable.rebaseBranch(s, main, br2, spec))
    require(rebased.isFailure &&
      rebased.failed.get.getMessage.contains("order-dependent"),
      s"overlapping divergence keys must refuse the replay, got $rebased")
    retirePrevDir(branchRebaseMainPrev, main)
    retirePrevDir(branchRebaseBrPrev, br.substring(0, br.lastIndexOf('/')))
    retirePrevDir(branchRebaseBr2Prev, br2.substring(0, br2.lastIndexOf('/')))
    VersionedTable.read(s, main).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_ids"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
  }

  private val joinPrunePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Runtime file pruning from a JOIN (`layout_join_prune`,
    * [[graft.operators.VersionedTable.joinPrunedRead]]): the
    * star-schema scan under dynamic file pruning — the dim side is a
    * filtered DataFrame (a ~14-key band, NOT driver literals), and
    * the fact table's file set is cut at planning time by the dim's
    * [min, max] band against raw stats, the dim keys' truncate-
    * transform images, and the distributed bloom probe, before the
    * exact broadcast join runs over the survivors. The fixture
    * clusters generation 0 by `truncate(100, doc_id)` range layout
    * (tight single-bin files, lesson 40) and leaves a 2-file
    * unclustered append as the straddler population; the gate
    * require()s the prune (≥2× fewer files read than the manifest
    * lists) and hashes the joined aggregate against the raw
    * restatement.
    *
    * Scale shape (100 TB): planning is two dim passes + a manifest
    * probe join; the fact scan reads band ∪ bloom-hit files — the
    * "one brand, one day" star join stops paying the full fact scan
    * that raw min/max alone can't prevent on an unclustered key.
    */
  def layoutJoinPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{PartitionTransform, TruncateTransform, VersionedTable}
    val spec = VersionedTable.Spec(Seq("doc_id"), "doc_id", 1 << 13)
    val t = TruncateTransform(100, "doc_id")
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_jprune").toString
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec,
      PartitionTransform.clusterLayout(32, Seq(t)), transforms = Seq(t))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec,
      layout = _.repartition(2))
    // the dim arrives as a DataFrame with its own payload — the
    // runtime-filter shape partitionPrunedIn's literal roster can't
    // express; its keys sit in one truncate bin so the band and the
    // image layers both bite
    val dim = Tables.load(s, dir, "documents")
      .filter(col("doc_id").between(100, 199) && col("doc_id") % 7 === 3)
      .select(col("doc_id").as("k"), (col("n_chars") % 7).as("w"))
    val total = VersionedTable.manifest(s, root).count()
    val pruned = VersionedTable.joinPrunedRead(s, root, "doc_id", dim, "k",
      bloomSpec = Some(spec))
    val kept = pruned.select(input_file_name()).distinct().count()
    require(kept * 2 <= total,
      s"the join prune must skip most files (kept $kept of $total)")
    retirePrevDir(joinPrunePrev, root)
    pruned.join(broadcast(dim), pruned("doc_id") === dim("k"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(col("w")).cast("long").as("sum_w"))
  }

  private val partsTablePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** PARTITIONS metadata table (`layout_partitions_table`,
    * [[graft.operators.VersionedTable.partitionsTable]]): live rows
    * per `truncate(200, n_chars)` partition value, with the Iceberg
    * economics made explicit — files PROVABLY single-value (manifest
    * min == max, zero null transform rows, no DV) answer from the
    * manifest with zero data IO; straddlers (an unclustered append)
    * and DV'd files pay a scan of exactly those files. The fixture
    * plants all three populations: a tight generation (32 range
    * partitions over ~10 bins — equal keys can't split, so every
    * non-empty file is single-bin), a 2-file unclustered append
    * (straddlers), and a narrow DV delete (vectored holders); the
    * gate require()s ≥1 file on the metadata-only path and ≥1 on the
    * scan path, then hashes per-bin live counts against the raw
    * restatement.
    *
    * Scale shape (100 TB): scan cost ∝ files not yet tight under the
    * active spec — zero after maintenance; `SELECT partition,
    * count(*)` never touches the clustered bulk.
    */
  def layoutPartitionsTable(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{PartitionTransform, TruncateTransform, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val t = TruncateTransform(200, "n_chars")
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_ptab").toString
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec,
      PartitionTransform.clusterLayout(32, Seq(t)), transforms = Seq(t))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec,
      layout = _.repartition(2))
    // a NARROW roster (≈0.1%) so the bloom probe vectors only a few
    // of the tight files — most stay on the metadata-only path (a
    // wide roster at sf0.1 touches every file and the require fires)
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 997 === 0).select(col("doc_id")))
    val m = VersionedTable.manifest(s, root)
    val sn = t.statName
    val nExact = m.filter(col(s"min_$sn") === col(s"max_$sn") &&
      col(s"nnull_$sn") === 0L && col("dv_path").isNull).count()
    require(nExact >= 1,
      "fixture must keep at least one file on the metadata-only path")
    require(m.count() > nExact,
      "fixture must put at least one file on the scan path")
    retirePrevDir(partsTablePrev, root)
    VersionedTable.partitionsTable(s, root)
      .select(col(sn).as("bin_chars"), col("n_live"))
  }

  private val reclusterWherePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** SELECTIVE OPTIMIZE (`layout_optimize_where`,
    * [[graft.operators.VersionedTable.reclusterWhere]]): the nightly
    * hot-partition re-sort — only files whose n_chars interval
    * intersects [150, 600] rewrite (resolved through their deletion
    * vectors, materializing them); every out-of-band file PASSES
    * THROUGH by name with its manifest row verbatim. The gate
    * require()s the selectivity (every out-of-band file survives
    * by name, ≥1 file rewritten, the rewrite is smaller than the
    * table) and content identity two ways: the head hash against the
    * raw restatement, and a change-feed window SPANNING the commit
    * that segments over it (`dataChange = false`) and folds to the
    * same state.
    *
    * Scale shape (100 TB): planning is the manifest band filter;
    * rewrite IO ∝ the hot band — the verb that keeps a petabyte
    * table's maintenance window constant as the cold bulk grows.
    */
  def layoutOptimizeWhere(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_rw").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0),
      root, spec, layout)
    val mv0 = mvLangAgg(VersionedTable.readVersion(s, root, v1))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 89 === 0).select(col("doc_id")))
    val before = VersionedTable.manifest(s, root)
      .select("file").collect().map(_.getString(0)).toSet
    val vOpt = VersionedTable.reclusterWhere(s, root, spec, "n_chars", 150, 600,
      _.repartitionByRange(4, col("n_chars")).sortWithinPartitions("n_chars"))
    val after = VersionedTable.manifest(s, root)
      .select("file").collect().map(_.getString(0)).toSet
    val nRewritten = VersionedTable.versionMeta(root, vOpt)("n_rewritten").toInt
    require(nRewritten >= 1 && nRewritten < before.size,
      s"the band rewrite must be selective ($nRewritten of ${before.size})")
    require((before intersect after).size == before.size - nRewritten,
      "every out-of-band file must pass through by name")
    // content-identical: the feed SEGMENTS over the rewrite — a
    // window spanning create→append→DV-delete→reclusterWhere folds to
    // the head state
    val folded = mvLangFold(mv0, VersionedTable.changeFeed(s, root, v1, vOpt))
    retirePrevDir(reclusterWherePrev, root)
    mvLangAgg(VersionedTable.read(s, root))
      .select(lit("1_head").as("slice"), col("lang"), col("n_docs"),
        col("sum_chars"))
      .unionByName(folded.select(lit("2_folded").as("slice"), col("lang"),
        col("n_docs"), col("sum_chars")))
  }

  private val historyPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** DESCRIBE HISTORY (`layout_history`,
    * [[graft.operators.VersionedTable.history]]): the commit log as a
    * queryable DataFrame — the gate drives a six-verb chain
    * (create → append → DV-delete → set-constraint → merge →
    * OPTIMIZE), reads the history, and joins each version's verb
    * stamp to that version's ACTUAL row count via time travel. The
    * oracle restates every (version, verb, n_rows) from the raw
    * table, so the hash proves verbs stamp correctly across the whole
    * chain AND each historical version still reads its exact
    * membership (property commits inherit content; the merge's
    * update and the OPTIMIZE rewrite preserve counts).
    *
    * Scale shape (100 TB): history is one `_META` read per version —
    * no data IO; the per-version counts here are the gate's audit,
    * not the verb's cost.
    */
  def layoutHistory(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_hist").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec, layout)
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    VersionedTable.setConstraint(s, root, "chars_present", "n_chars IS NOT NULL")
    VersionedTable.merge(s, root, spec,
      d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars")),
      matchedUpdate = Map("n_chars" -> col("src_n_chars")),
      insertNotMatched = false, layout = layout)
    VersionedTable.optimizeCompact(s, root, spec, targetBytes = 1L << 40)
    val hist = VersionedTable.history(s, root)
      .select("version", "verb").collect()
    retirePrevDir(historyPrev, root)
    hist.map { r =>
      VersionedTable.readVersion(s, root, r.getString(0))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(r.getString(0)).as("version"),
          lit(r.getString(1)).as("verb"), col("n_rows"))
    }.reduce(_.unionByName(_))
  }

  private val vacConsumerTablePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val vacConsumerDerivedPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Consumer-aware VACUUM (`layout_vacuum_consumer`,
    * [[graft.operators.VersionedTable.vacuum]] with `consumers`): the
    * Delta retention-vs-streaming-reader collision closed at the
    * SOURCE — a vacuum given the registered
    * [[graft.operators.FeedConsumer]] derived roots keeps every
    * version a lagging consumer's next window still needs (its
    * `consumed_upto` offset is the diff base), regardless of
    * keepLast. The gate drives the collision: consumer bootstraps at
    * v1, the table takes an append + DV-delete, a keepLast=1 vacuum
    * with the consumer registered retains v1–v3 (require()d), the
    * consumer folds its window — which would have REFUSED had the
    * vacuum purged v1 — and a second keepLast=1 vacuum now reclaims
    * the history the caught-up consumer no longer pins (require()d).
    * The folded MV hashes against the head aggregate: retention
    * served the fold exactly once.
    *
    * Scale shape (100 TB): each consumer offset is one `_META` read;
    * custody is manifest-sized names in the retained set — no data
    * scanned to decide retention.
    */
  def layoutVacuumConsumer(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{FeedConsumer, Publish, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val tableRoot = java.nio.file.Files.createTempDirectory("graft_vc_t").toString
    val derivedRoot = java.nio.file.Files.createTempDirectory("graft_vc_d").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0),
      tableRoot, spec, layout)
    val (_, a1) = FeedConsumer.advance(s, tableRoot, derivedRoot,
      mvLangAgg, mvLangFold)
    require(a1 == "bootstrap", s"first wake must bootstrap, got $a1")
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1),
      tableRoot, spec, layout)
    VersionedTable.deleteRosterDV(s, tableRoot, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    VersionedTable.vacuum(s, tableRoot, keepLast = 1,
      consumers = Seq(derivedRoot))
    val lagging = VersionedTable.publishedVersions(tableRoot)
    require(lagging.size == 3,
      s"lagging consumer must pin v1-v3 against keepLast=1, got $lagging")
    val (_, a2) = FeedConsumer.advance(s, tableRoot, derivedRoot,
      mvLangAgg, mvLangFold)
    require(a2 == "fold", s"second wake must fold, got $a2")
    VersionedTable.vacuum(s, tableRoot, keepLast = 1,
      consumers = Seq(derivedRoot))
    val caught = VersionedTable.publishedVersions(tableRoot)
    require(caught.size == 1,
      s"caught-up consumer pins nothing extra: keepLast=1 must leave " +
        s"one version, got $caught")
    retirePrevDir(vacConsumerTablePrev, tableRoot)
    retirePrevDir(vacConsumerDerivedPrev, derivedRoot)
    Publish.read(s, derivedRoot)
  }

  private val dropColPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** DROP COLUMN as a property commit (`layout_drop_column`,
    * [[graft.operators.VersionedTable.dropColumn]]): the zero-rewrite
    * sibling of the rename — reads hide the column from every
    * generation, new batches omit it, time travel shows each
    * version's own column set. The gate pins the two refusals that
    * make name-mode dropping SAFE: re-introducing the dropped name is
    * refused EVEN under `allowEvolution` (old files' bytes would
    * resurrect through the merged schema — Delta needs column IDs to
    * permit this; we refuse instead of corrupting), and dropping a
    * stat/key column is refused (the pruning spine depends on it).
    *
    * Scale shape (100 TB): one `_META` write hides the column; the
    * bytes age out as rewrites (compaction, CoW deletes) naturally
    * regenerate files without it.
    */
  def layoutDropColumn(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_dropc").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 2 === 0),
      root, spec, layout)
    VersionedTable.dropColumn(s, root, spec, "lang")
    require(!VersionedTable.read(s, root).columns.contains("lang"),
      "the head must hide the dropped column")
    def vetoed(f: => Any): Boolean =
      try { f; false } catch { case _: IllegalArgumentException => true }
    require(vetoed(VersionedTable.append(s, d.filter(col("doc_id") % 2 === 1),
        root, spec, layout, allowEvolution = true)),
      "re-introducing a dropped column must refuse even under evolution")
    require(vetoed(VersionedTable.dropColumn(s, root, spec, "n_chars")),
      "dropping a stat column must refuse — the pruning spine depends on it")
    VersionedTable.append(s, d.filter(col("doc_id") % 2 === 1).drop("lang"),
      root, spec, layout)
    def sl(tag: String, df: DataFrame, nLang: Column): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"),
          nLang.as("n_lang"))
        .select(lit(tag).as("slice"), col("n_docs"), col("sum_ids"), col("n_lang"))
    retirePrevDir(dropColPrev, root)
    sl("1_head", VersionedTable.read(s, root), lit(0L))
      .unionByName(sl("2_v1", VersionedTable.readVersion(s, root, v1),
        count(col("lang"))))
  }

  private val renamePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** RENAME COLUMN via column mapping (`layout_rename_column`,
    * [[graft.operators.VersionedTable.renameColumn]]): the logical
    * name moves in ONE property commit — zero files rewritten (Delta
    * column mapping, name mode). The gate pins the whole contract:
    * the head reads under the NEW name; an un-flagged append still
    * using the OLD name is refused (it is a new column now — E187's
    * enforcement catches exactly the drift a rename creates); a
    * logical-name append lands (written under the stable PHYSICAL
    * name, so old and new files stay one merged schema); time travel
    * to v1 shows the OLD name (each version owns its names); and the
    * stats-spine band prune still fires on the PHYSICAL stat column —
    * pruning survives a rename untouched.
    *
    * Scale shape (100 TB): a rename on a 100 TB table is one `_META`
    * write; the alternative — rewriting every file under the new
    * name — is the cost this mapping exists to avoid.
    */
  def layoutRenameColumn(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_ren").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 2 === 0),
      root, spec, layout)
    VersionedTable.renameColumn(s, root, spec, "n_chars", "len_chars")
    require(
      try { VersionedTable.renameColumn(s, root, spec, "doc_id", "id"); false }
      catch { case _: IllegalArgumentException => true },
      "renaming the bloom key column must refuse — row-replacing verbs " +
        "select it by name")
    require(
      try {
        VersionedTable.append(s, d.filter(col("doc_id") % 2 === 1), root, spec)
        false
      } catch { case _: IllegalArgumentException => true },
      "an append under the pre-rename name must be refused as drift")
    VersionedTable.append(s,
      d.filter(col("doc_id") % 2 === 1).withColumnRenamed("n_chars", "len_chars"),
      root, spec,
      df => df.repartitionByRange(8, col("len_chars"), col("doc_id"))
        .sortWithinPartitions("len_chars"))
    def sl(tag: String, df: DataFrame, c: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"),
          sum(col(c).cast("long")).as("sum_chars"))
        .select(lit(tag).as("slice"), col("n_docs"), col("sum_ids"), col("sum_chars"))
    retirePrevDir(renamePrev, root)
    // the band prune keys on the PHYSICAL stat column; the exact
    // re-filter uses the logical name — both sides of the mapping
    sl("1_head", VersionedTable.read(s, root), "len_chars")
      .unionByName(sl("2_v1", VersionedTable.readVersion(s, root, v1), "n_chars"))
      .unionByName(sl("3_band",
        VersionedTable.prunedRead(s, root, "n_chars", 200, 400)
          .filter(col("len_chars").between(200, 400)), "len_chars"))
  }

  private val updateWherePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Predicate UPDATE as a copy-on-write commit (`layout_update_where`,
    * [[graft.operators.VersionedTable.updateWhere]]): the table is
    * clustered by `n_chars`, takes a DV-delete (the rewrite must
    * resolve it — a deleted row must not resurrect UPDATED), then
    * `UPDATE SET lang='xx' WHERE n_chars BETWEEN 200 AND 400` runs as
    * one column-pruned holder probe + a rewrite of ONLY the band's
    * files — require()d: at least one untouched file's manifest row
    * survives verbatim AND at least one was rewritten (the clustered
    * layout is what makes the probe's holder set a strict subset).
    * The per-lang rollup after the update hashes against the oracle's
    * CASE restatement.
    *
    * Scale shape (100 TB): probe reads the predicate's columns only;
    * rewrite ∝ holder files — a banded predicate under clustering
    * touches the band, not the table.
    */
  def layoutUpdateWhere(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_upd").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d, root, spec, layout)
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 9 === 0).select(col("doc_id")))
    def files(): Set[String] =
      VersionedTable.manifest(s, root).select("file").collect()
        .map(_.getString(0)).toSet
    val before = files()
    VersionedTable.updateWhere(s, root, spec,
      col("n_chars").between(200, 400), Map("lang" -> lit("xx")), layout)
    val after = files()
    require((before & after).nonEmpty,
      "a banded update under clustering must leave some files untouched")
    require((before -- after).nonEmpty, "the update must rewrite the band's holders")
    retirePrevDir(updateWherePrev, root)
    VersionedTable.read(s, root).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
  }

  private val optimizePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** OPTIMIZE bin-packing compaction as a commit
    * (`layout_optimize_compact`,
    * [[graft.operators.VersionedTable.optimizeCompact]]): the
    * small-file half of OPTIMIZE, next to E175/E177's re-sort half —
    * a one-file create plus a 16-file append plant the classic
    * post-streaming fragmentation, a DV-delete lands on BOTH (the
    * rewrite must resolve vectors; the pass-through must keep its
    * pointer), and the verb rewrites ONLY files below target while
    * the at-target file PASSES THROUGH with its manifest row — name,
    * DV pointer, lineage — verbatim (require()d: file count strictly
    * drops AND the largest file's name survives). Content identity
    * and a band read hash against the oracle.
    *
    * Scale shape (100 TB): after N micro-batch commits a partition
    * pays N file opens per read; compaction is the maintenance verb
    * that caps that, reading only the small files (never the table).
    */
  def layoutOptimizeCompact(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_opt").toString
    VersionedTable.create(s, d.filter(col("doc_id") % 2 === 0), root, spec,
      df => df.repartition(1))
    VersionedTable.append(s, d.filter(col("doc_id") % 2 === 1), root, spec,
      df => df.repartition(16))
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 9 === 0).select(col("doc_id")))
    def fileSizes(): Seq[(String, Long)] =
      VersionedTable.manifest(s, root).select("file").collect()
        .map(_.getString(0)).toSeq
        .map(f => f -> java.nio.file.Files.size(
          java.nio.file.Paths.get(f.stripPrefix("file:"))))
    val before = fileSizes()
    val bigFile = before.maxBy(_._2)._1
    VersionedTable.optimizeCompact(s, root, spec,
      targetBytes = before.map(_._2).max)
    val after = fileSizes()
    require(after.length < before.length,
      s"optimize expected fewer files, got ${before.length} -> ${after.length}")
    require(after.exists(_._1 == bigFile),
      "the at-target file must pass through un-rewritten")
    retirePrevDir(optimizePrev, root)
    vtSlice("1_head", VersionedTable.read(s, root))
      .unionByName(vtSlice("2_band",
        VersionedTable.prunedRead(s, root, "n_chars", 200, 400)
          .filter(col("n_chars").between(200, 400))))
  }

  private val consumerTablePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val consumerDerivedPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Checkpointed feed-consumer loop (`layout_feed_consumer`,
    * [[graft.operators.FeedConsumer.advance]]): where the one-window
    * gates fold a feed by hand, this drives the full consumer
    * lifecycle across THREE wakes — bootstrap (state derived from the
    * table head, offset stamped in the same publish), a fold across a
    * two-commit window (append + DV-delete), a crash-REPLAY wake
    * require()d to be a structural no-op (offset == head publishes
    * nothing — the atomic state+offset commit means a replay cannot
    * double-apply), and a final fold across a later append. The
    * derived MV after the last wake hashes against the oracle stating
    * the head aggregate directly, so every window landed exactly
    * once.
    *
    * Scale shape (100 TB): each wake costs ∝ its feed window + the
    * fold (one group-key outer join on MV-sized frames); offsets ride
    * `_META` — the offsets-in-the-sink pattern, no coordinator.
    */
  def layoutFeedConsumer(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{FeedConsumer, Publish, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val tableRoot = java.nio.file.Files.createTempDirectory("graft_fc_t").toString
    val derivedRoot = java.nio.file.Files.createTempDirectory("graft_fc_d").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    def wake(): (String, String) =
      FeedConsumer.advance(s, tableRoot, derivedRoot, mvLangAgg, mvLangFold)
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0),
      tableRoot, spec, layout)
    val (_, a1) = wake()
    require(a1 == "bootstrap", s"first wake must bootstrap, got $a1")
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1),
      tableRoot, spec, layout)
    VersionedTable.deleteRosterDV(s, tableRoot, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    val (v2, a2) = wake()
    require(a2 == "fold", s"second wake must fold, got $a2")
    val (v3, a3) = wake()
    require(a3 == "noop" && v3 == v2,
      s"replay wake must be a structural no-op, got $a3 ($v2 -> $v3)")
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 2),
      tableRoot, spec, layout)
    val (_, a4) = wake()
    require(a4 == "fold", s"fourth wake must fold, got $a4")
    retirePrevDir(consumerTablePrev, tableRoot)
    retirePrevDir(consumerDerivedPrev, derivedRoot)
    Publish.read(s, derivedRoot)
  }

  private val restoreTagPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** RESTORE + tag custody (`layout_restore_tag`,
    * [[graft.operators.VersionedTable.restore]] /
    * [[graft.operators.VersionedTable.tag]]): the rollback-and-pin
    * pair every production table needs — v1 is TAGGED (`run47`, the
    * "snapshot we trained on" ref), the table then appends and
    * DV-deletes, and RESTORE(v2) makes the pre-delete content the
    * head via a NEW commit (an UNDELETE: nothing rewound, the rolled-
    * back versions stay in history). The gate require()s the feed
    * algebra refuses windows across the restore (un-deletes are
    * inexpressible in the DV-delta feed), then VACUUMs with
    * keepLast=1 and proves custody: the tagged v1 still reads its
    * exact slice while the untagged v2 is retired (readVersion
    * refuses by name). Head and tag slices both hash.
    *
    * Scale shape (100 TB): restore is one manifest write (file
    * references flip, no data moves); a tag is one ref file whose
    * custody rides the existing referenced-set walk.
    */
  def layoutRestoreTag(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_restore").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 2 === 0),
      root, spec, layout)
    VersionedTable.tag(root, "run47", v1)
    val v2 = VersionedTable.append(s, d.filter(col("doc_id") % 2 === 1),
      root, spec, layout)
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    val v4 = VersionedTable.restore(s, root, v2)
    // the restore's writer-side CDC makes the window FOLDABLE: the
    // DV-delete's deletes and the restore's UN-deletes net to zero, so
    // the v2-state MV folded through the spanning window must equal
    // the head aggregate exactly
    val mv2 = mvLangAgg(VersionedTable.readVersion(s, root, v2))
    val folded = mvLangFold(mv2, VersionedTable.changeFeed(s, root, v2, v4))
    val headAgg = mvLangAgg(VersionedTable.read(s, root))
    require(folded.exceptAll(headAgg).isEmpty && headAgg.exceptAll(folded).isEmpty,
      "folding the feed across a restore must reproduce the head " +
        "aggregate (deletes and un-deletes net out)")
    VersionedTable.vacuum(s, root, keepLast = 1)
    require(
      try { VersionedTable.readVersion(s, root, v2); false }
      catch { case _: Throwable => true },
      "the untagged v2 must be retired by keepLast=1")
    retirePrevDir(restoreTagPrev, root)
    vtSlice("1_head", VersionedTable.read(s, root))
      .unionByName(vtSlice("2_tag", VersionedTable.readTag(s, root, "run47")))
  }

  private val asOfTsPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** TIMESTAMP AS OF (`layout_time_travel_ts`,
    * [[graft.operators.VersionedTable.readAsOfTs]]): version-name time
    * travel (E133) resolved by COMMIT STAMP instead — every verb's
    * meta carries a `commit_ts`, and `readAsOfTs(ts)` reads the
    * newest version at or before it, with unstamped property commits
    * (a set-constraint between data commits here) resolved by
    * inheritance to the preceding stamp's instant. Three probes:
    * before the append, between append and delete (landing ON the
    * property commit — content must equal the append's), and after
    * the DV delete; a probe before the first stamp is require()d to
    * refuse.
    *
    * Scale shape (100 TB): resolution reads version `_META` files
    * only (O(versions)); the read itself is the normal manifest read.
    */
  def layoutTimeTravelTs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_asof").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d.filter(col("doc_id") % 2 === 0), root, spec,
      layout, extraMeta = Map("commit_ts" -> "100"))
    VersionedTable.append(s, d.filter(col("doc_id") % 2 === 1), root, spec,
      layout, extraMeta = Map("commit_ts" -> "200"))
    // an unstamped property commit between the data commits: asOf(250)
    // must land on it (same content as the append)
    VersionedTable.setConstraint(s, root, "n_chars_pos", "n_chars > 0")
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 7 === 0).select(col("doc_id")),
      extraMeta = Map("commit_ts" -> "300"))
    require(
      try { VersionedTable.readAsOfTs(s, root, 50L); false }
      catch { case _: IllegalArgumentException => true },
      "a probe before the first stamp must refuse")
    retirePrevDir(asOfTsPrev, root)
    vtSlice("1_t100", VersionedTable.readAsOfTs(s, root, 100L))
      .unionByName(vtSlice("2_t250", VersionedTable.readAsOfTs(s, root, 250L)))
      .unionByName(vtSlice("3_t999", VersionedTable.readAsOfTs(s, root, 999L)))
  }

  private val lineagePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Row-level commit lineage (`layout_commit_lineage`,
    * [[graft.operators.VersionedTable.readWithCommitVersion]]): the
    * head read with every row stamped by the version that INTRODUCED
    * its file, derived from the manifest history alone (Delta CDF's
    * `_commit_version` for inserts). Four commits — create, append,
    * DV-delete (merge-on-read: no file churn, so lineage survives the
    * delete), append — and the per-version rollup hashes against the
    * oracle's membership arithmetic: v1 owns the surviving create
    * rows, v2 the surviving first-append rows, v3 (the delete)
    * introduces NO rows, v4 owns the second append whole (the delete
    * predates it).
    *
    * Scale shape (100 TB): attribution is ∝ versions × manifest rows
    * (file counts); the stamp lands via one broadcast map join — no
    * lineage column is ever stored, the manifest IS the provenance.
    */
  def layoutCommitLineage(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_lineage").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec, layout)
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 2), root, spec, layout)
    retirePrevDir(lineagePrev, root)
    VersionedTable.readWithCommitVersion(s, root)
      .groupBy("_commit_version")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
  }

  private val constraintsPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Durable CHECK constraints enforced at commit time
    * (`layout_table_constraints`,
    * [[graft.operators.VersionedTable.setConstraint]]): constraints
    * are versioned table properties riding every manifest's `_META`
    * (set/drop are property commits; every later commit inherits
    * them), and every row-introducing verb validates its batch BEFORE
    * anything is written — a violating append is vetoed atomically
    * (require()d: head unmoved, read unchanged), and adding a
    * constraint that EXISTING data violates is refused (the Delta
    * `ADD CONSTRAINT` contract: a constraint is true the moment it
    * exists). The vetoed-state and committed-state memberships both
    * hash against the oracle.
    *
    * Scale shape (100 TB): enforcement is one scan of the BATCH (not
    * the table) fused into the commit; the property set is O(bytes)
    * in `_META`, surviving unrelated commits for free.
    */
  def layoutTableConstraints(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_cons").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0), root, spec, layout)
    VersionedTable.setConstraint(s, root, "n_chars_pos", "n_chars > 0")
    VersionedTable.setConstraint(s, root, "has_id", "doc_id IS NOT NULL")
    val headBefore = VersionedTable.headVersion(root)
    def vetoed(f: => Any): Boolean =
      try { f; false } catch { case _: IllegalArgumentException => true }
    require(vetoed(VersionedTable.append(s,
        d.filter(col("doc_id") % 3 === 2)
          .withColumn("n_chars", -col("n_chars") - 1), root, spec, layout)),
      "violating append must be vetoed")
    require(VersionedTable.headVersion(root) == headBefore,
      "a vetoed append must not move the head")
    require(vetoed(VersionedTable.setConstraint(s, root, "too_short", "n_chars < 100")),
      "a constraint existing data violates must be refused")
    val afterVeto = vtSlice("1_vetoed", VersionedTable.read(s, root))
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1), root, spec, layout)
    require(VersionedTable.constraints(root).keySet == Set("n_chars_pos", "has_id"),
      s"constraints must survive commits, got ${VersionedTable.constraints(root)}")
    retirePrevDir(constraintsPrev, root)
    afterVeto.unionByName(vtSlice("2_committed", VersionedTable.read(s, root)))
  }

  private val metaAggPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Metadata-only aggregates (`layout_metadata_agg`,
    * [[graft.operators.VersionedTable.metadataAgg]]): COUNT/MIN/MAX
    * answered from the MANIFEST alone — `count = Σ(n_rows −
    * n_deleted)` stays exact THROUGH a DV delete (the accounting the
    * merge-on-read commit maintains), while min/max are require()d to
    * REFUSE on a vectored table (per-file stats are physical
    * supersets — the DV may have deleted the extreme row) and return
    * again after [[graft.operators.VersionedTable.compactDeletes]]
    * restores tightness. The spec proves the zero-IO claim directly:
    * the count still answers with every data file REMOVED from disk.
    *
    * Scale shape (100 TB): `SELECT count(*)` in manifest-row time —
    * the Delta metadata-only query optimization, with the
    * staleness hazard made an explicit refusal instead of a wrong
    * answer.
    */
  def layoutMetadataAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_magg").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    VersionedTable.create(s, d.filter(col("doc_id") % 2 === 0), root, spec, layout)
    VersionedTable.append(s, d.filter(col("doc_id") % 2 === 1), root, spec, layout)
    def slice(tag: String, withMinMax: Boolean): DataFrame =
      if (withMinMax)
        VersionedTable.metadataAgg(s, root, Some("n_chars"))
          .select(lit(tag).as("slice"), col("n_rows"),
            col("min_n_chars"), col("max_n_chars"))
      else
        VersionedTable.metadataAgg(s, root, None)
          .select(lit(tag).as("slice"), col("n_rows"),
            lit(null).cast("long").as("min_n_chars"),
            lit(null).cast("long").as("max_n_chars"))
    val full = slice("1_full", withMinMax = true)
    VersionedTable.deleteRosterDV(s, root, spec,
      d.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    require(
      try { VersionedTable.metadataAgg(s, root, Some("n_chars")); false }
      catch { case _: IllegalArgumentException => true },
      "min/max over a vectored table must refuse, not return a stale bound")
    val afterDv = slice("2_after_dv", withMinMax = false)
    VersionedTable.compactDeletes(s, root, spec)
    val compacted = slice("3_compacted", withMinMax = true)
    retirePrevDir(metaAggPrev, root)
    full.unionByName(afterDv).unionByName(compacted)
  }

  private val txnTablePrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val txnMvPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val txnLogPrev =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Cross-artifact atomic transaction (`layout_txn_commit`,
    * [[graft.operators.Txn]]): a versioned documents table and its
    * per-language MV are pinned as ONE consistent set behind the
    * coordinator's single pointer. Both participants then evolve —
    * the table appends and DV-deletes, the MV folds the change feed,
    * each publishing NEW versions — but the coordinator commit is
    * withheld (the crash window every two-pointer design has): a
    * reader resolving THROUGH the coordinator must still see the OLD
    * pair, consistent (require()d: MV == agg(table) at the pinned
    * pair, via exceptAll both ways), while the TORN read the
    * coordinator prevents — new MV head against the old table — is
    * require()d to actually differ (the gate is vacuous otherwise).
    * The second commit (conditional on the first head — the OCC loop
    * lifted to the transaction level) flips readers to the new pair
    * atomically. Oracle restates both memberships.
    *
    * Scale shape (100 TB): the coordinator commit is O(participants)
    * rows; isolation is immutability + one pointer swap, so a
    * 1000-executor read of table + derived state is never torn by a
    * concurrent maintenance cycle.
    */
  def layoutTxnCommit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Publish, Txn, VersionedTable}
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val tableRoot = java.nio.file.Files.createTempDirectory("graft_txn_t").toString
    val mvRoot = java.nio.file.Files.createTempDirectory("graft_txn_mv").toString
    val txnRoot = java.nio.file.Files.createTempDirectory("graft_txn_log").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    def consistent(mv: DataFrame, agg: DataFrame): Boolean =
      mv.exceptAll(agg).isEmpty && agg.exceptAll(mv).isEmpty
    val v1 = VersionedTable.create(s, d.filter(col("doc_id") % 3 === 0),
      tableRoot, spec, layout)
    val m1 = Publish.publish(
      mvLangAgg(VersionedTable.readVersion(s, tableRoot, v1)).coalesce(1),
      mvRoot, meta = Map("verb" -> "mv"))
    val t1 = Txn.commit(s, txnRoot,
      Map("docs" -> (tableRoot, v1), "mv_lang" -> (mvRoot, m1)), None)
    // both participants evolve and publish new versions...
    VersionedTable.append(s, d.filter(col("doc_id") % 3 === 1),
      tableRoot, spec, layout)
    val v3 = VersionedTable.deleteRosterDV(s, tableRoot, spec,
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    val m2 = Publish.publish(
      mvLangFold(Publish.readVersion(s, mvRoot, m1),
        VersionedTable.changeFeed(s, tableRoot, v1, v3)).coalesce(1),
      mvRoot, meta = Map("verb" -> "mv-fold"))
    // ...CRASH window: the coordinator commit has not landed. Readers
    // through the coordinator still see the old pair, consistent;
    // the torn read (new MV head × old table) must actually differ.
    val crashMv = Txn.readArtifact(s, txnRoot, "mv_lang")
    require(consistent(crashMv, mvLangAgg(Txn.readTable(s, txnRoot, "docs"))),
      "txn crash window: pinned pair must stay consistent")
    require(!consistent(Publish.read(s, mvRoot),
      mvLangAgg(Txn.readTable(s, txnRoot, "docs"))),
      "txn gate vacuous: the torn read it prevents does not differ")
    val crashOut = crashMv.select(lit("1_crash").as("slice"),
      col("lang"), col("n_docs"), col("sum_chars"))
    // the recovery/next cycle lands the coordinator commit atomically
    Txn.commit(s, txnRoot,
      Map("docs" -> (tableRoot, v3), "mv_lang" -> (mvRoot, m2)), Some(t1))
    val headMv = Txn.readArtifact(s, txnRoot, "mv_lang")
    require(consistent(headMv, mvLangAgg(Txn.readTable(s, txnRoot, "docs"))),
      "txn committed head: new pair must be consistent")
    retirePrevDir(txnTablePrev, tableRoot)
    retirePrevDir(txnMvPrev, mvRoot)
    retirePrevDir(txnLogPrev, txnRoot)
    crashOut.unionByName(headMv.select(lit("2_committed").as("slice"),
      col("lang"), col("n_docs"), col("sum_chars")))
  }

  /** Time-decayed engagement score (`events_decayed_score`): the
    * recency weighting a training-data sampler feeds on — per user,
    * Σ over events of weight(event_type) · 2^(−days_since). The decay
    * is computed in EXACT DYADIC fixed point: day lag k ∈ [0, 30]
    * makes each term `w · 2^(30−k)` an exact integer (engine-portable
    * — no float pow whose last bit could differ between Spark and the
    * oracle), summed as BIGINT; `score_fp` is the score at 2^30 scale.
    * Top-100 users by (score DESC, user_id) — the rank a freshness-
    * biased sampling quota or a decayed-popularity mix consumes.
    *
    * Scale shape (100 TB): one codegen'd projection + one groupBy
    * (partial agg map-side) + the native bounded-heap top-k — no
    * window, no second shuffle; the integer decay keeps the result
    * partition-count-independent (doubles would make the sum order-
    * dependent at the margin).
    */
  def eventsDecayedScore(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val w = when(col("event_type") === "view", 1L)
      .when(col("event_type") === "click", 2L)
      .when(col("event_type") === "signup", 5L)
      .when(col("event_type") === "purchase", 10L)
      .otherwise(0L)
    val k = datediff(lit("2024-01-31").cast("date"), col("ts").cast("date"))
    val term = when(k.between(0, 30),
      w * expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - " +
        "datediff(CAST('2024-01-31' AS DATE), CAST(ts AS DATE)) AS INT))"))
      .otherwise(0L)
    e.select(col("user_id"), term.as("__t"))
      .groupBy("user_id").agg(sum(col("__t")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("user_id").asc)
      .limit(100)
  }

  /** Time-series downsampling, LTTB parallel variant
    * (`events_downsample_lttb`): per event_type, the ~720-hour series
    * reduces to ≤60 visually-representative points — each 12-hour
    * bucket keeps the point spanning the LARGEST TRIANGLE against its
    * neighbor buckets' mean points (Steinarsson's
    * largest-triangle-three-buckets, with the sequential prev-SELECTED
    * anchor replaced by the prev bucket's MEAN so every bucket decides
    * independently — the parallelizable variant, one window pass
    * instead of a B-step chain); first/last buckets pin the series
    * endpoints, the LTTB contract. ALL arithmetic is integral: values
    * land at 1e6 fixed point, bucket means stay as (sum, count) pairs
    * and the triangle comparison multiplies through by np·nn, so the
    * winner is exact and engine-portable — no float area whose last
    * bit could flip a pick (magnitudes verified ≤ ~4e17 at sf0.1,
    * 20× inside BIGINT).
    *
    * Scale shape (100 TB): two keyed aggregations + one bucket-level
    * window (B rows per series) + one top-1-per-bucket (the native
    * bounded-heap path); series count × bucket count is the only
    * state — the downsample a dashboard or feature-extraction
    * pipeline runs over billions of raw points.
    */
  def eventsDownsampleLttb(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("event_type"), col("ts_ns"),
        expr("CAST(round(value * 1000000.0) AS BIGINT)").as("vfp"))
    // data-derived hour anchor: tz-independent in both engines
    val lo = e.agg(min(col("ts_ns")).as("lo"))
    val hourly = e.crossJoin(broadcast(lo))
      .withColumn("h", expr("(ts_ns - lo) DIV 3600000000000"))
      .groupBy(col("event_type"), col("h"))
      .agg(sum(col("vfp")).as("y"))
      .withColumn("b", expr("h DIV 12"))
    val bag = hourly.groupBy("event_type", "b")
      .agg(sum("h").as("bt"), sum("y").as("by"), count(lit(1)).as("bn"))
    val wb = Window.partitionBy("event_type").orderBy("b")
    val wAll = Window.partitionBy("event_type")
    val nb = bag.select(col("event_type"), col("b"),
      lag("bt", 1).over(wb).as("tp"), lag("by", 1).over(wb).as("yp"),
      lag("bn", 1).over(wb).as("np"),
      lead("bt", 1).over(wb).as("tn"), lead("by", 1).over(wb).as("yn"),
      lead("bn", 1).over(wb).as("nn"),
      min("b").over(wAll).as("bmin"), max("b").over(wAll).as("bmax"))
    val j = hourly.join(nb, Seq("event_type", "b"))
    // triangle area vs the neighbor means, multiplied through by
    // np·nn: exact integers, same denominator within a bucket
    val area = abs(
      (col("tp") * col("nn") - col("np") * col("nn") * col("h")) *
        (col("yn") * col("np") - col("np") * col("nn") * col("y")) -
        (col("tn") * col("np") - col("np") * col("nn") * col("h")) *
          (col("yp") * col("nn") - col("np") * col("nn") * col("y")))
    val sel = when(col("b") === col("bmin"), col("h"))
      .when(col("b") === col("bmax"), -col("h"))
      .otherwise(-coalesce(area, lit(0L)))
    val rn = row_number().over(
      Window.partitionBy(col("event_type"), col("b"))
        .orderBy(sel.asc, col("h").asc))
    j.withColumn("__rn", rn).filter(col("__rn") === 1)
      .select(col("event_type"), col("h"), col("y").as("y_fp"))
  }

  /** k-NN GRAPH construction (`embed_knn_graph`): the neighborhood
    * graph graph-based dedup / clustering / label-propagation runs on
    * — every corpus vector's top-5 cosine neighbors among its banded-
    * LSH collisions (8 bands × 6 bits: finer keys than the ANN gate's
    * 8×3 because BOTH sides are the corpus — bucket population sets
    * the join's quadratic term, so more bits = smaller independent
    * blocks), then symmetrized to canonical undirected edges with a
    * MUTUAL flag (both endpoints in each other's top-k — the
    * mutual-kNN edge set that resists hub contamination). The
    * directed score is computed once per collided pair (multi-band
    * collisions collapse via `first` — every collision yields the
    * bit-identical cosine), and cosine's left fold is symmetric
    * bit-for-bit, so the canonical edge's score is well-defined.
    *
    * Scale shape (100 TB): the corpus never self-joins — pairs exist
    * only inside band buckets (population ∝ corpus/2^bits per band),
    * the top-k is the native bounded-heap path, and symmetrization is
    * a groupBy on edge keys. nDCG-style quality is the recall gate's
    * job (`sim_ann_recall`); this gate pins the construction exactly.
    */
  /** Directed banded-LSH top-k: every `queries`-side vector's top-k
    * cosine neighbors among its band collisions against `corpus`
    * (both frames: vec_id, embedding). The shared core of the kNN
    * graph (queries = corpus) and its incremental maintenance
    * (queries = the touched subset).
    */
  private def knnDirected(queries: DataFrame, corpus: DataFrame, k: Int,
                          bands: Int, rowsPerBand: Int): DataFrame = {
    import graft.operators.{LatestPerKey, Similarity}
    def blocks(df: DataFrame) = df.select(col("vec_id"), col("embedding"),
      explode(Similarity.hyperplaneBands(col("embedding"), bands,
        rowsPerBand)).as("band"))
    val scored = blocks(queries).select(col("band"), col("vec_id").as("src"),
        col("embedding").as("s_vec"))
      .join(blocks(corpus).select(col("band"), col("vec_id").as("dst"),
        col("embedding").as("d_vec")), Seq("band"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        Similarity.cosine(col("s_vec"), col("d_vec")).as("score"))
      .groupBy("src", "dst").agg(first(col("score")).as("score"))
    LatestPerKey.topKRanked(scored, k, Seq(col("src")),
        Seq(col("score").desc_nulls_last, col("dst").asc_nulls_first))
      .select(col("src"), col("dst"), col("score"))
  }

  def embedKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val topk = knnDirected(emb, emb, 5, 8, 6)
    topk.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("score"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("ndir"), first(col("score")).as("score"))
      .select(col("a").as("src"), col("b").as("dst"),
        (col("ndir") === 2).as("mutual"), round(col("score"), 6).as("score"))
  }

  /** Communities over the mutual-kNN graph (`embed_knn_communities`):
    * connected components of [[embedKnnGraph]]'s MUTUAL edge set —
    * the embedding-space cluster inventory (component label = min
    * vec_id, size, intra-edges) a semantic-dedup or topic-balance
    * pass consumes. Components come from fixed-round min-label
    * propagation WITH POINTER JUMPING
    * ([[graft.operators.ConnectedComponents.labelPropagateJump]] —
    * unrollable SQL converging in O(log diameter): the plain 8-round
    * form was NOT enough at sf0.1, where the mutual graph's diameter
    * outgrew it), with CONVERGENCE require()d in-gate (round 9 ≡
    * round 8), so the oracle's 8 unrolled jump rounds state true
    * components, and a future fixture outgrowing even those fails
    * LOUDLY (lesson 42) instead of hash-diverging.
    *
    * Scale shape (100 TB): mutual edges are ≤ k·|V| by construction
    * (top-k out-degree bounds the directed set), so the propagation
    * joins are edge-bounded; an unknown-diameter production graph
    * routes to the star-contraction solver instead — this gate's
    * fixed-round form is chosen BECAUSE the oracle must restate it.
    */
  def embedKnnCommunities(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ConnectedComponents
    val mutual = embedKnnGraph(s, dir).filter(col("mutual"))
      .select(col("src"), col("dst"))
    val verts = mutual.select(col("src").as("id"))
      .unionByName(mutual.select(col("dst").as("id"))).distinct()
    val comp = ConnectedComponents.labelPropagateJump(verts, mutual, 8)
    require(ConnectedComponents.labelPropagateJump(verts, mutual, 9)
      .exceptAll(comp).isEmpty,
      "fixture must converge within 8 jump rounds (oracle unroll)")
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("n_nodes"))
    val edges = mutual.join(comp.withColumnRenamed("id", "src"), Seq("src"))
      .groupBy("component").agg(count(lit(1)).as("n_edges"))
    sizes.join(edges, Seq("component"))
      .select(col("component"), col("n_nodes"), col("n_edges"))
  }

  /** INCREMENTAL kNN-graph maintenance (`embed_knn_incremental`): the
    * daily-delta path for E227's graph — a ~1% vector batch arrives,
    * and only the nodes whose CANDIDATE SET can have changed
    * recompute: a node's candidates are exactly its band buckets'
    * members, so the affected set = existing nodes sharing ≥1 band
    * key with a delta vector (plus the delta itself); every other
    * node's yesterday edges are provably still its top-k and are
    * KEPT, not recomputed. Incremental ≡ batch by construction — the
    * oracle is the full recompute over the final corpus, so the hash
    * proves the equivalence, and the gate require()s the
    * incrementality itself (touched < half the corpus; kept-edge rows
    * actually reused). Bands here are 4 × 10 bits (finer buckets than
    * the 8×6 graph gate: the touched set tracks bucket population ×
    * delta keys, so incremental maintenance WANTS small buckets even
    * at some recall cost — the knob is the fixture's point).
    *
    * Scale shape (100 TB): delta work = |delta| + |bucket-mates of
    * delta| candidate joins — the graph never rebuilds; this is the
    * same state+delta contract as every `pipeline_*_incremental`
    * family member, extended to the ANN-graph artifact.
    */
  def embedKnnIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = Tables.load(s, dir, "embeddings")
    val v1 = emb.filter(col("vec_id") % 97 =!= 0)
    val delta = emb.filter(col("vec_id") % 97 === 0)
    // yesterday's artifact (recomputed here as fixture cost)
    val g1 = knnDirected(v1, v1, 5, 4, 10)
    def bandsOf(df: DataFrame) = df.select(col("vec_id"),
      explode(Similarity.hyperplaneBands(col("embedding"), 4, 10)).as("band"))
    val deltaBands = bandsOf(delta).select("band").distinct()
    val affected = bandsOf(v1).join(deltaBands, Seq("band"))
      .select(col("vec_id")).distinct()
    val touchedIds = affected.unionByName(delta.select(col("vec_id"))).distinct()
    val nTouched = touchedIds.count()
    require(nTouched * 2 < emb.count(),
      s"the delta must leave most nodes untouched (touched $nTouched)")
    val recomputed = knnDirected(emb.join(touchedIds, Seq("vec_id")),
      emb, 5, 4, 10)
    val kept = g1.join(touchedIds.withColumnRenamed("vec_id", "src"),
      Seq("src"), "left_anti")
    require(kept.limit(1).count() == 1L,
      "yesterday's edges must actually be reused")
    kept.unionByName(recomputed)
      .select(col("src"), col("dst"), round(col("score"), 6).as("score"))
  }

  /** Sequence-length histogram (`text_length_histogram`): the
    * packing planner's input — per 32-token bin, document count,
    * token total, and the bin's share of corpus tokens in ppm
    * (integer: bin_tokens·1e6 DIV total — non-negative, so DIV and
    * `//` agree). Sizing pack_sequences' budget, the curriculum's
    * bins, and the padding-waste estimate all start from exactly this
    * table.
    *
    * Scale shape (100 TB): one projection + one ≤#bins-group
    * aggregate with a broadcast scalar total — a single scan.
    */
  def textLengthHistogram(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"))
    val binned = d.select(expr("n_tok DIV 32").as("bin"), col("n_tok"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
    val total = binned.agg(sum(col("bin_tokens")).as("total"))
    binned.crossJoin(broadcast(total))
      .select(col("bin"), col("n_docs"), col("bin_tokens"),
        expr("bin_tokens * 1000000 DIV total").as("share_ppm"))
  }

  /** Week-over-week movers (`events_wow_movers`): the trend detector
    * a monitoring dashboard runs — per event_type weekly volumes,
    * each week's delta against the previous week (lag over an
    * event_type window), top-8 movers by (|delta| DESC, type ASC,
    * week ASC). All integers: counts, integer week bins (day DIV 7
    * from a fixed anchor — non-negative, so Spark DIV and DuckDB `//`
    * agree), exact deltas.
    *
    * Scale shape (100 TB): one keyed count (map-side partial), a
    * #types×#weeks-sized window, and the bounded-heap top-8 — the
    * weekly trend sweep costs one scan regardless of corpus.
    */
  def eventsWowMovers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val wk = expr(
      "CAST(datediff(CAST(ts AS DATE), DATE'2024-01-01') AS BIGINT) DIV 7")
    val c = e.groupBy(col("event_type"), wk.as("week"))
      .agg(count(lit(1)).as("n"))
    val d = c.withColumn("prev_n",
        lag("n", 1).over(Window.partitionBy("event_type").orderBy("week")))
      .filter(col("prev_n").isNotNull)
      .withColumn("delta", col("n") - col("prev_n"))
    d.orderBy(abs(col("delta")).desc, col("event_type").asc, col("week").asc)
      .limit(8)
      .select(col("event_type"), col("week"), col("n"), col("prev_n"),
        col("delta"))
  }

  /** EMBEDDING DRIFT QA (`qa_embedding_drift`): the
    * did-the-encoder-change check between two corpus snapshots — an
    * embedding model upgrade, a preprocessing regression, or silent
    * truncation all show up as per-dimension mean shift before any
    * downstream ANN metric moves. Snapshot B perturbs a deterministic
    * 20% of snapshot A's vectors (+0.1 on dims 0–3, stated in-plan so
    * both engines construct it identically); per-dimension SUMS are
    * computed in EXACT fixed point (round(v·1e6) per row-dim, then
    * integer sums — cross-row float sums would be partition-order
    * dependent, and integer means would drag Spark-DIV-vs-DuckDB-`//`
    * negative-rounding semantics into the hash), and the top-8
    * most-shifted dimensions rank by (|shift| DESC, dim ASC). The
    * expected answer is dims 0–3 at shift ≈ 0.1·1e6·(n/5) — the
    * fixture makes the detector's SIGNAL checkable, not just its
    * arithmetic.
    *
    * Scale shape (100 TB): one posexplode + one (dim)-keyed agg per
    * snapshot — 64 groups regardless of corpus; the drift dashboard
    * costs two scans at release cadence.
    */
  def qaEmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.load(s, dir, "embeddings")
    val b = a.select(col("vec_id"),
      when(col("vec_id") % 5 === 0,
        expr("transform(embedding, (x, i) -> " +
          "CASE WHEN i < 4 THEN x + CAST(0.1 AS FLOAT) ELSE x END)"))
        .otherwise(col("embedding")).as("embedding"))
    // SUMS, not means: both snapshots carry identical row counts per
    // dim, so the sum shift is n·(mean shift) and no integer division
    // semantics (Spark DIV vs DuckDB // on negatives) enters the hash
    def dimSums(df: DataFrame, tag: String): DataFrame =
      df.select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("dim")
        .agg(sum(expr("CAST(round(v * 1000000.0) AS BIGINT)"))
          .as(s"sum_${tag}_fp"))
    dimSums(a, "a").join(dimSums(b, "b"), Seq("dim"))
      .withColumn("shift_fp", col("sum_b_fp") - col("sum_a_fp"))
      .orderBy(abs(col("shift_fp")).desc, col("dim").asc)
      .limit(8)
      .select(col("dim").cast("long").as("dim"), col("sum_a_fp"),
        col("sum_b_fp"), col("shift_fp"))
  }

  /** HTML boilerplate strip (`text_html_strip`): the markup-removal
    * pass a web-scrape corpus runs before any text analysis — strip
    * comments, then tags, decode the five XML entities, collapse
    * whitespace. The fixture HTML-ifies each document
    * deterministically (wrapper tags + a class attribute + an entity
    * substitution + a comment) so BOTH engines construct and strip
    * the identical string; patterns are dialect-portable (no
    * lookarounds — Java regex here, RE2 in the oracle). Output per
    * doc: tag count, clean length, and a clean-text slice the hash
    * can bite on.
    *
    * Scale shape (100 TB): pure codegen'd column expressions, zero
    * shuffle — the cheapest pass in the curation funnel, which is why
    * it runs FIRST (everything downstream sees ~30% fewer bytes).
    */
  def textHtmlStrip(s: SparkSession, dir: String): DataFrame = {
    val html = concat(lit("<html><body class=\""), col("lang"),
      lit("\"><h1>Doc "), col("doc_id").cast("string"), lit("</h1><p>"),
      regexp_replace(col("text"), " the ", " &amp; "),
      lit("</p><!-- footer --></body></html>"))
    val noComments = regexp_replace(html, "<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "<[^>]*>", " ")
    val decoded = Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'").foldLeft(noTags) {
      case (c, (e, ch)) => regexp_replace(c, e, ch)
    }
    val clean = trim(regexp_replace(decoded, "\\s+", " "))
    docs(s, dir).select(
      col("doc_id"),
      (length(html) - length(regexp_replace(html, "<", ""))).cast("long")
        .as("n_tags"),
      length(clean).cast("long").as("clean_len"),
      substring(clean, 1, 48).as("clean_head"))
  }

  /** DATASET CARD (`pipeline_dataset_card`): the one-table corpus
    * summary a dataset release ships — size, language/source spread,
    * exact-dup volume, token/char totals, quality pass count, and a
    * fixed-point mean — every metric an exact INTEGER (counts, or
    * 1e6-scaled integer-division means), so the card is
    * engine-portable and partition-independent. One pass for the
    * per-doc metrics + one tiny hash-dup aggregate; emitted as
    * (metric, value) rows so downstream diffing of two cards is a
    * join, not a schema migration.
    *
    * Scale shape (100 TB): two scans (metrics, dup-hash groupBy) —
    * the dup aggregate shuffles 16-byte digests, never text; at a
    * release cadence this is the cheapest full-corpus statement of
    * record there is.
    */
  def pipelineDatasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val stop = Seq("the", "data", "order", "key", "value")
    val words = split(col("text"), " ")
    val nTok = size(words).cast("long")
    val len = length(col("text")).cast("double")
    val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") / len
    val meanTokLen = (len - (nTok - 1).cast("double")) / nTok.cast("double")
    val stopHits = size(filter(words, w => w.isin(stop: _*))).cast("long")
    val passes = (nTok >= 10 && nTok <= 100000 &&
      meanTokLen >= 2.0 && meanTokLen <= 12.0 &&
      alpha >= 0.5 && stopHits >= 1).cast("long")
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(nTok).as("token_total"),
      sum(col("n_chars").cast("long")).as("chars_total"),
      sum(passes).as("quality_pass")).head()
    val dupDocs = d.select(md5(col("text")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).agg(coalesce(sum(col("n")), lit(0L)))
      .head().getLong(0)
    val nDocs = base.getLong(0)
    Seq(
      ("chars_total", base.getLong(4)),
      ("dup_docs", dupDocs),
      ("mean_chars_fp", base.getLong(4) * 1000000L / nDocs),
      ("n_docs", nDocs),
      ("n_langs", base.getLong(1)),
      ("n_sources", base.getLong(2)),
      ("quality_pass", base.getLong(5)),
      ("token_total", base.getLong(3))
    ).toDF("metric", "value")
  }
}
