package graft.text

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: tokenization, quality scoring, language-ID heuristics and document
  * fingerprinting — all as codegen-able built-in expressions (higher-order
  * array functions, no UDFs), with DuckDB oracle parity.
  *
  * Every helper here has a lockstep SQL twin in [[oracles]]; cross-engine
  * portability notes: word hashes go through sha256 (identical bytes in both
  * engines), sums stay in 64-bit integer ranges, ratios are rounded at the
  * output boundary only.
  */
object TextQueries {

  /** Whitespace tokenization, empty tokens dropped. */
  def words(c: Column): Column = filter(split(c, " "), w => w =!= "")

  /** First 32 bits of sha256 as an unsigned long — the engine's portable
    * deterministic string hash (same value as DuckDB
    * `('0x'||substr(sha256(s),1,8))::BIGINT`). */
  def hex32(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 8), 16, 10).cast("long")

  /** 3-word-gram array (WITH duplicates) of a word-array column — THE
    * engine-wide trigram definition, shared by the dedup shingles
    * ([[graft.dedup.DedupQueries.shingles]]) and the repetition filter so
    * tokenization/width/separator can never drift between them. */
  def trigrams(w: Column): Column =
    transform(sequence(lit(1), size(w) - 2),
      i => concat_ws(" ", element_at(w, i),
        element_at(w, i + 1), element_at(w, i + 2)))

  /** Per-source exploded trigram relation of a (source, text) relation —
    * shared by the batch HLL gate, its streaming twin, and their parity
    * spec so the sketch inputs can never drift (the same no-drift
    * contract [[trigrams]] itself carries for the dedup shingles). */
  def sourceTrigrams(docs: DataFrame): DataFrame =
    docs.withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(trigrams(col("w"))).as("sg"))

  /** SQL twin of [[trigrams]] over a word-list column named `w`. */
  val trigramsSql: String =
    "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  // shared with HtmlExtract.crawlQualityFunnel (Gopher on extracted text)
  val stopArr: org.apache.spark.sql.Column = array(stopwords.map(lit): _*)

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric chars. */
  def reTokens(c: Column): Column =
    size(regexp_extract_all(c, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Positional rolling fingerprint: sum_i hash32(w_i)*i mod 1e9+7 —
    * order-sensitive, overflow-free (terms < 2^39), portable. */
  def fingerprint(w: Column): Column =
    (aggregate(
      transform(sequence(lit(1), size(w)), i => hex32(element_at(w, i)) * i),
      lit(0L), (acc, x) => acc + x) % 1000000007L).cast("long")

  /** Marker-stopword language heuristic (fixed priority order — shared with
    * the oracle CASE chain). */
  def langPredict(w: Column): Column =
    when(array_contains(w, "el"), "es")
      .when(array_contains(w, "le"), "fr")
      .when(array_contains(w, "der"), "de")
      .when(array_contains(w, "de"), "zh")
      .when(array_contains(w, "the") || array_contains(w, "a"), "en")
      .otherwise("und")

  private def withWordCols(df: DataFrame): DataFrame =
    df.withColumn("w", words(col("text")))
      .withColumn("n_words", size(col("w")))
      .withColumn("n_uniq", size(array_distinct(col("w"))))
      .withColumn("n_stop", size(filter(col("w"), x => array_contains(stopArr, x))))

  /** Per-source corpus statistics. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    withWordCols(Tables(s, dir, "documents"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_words"), 4).as("avg_words"),
        round(avg(col("n_uniq") / col("n_words")), 4).as("avg_uniq_ratio"),
        round(avg(col("n_stop") / col("n_words")), 4).as("avg_stop_ratio"),
        sum(reTokens(col("text"))).as("total_re_tokens"),
        sum(expr("(length(text) + 3) div 4")).as("total_bpe_est"))

  /** Per-document quality scoring with a bucketed grade. */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    withWordCols(Tables(s, dir, "documents"))
      .select(
        col("doc_id"), col("n_words"),
        round(col("n_uniq") / col("n_words"), 4).as("uniq_ratio"),
        round(col("n_stop") / col("n_words"), 4).as("stop_ratio"),
        when(col("n_words") >= 12 && col("n_uniq") / col("n_words") >= 0.8, "high")
          .when(col("n_words") >= 8 && col("n_uniq") / col("n_words") >= 0.6, "medium")
          .otherwise("low").as("quality"))

  /** Top-K unigram vocabulary size for [[qualityLmScore]]. 16 keeps the
    * out-of-vocabulary path exercised at every fixture SF (the synthetic
    * base vocabulary is ~31 tokens); a production corpus would dial this
    * to 10⁵–10⁶ — the broadcast stays tiny either way. */
  val LmVocabK = 16

  /** CCNet-style unigram language-model quality score — the perplexity
    * filter every large pretraining pipeline runs (CCNet trains a 5-gram
    * KenLM; the unigram variant keeps the same shape: train token
    * statistics, broadcast them, score every document by mean token
    * surprisal). Deliberately INTEGER-EXACT across engines: a token's
    * surprisal is `length(bin(N div c))` = floor(log2(N/c)) + 1 — the
    * bit-length of the inverse-frequency ratio — so no transcendental
    * function whose last-ulp behavior could differ between Spark and
    * DuckDB enters the score; the per-document mean is an exact rational
    * rounded once at the output boundary. Out-of-vocabulary tokens score
    * the maximum surprisal `length(bin(N))` (count 1).
    *
    * Scale shape: the scoring side is one exploded-token stream joined
    * against a BROADCAST top-K vocab (hinted — it can never fall off the
    * auto-broadcast cliff) plus a broadcast single-row total, then a
    * partial-aggregated mean keyed by doc_id. The training side is
    * vocab-sized aggregation; at production scale wrap `counts` in a
    * [[graft.Memo]] to avoid re-scanning the corpus for vocab and
    * total. */
  def qualityLmScore(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("n"))
    val vocab = counts.orderBy(desc("c"), asc("tok")).limit(LmVocabK)
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        length(bin(expr("n div coalesce(c, CAST(1 AS BIGINT))"))).as("surp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        round(avg("surp"), 4).as("lm_score"))
      .withColumn("grade",
        when(col("lm_score") <= 6.0, "natural")
          .when(col("lm_score") <= 12.0, "mixed")
          .otherwise("synthetic"))
  }

  /** CCNet-style head/middle/tail corpus split (Wenzek et al. 2020):
    * within each language, rank documents by LM score (ascending — low
    * surprisal reads most natural) and cut the ranking into terciles by
    * integer arithmetic, `((rk-1)*3) div n` ∈ {0,1,2}. CCNet takes
    * `head` as the cleanest training slice.
    *
    * Scale shape: the rank is DECOMPOSED instead of computed with one
    * `row_number` window per language (which would sort a whole
    * language's corpus inside a single partition — the hot-key shape
    * that dies first at 100 TB). rank = (docs in this lang with a
    * smaller score) + (position among same-score ties): the first term
    * is a cumulative sum over the DISTINCT (lang, score) relation —
    * bounded by score cardinality, not corpus size — and the second is
    * a window over one tie group. The only per-corpus-row work is two
    * hash joins and a tie-group window. */
  def lmBuckets(s: SparkSession, dir: String): DataFrame = {
    val scored = qualityLmScore(s, dir).select(col("doc_id"), col("lm_score"))
    val j = Tables(s, dir, "documents").select(col("doc_id"), col("lang"))
      .join(scored, "doc_id")
      // read 3× (score histogram, per-lang counts, the final rank join) —
      // materialize the narrow doc-level relation once instead of
      // re-running the LM-scoring pass per consumer
      .localCheckpoint(true)
    val grp = j.groupBy("lang", "lm_score").agg(count(lit(1)).as("g"))
    val wCum = Window.partitionBy("lang").orderBy("lm_score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val below = grp.withColumn("below", coalesce(sum("g").over(wCum), lit(0L)))
      .select("lang", "lm_score", "below")
    val nPer = j.groupBy("lang").agg(count(lit(1)).as("n"))
    val wTie = Window.partitionBy("lang", "lm_score").orderBy("doc_id")
    j.join(below, Seq("lang", "lm_score"))
      .withColumn("rk", col("below") + row_number().over(wTie))
      .join(broadcast(nPer), "lang")
      .withColumn("t", expr("((rk - 1) * 3) div n"))
      .select(col("doc_id"), col("lang"), col("lm_score"), col("rk"),
        when(col("t") === 0, "head").when(col("t") === 1, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Feature-hash bucket count for [[dsirWeights]] — DSIR hashes n-grams
    * into a fixed bucket space (Xie et al. 2023 use 10⁴; 64 keeps
    * collisions exercised at fixture scale). The bucket count, not the
    * vocabulary, bounds every broadcast below. */
  val DsirBuckets = 64
  /** Target domain for the importance weights: English documents. */
  val DsirTargetLang = "en"

  /** DSIR-style importance-resampling weight (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", 2023): score every
    * document by how much more likely its tokens are under a TARGET
    * domain's hashed-unigram distribution than under the raw corpus's —
    * the data-selection step that turns a heterogeneous crawl into a
    * domain-matched training set. Kept integer-exact in the engine's
    * house style: each bucket's log-probability is replaced by the
    * bit-length surprisal `length(bin(N div c))` (see
    * [[qualityLmScore]]), so a document's log-weight is
    * Σ (surp_raw − surp_target) over its tokens — positive when the
    * target model finds the document less surprising than the raw model
    * does. Buckets absent from the target get target-count 1 (the same
    * OOV convention as the LM score); buckets always exist on the raw
    * side because the raw model is trained on the corpus being scored.
    *
    * Scale shape: two vocab-bounded aggregations (≤ [[DsirBuckets]]
    * partials per task) build the weight table, which is HINTED
    * broadcast into one exploded-token pass with a map-side-combined
    * per-doc sum — the quality_lm_score family: shuffle ∝ per-doc
    * partials, the model never shuffles. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(words(col("text"))).as("tok"))
      .withColumn("b", pmod(hex32(col("tok")), lit(DsirBuckets.toLong)))
    // ONE bucket aggregation carries both models (raw count + conditional
    // target count): the raw/target tables were two separate corpus
    // tokenization passes before — 2 full passes → 1 (guide §2.3,
    // aggregate before you shuffle / don't recompute what one pass gives).
    // ct = 0 ⇔ the bucket was absent from the old target relation, so
    // greatest(ct, 1) is exactly the old coalesce(ct, 1) OOV convention.
    val both = toks.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("ct"))
      .localCheckpoint(true) // read by the weight table + both totals
    val nR = both.agg(sum("cr").as("nr"))
    val nT = both.agg(sum("ct").as("nt"))
    val bw = both
      .crossJoin(broadcast(nR)).crossJoin(broadcast(nT))
      .select(col("b"),
        (length(bin(expr("nr div cr"))) -
          length(bin(expr("nt div greatest(ct, CAST(1 AS BIGINT))"))))
          .as("d"))
    val perDoc = toks.join(broadcast(bw), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("d").cast("long").as("dsir_logw"))
    // Weights are RELATIVE (the bit-length surrogate skews them negative
    // overall), so the acceptance flag compares each document to the
    // corpus mean — integer-exactly, as logw·N > Σlogw, avoiding a float
    // division whose rounding could flip boundary docs cross-engine.
    // Production DSIR resamples proportionally to exp(weight); the
    // above-mean flag is the deterministic gate-able proxy.
    val tot = perDoc.agg(sum("dsir_logw").cast("long").as("tw"),
      count(lit(1)).as("nd"))
    perDoc.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_toks"), col("dsir_logw"),
        (col("dsir_logw") * col("nd") > col("tw")).as("keep"))
  }

  /** Language-ID confusion matrix: labeled lang × heuristic prediction. */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("lang"), langPredict(words(col("text"))).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))

  /** Per-document rolling-hash fingerprint. */
  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.parallel(s, dir, "documents").withColumn("w", words(col("text")))
    d.select(col("doc_id"), size(col("w")).as("n_words"),
      fingerprint(col("w")).as("fp"))
  }

  /** Contamination/PII pattern scan — per-source counts of email-shaped
    * tokens, URLs, and long digit runs (the pre-training hygiene pass; the
    * synthetic corpus is clean, so zero counts are the expected result,
    * but the operator is exercised end-to-end). */
  def piiScan(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy("source")
      .agg(
        sum(size(regexp_extract_all(col("text"),
          lit("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"), lit(0))))
          .cast("long").as("n_emails"),
        sum(size(regexp_extract_all(col("text"),
          lit("https?://[^ ]+"), lit(0)))).cast("long").as("n_urls"),
        sum(size(regexp_extract_all(col("text"),
          lit("[0-9]{6,}"), lit(0)))).cast("long").as("n_long_digit_runs"),
        count(lit(1)).as("n_docs"))

  /** Corpus vocabulary: top-100 tokens by document frequency (ties broken
    * by token so the cut is deterministic). One explode + one aggregation
    * shuffle; partial counts combine map-side. */
  def vocabTopk(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, dir, "documents")
      .select(explode(array_distinct(words(col("text")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("token"))
      .limit(100)

  /** Top-50 word co-occurrence pairs within a ±[[CoocWindow]] token
    * window — the GloVe/word2vec preprocessing statistic (the
    * co-occurrence matrix embeddings are trained from), in pure integer
    * space: each (i, i+o) position pair contributes one count to its
    * canonical (least, greatest) word pair, with the distance-1 subcount
    * carried alongside (the integer substitute for GloVe's 1/d
    * weighting). A per-row explode + one count shuffle whose map-side
    * partials are bounded by vocabulary², not corpus size — the property
    * that makes the matrix computable at 100 TB. */
  val CoocWindow = 2

  def cooccurTopk(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, dir, "documents")
      .withColumn("w", words(col("text")))
      .select(explode(expr(
        s"""filter(flatten(transform(sequence(1, size(w)), i ->
           |  transform(sequence(1, $CoocWindow), o ->
           |    CASE WHEN i + o <= size(w) THEN struct(
           |      least(element_at(w, i), element_at(w, i + o)) AS a,
           |      greatest(element_at(w, i), element_at(w, i + o)) AS b,
           |      o AS d) END))), x -> x IS NOT NULL)""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p.d") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_adjacent"))
      .orderBy(desc("n"), asc("a"), asc("b"))
      .limit(50)

  /** Per-document top-3 distinguishing terms by a log-free tf-idf variant:
    * score = (tf / doc_len) / df. The log is deliberately omitted — ln()
    * is not guaranteed bit-identical across engines, while this score is
    * two correctly-rounded IEEE divisions, so ranking and hash compare
    * exactly; the ORDERING it induces per document equals classic tf-idf's
    * whenever df ties break the same way. */
  def termRarityTopk(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.parallel(s, dir, "documents")
      .select(col("doc_id"), size(words(col("text"))).as("doc_len"),
        explode(words(col("text"))).as("token"))
    // df via groupBy + join-back over the checkpointed tf relation, NOT a
    // count window by token: stopword-grade tokens are zipf-hot keys, and
    // `count().over(partitionBy("token"))` shuffles every tf row by that
    // key with no map-side combine, while the groupBy ships one partial
    // count per token per task. The checkpoint keeps tf single-evaluation
    // (the naive join-back would run the explode twice) without pinning
    // anything in the cache manager. The remaining window partitions by
    // doc_id — bounded by document length, never hot.
    val tf = toks.groupBy("doc_id", "doc_len", "token")
      .agg(count(lit(1)).as("tf")).localCheckpoint(true)
    val dfTab = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("token"))
    tf.join(dfTab, "token")
      .withColumn("score", col("tf") / col("doc_len") / col("df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("df"),
        round(col("score") * 1000000, 4).as("rarity_ppm"))
  }

  /** Within-document repetition scoring — the Gopher-style trainability
    * signal: the fraction of 3-gram occurrences that are repeats of an
    * earlier 3-gram in the same document. Pure per-row higher-order-
    * function work (build the gram list, count distinct), zero shuffle:
    * the filter every pretraining pipeline runs over every document. */
  def docRepetition(s: SparkSession, dir: String): DataFrame = {
    val ratio = lit(1.0) - col("n_distinct") / col("n_grams")
    Tables.parallel(s, dir, "documents")
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 3)
      .withColumn("g", trigrams(col("w")))
      .select(col("doc_id"),
        size(col("g")).as("n_grams"),
        size(array_distinct(col("g"))).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        round(ratio, 4).as("rep_ratio"),
        (ratio > 0.2).as("high_repetition"))
  }

  /** Gopher-style quality-rule thresholds (Rae et al. 2021, table A1 —
    * re-scaled to this corpus's 10–99-word documents so both pass and fail
    * populations are exercised). */
  val GopherMinWords = 30L
  val GopherMaxWords = 90L
  val GopherMinMeanLen = 3.0
  val GopherMaxMeanLen = 10.0
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopHits = 2L

  /** Gopher-style quality rule set — the document filter every pretraining
    * pipeline runs before mixing: word-count bounds, mean word length
    * bounds, fraction of words containing a letter, and a minimum stopword
    * hit count, each emitted as its own flag plus the combined verdict.
    * All ratios divide exact integers, so the doubles (and their
    * `round(., 4)`) are bit-identical cross-engine. Pure per-row
    * projection: zero shuffle at any scale. */
  def qualityGopher(s: SparkSession, dir: String): DataFrame =
    gopherFlags(Tables.parallel(s, dir, "documents"))

  /** Gopher rule columns over ANY (doc_id, text, …) relation — shared by
    * the gate query and the pipeline-funnel composition so the rule set
    * cannot drift between them. */
  def gopherFlags(docs: DataFrame): DataFrame = {
    val d = docs
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 1)
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("sum_len",
        aggregate(transform(col("w"), x => length(x).cast("long")),
          lit(0L), (a, x) => a + x))
      .withColumn("n_alpha",
        size(filter(col("w"), x => x.rlike("[a-z]"))).cast("long"))
      .withColumn("n_stop",
        size(filter(col("w"), x => array_contains(stopArr, x))).cast("long"))
    val meanLen = col("sum_len") / col("n_words")
    val alphaFrac = col("n_alpha") / col("n_words")
    val lenOk = col("n_words").between(GopherMinWords, GopherMaxWords)
    val meanOk = meanLen >= GopherMinMeanLen && meanLen <= GopherMaxMeanLen
    val alphaOk = alphaFrac >= GopherMinAlphaFrac
    val stopOk = col("n_stop") >= GopherMinStopHits
    d.select(col("doc_id"), col("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(alphaFrac, 4).as("alpha_frac"),
      col("n_stop"),
      lenOk.as("len_ok"), meanOk.as("mean_len_ok"),
      alphaOk.as("alpha_ok"), stopOk.as("stop_ok"),
      (lenOk && meanOk && alphaOk && stopOk).as("pass"))
  }

  /** Cross-document diversity per source — the templated-crawl detector
    * [[docRepetition]] (within-doc) cannot see: a source whose pages
    * share navigation/boilerplate text has low distinct-trigram
    * diversity and a high boilerplate ratio (fraction of trigram
    * OCCURRENCES whose trigram appears in more than one of the
    * source's documents), even when every individual page looks
    * non-repetitive. Shuffle ∝ trigram occurrences (one explode, two
    * hash aggregations, no self-join — the linear-token family);
    * output ∝ sources. */
  def sourceDiversity(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("source"), col("doc_id"),
        explode(trigrams(col("w"))).as("g"))
      .groupBy("source", "g")
      .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("nd"))
      .groupBy("source")
      .agg(sum("cnt").as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        sum(when(col("nd") > 1, col("cnt")).otherwise(0L))
          .as("n_boilerplate"))
      .select(col("source"), col("n_grams"), col("n_distinct_grams"),
        col("n_boilerplate"),
        round(col("n_distinct_grams") / col("n_grams"), 4).as("diversity"),
        round(col("n_boilerplate") / col("n_grams"), 4)
          .as("boilerplate_ratio"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_diversity" -> sourceDiversity,
    "cooccur_topk" -> cooccurTopk,
    "quality_gopher" -> qualityGopher,
    "pii_scan" -> piiScan,
    "doc_repetition" -> docRepetition,
    "text_stats" -> textStats,
    "text_quality" -> textQuality,
    "quality_lm_score" -> qualityLmScore,
    "lm_buckets" -> lmBuckets,
    "dsir_weights" -> dsirWeights,
    "lang_id_confusion" -> langIdConfusion,
    "doc_fingerprint" -> docFingerprint,
    "vocab_topk" -> vocabTopk,
    "term_rarity_topk" -> termRarityTopk)

  /** Shared oracle word-split CTE. */
  val wordsCte: String =
    """w AS (SELECT *, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |      FROM documents)""".stripMargin

  private val stopList = stopwords.map(s => s"'$s'").mkString(", ")

  /** SQL literal list of [[stopwords]] — shared with composed oracles. */
  val stopListSql: String = stopList

  /** Shared oracle CTE chain for the unigram LM surprisal (train counts,
    * top-K vocab, per-token bit-length surprisal) — used verbatim by the
    * `quality_lm_score` and `lm_buckets` oracles so the model definition
    * cannot drift between them. Expects [[wordsCte]] in scope. */
  val lmSurpCte: String =
    s"""t AS (SELECT doc_id, unnest(w) AS tok FROM w),
       |c AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
       |n AS (SELECT sum(c)::BIGINT AS n FROM c),
       |v AS (SELECT tok, c FROM c ORDER BY c DESC, tok ASC LIMIT $LmVocabK),
       |sc AS (SELECT t.doc_id,
       |    length(bin((SELECT n FROM n) // coalesce(v.c, 1))) AS surp
       |  FROM t LEFT JOIN v USING (tok))""".stripMargin

  val oracles: Map[String, String] = Map(
    "source_diversity" ->
      s"""WITH g AS (
        |  SELECT source, doc_id, unnest($trigramsSql) AS g
        |  FROM (SELECT source, doc_id,
        |          list_filter(string_split(text, ' '), x -> x <> '') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |pg AS (SELECT source, g, count(*) AS cnt,
        |         count(DISTINCT doc_id) AS nd
        |       FROM g GROUP BY 1, 2),
        |a AS (SELECT source, sum(cnt)::BIGINT AS n_grams,
        |        count(*)::BIGINT AS n_distinct_grams,
        |        sum(CASE WHEN nd > 1 THEN cnt ELSE 0 END)::BIGINT
        |          AS n_boilerplate
        |      FROM pg GROUP BY 1)
        |SELECT source, n_grams, n_distinct_grams, n_boilerplate,
        |  round(n_distinct_grams * 1.0 / n_grams, 4) AS diversity,
        |  round(n_boilerplate * 1.0 / n_grams, 4) AS boilerplate_ratio
        |FROM a""".stripMargin,
    "cooccur_topk" ->
      (s"WITH $wordsCte,\n" +
        s"""p AS (SELECT unnest(list_filter(flatten(
          |    list_transform(range(1, len(w) + 1), i ->
          |      list_transform(range(1, ${CoocWindow + 1}), o ->
          |        CASE WHEN i + o <= len(w) THEN
          |          {'a': least(w[i], w[i + o]),
          |           'b': greatest(w[i], w[i + o]), 'd': o}
          |        END))), x -> x IS NOT NULL)) AS p
          |  FROM w)
          |SELECT p.a AS a, p.b AS b, count(*) AS n,
          |  sum(CASE WHEN p.d = 1 THEN 1 ELSE 0 END)::BIGINT AS n_adjacent
          |FROM p GROUP BY 1, 2
          |ORDER BY n DESC, a ASC, b ASC LIMIT 50""".stripMargin),
    "quality_gopher" ->
      (s"WITH $wordsCte,\n" +
        s"""c AS (SELECT doc_id, len(w) AS n_words,
          |  list_sum(list_transform(w, x -> length(x))) AS sum_len,
          |  len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
          |  len(list_filter(w, x -> x IN ($stopList))) AS n_stop
          |  FROM w WHERE len(w) >= 1)
          |SELECT doc_id, n_words::BIGINT AS n_words,
          |  round(sum_len * 1.0 / n_words, 4) AS mean_word_len,
          |  round(n_alpha * 1.0 / n_words, 4) AS alpha_frac,
          |  n_stop::BIGINT AS n_stop,
          |  (n_words BETWEEN $GopherMinWords AND $GopherMaxWords) AS len_ok,
          |  (sum_len * 1.0 / n_words >= $GopherMinMeanLen
          |   AND sum_len * 1.0 / n_words <= $GopherMaxMeanLen) AS mean_len_ok,
          |  (n_alpha * 1.0 / n_words >= $GopherMinAlphaFrac) AS alpha_ok,
          |  (n_stop >= $GopherMinStopHits) AS stop_ok,
          |  ((n_words BETWEEN $GopherMinWords AND $GopherMaxWords)
          |   AND sum_len * 1.0 / n_words >= $GopherMinMeanLen
          |   AND sum_len * 1.0 / n_words <= $GopherMaxMeanLen
          |   AND n_alpha * 1.0 / n_words >= $GopherMinAlphaFrac
          |   AND n_stop >= $GopherMinStopHits) AS pass
          |FROM c""".stripMargin),
    "pii_scan" ->
      """SELECT source,
        |  sum(len(regexp_extract_all(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')))::BIGINT AS n_emails,
        |  sum(len(regexp_extract_all(text, 'https?://[^ ]+')))::BIGINT AS n_urls,
        |  sum(len(regexp_extract_all(text, '[0-9]{6,}')))::BIGINT
        |    AS n_long_digit_runs,
        |  count(*) AS n_docs
        |FROM documents GROUP BY source""".stripMargin,
    "text_stats" ->
      (s"WITH $wordsCte,\n" +
        s"""c AS (SELECT source, len(w) AS n_words,
          |  len(list_distinct(w)) AS n_uniq,
          |  len(list_filter(w, x -> x IN ($stopList))) AS n_stop,
          |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
          |  (length(text) + 3) // 4 AS bpe_est
          |  FROM w)
          |SELECT source, count(*) AS n_docs,
          |  round(avg(n_words), 4) AS avg_words,
          |  round(avg(n_uniq * 1.0 / n_words), 4) AS avg_uniq_ratio,
          |  round(avg(n_stop * 1.0 / n_words), 4) AS avg_stop_ratio,
          |  sum(re_tokens)::BIGINT AS total_re_tokens,
          |  sum(bpe_est)::BIGINT AS total_bpe_est
          |FROM c GROUP BY source""".stripMargin),
    "text_quality" ->
      (s"WITH $wordsCte\n" +
        s"""SELECT doc_id, len(w) AS n_words,
          |  round(len(list_distinct(w)) * 1.0 / len(w), 4) AS uniq_ratio,
          |  round(len(list_filter(w, x -> x IN ($stopList))) * 1.0 / len(w), 4)
          |    AS stop_ratio,
          |  CASE WHEN len(w) >= 12
          |         AND len(list_distinct(w)) * 1.0 / len(w) >= 0.8 THEN 'high'
          |       WHEN len(w) >= 8
          |         AND len(list_distinct(w)) * 1.0 / len(w) >= 0.6 THEN 'medium'
          |       ELSE 'low' END AS quality
          |FROM w""".stripMargin),
    "quality_lm_score" ->
      (s"WITH $wordsCte,\n$lmSurpCte\n" +
        """SELECT doc_id, count(*) AS n_toks,
          |  round(avg(surp), 4) AS lm_score,
          |  CASE WHEN round(avg(surp), 4) <= 6.0 THEN 'natural'
          |       WHEN round(avg(surp), 4) <= 12.0 THEN 'mixed'
          |       ELSE 'synthetic' END AS grade
          |FROM sc GROUP BY doc_id""".stripMargin),
    // the oracle states the rank with the plain per-language window; the
    // Spark side computes the same rank decomposed (see lmBuckets)
    "lm_buckets" ->
      (s"WITH $wordsCte,\n$lmSurpCte,\n" +
        """sc2 AS (SELECT doc_id, round(avg(surp), 4) AS lm_score
          |        FROM sc GROUP BY doc_id),
          |j AS (SELECT d.doc_id, d.lang, s.lm_score
          |      FROM documents d JOIN sc2 s USING (doc_id)),
          |ln AS (SELECT lang, count(*) AS n FROM j GROUP BY 1),
          |rk AS (SELECT j.*, row_number() OVER (
          |         PARTITION BY lang ORDER BY lm_score ASC, doc_id ASC) AS rk
          |       FROM j)
          |SELECT rk.doc_id, rk.lang, rk.lm_score, rk.rk AS rk,
          |  CASE ((rk.rk - 1) * 3) // ln.n WHEN 0 THEN 'head'
          |       WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
          |FROM rk JOIN ln USING (lang)""".stripMargin),
    "dsir_weights" ->
      (s"WITH $wordsCte,\n" +
        s"""t AS (SELECT doc_id, lang,
          |    ('0x' || substr(sha256(tok), 1, 8))::BIGINT % $DsirBuckets AS b
          |  FROM (SELECT doc_id, lang, unnest(w) AS tok FROM w)),
          |r AS (SELECT b, count(*) AS cr FROM t GROUP BY 1),
          |nr AS (SELECT sum(cr)::BIGINT AS n FROM r),
          |tg AS (SELECT b, count(*) AS ct FROM t
          |       WHERE lang = '$DsirTargetLang' GROUP BY 1),
          |nt AS (SELECT sum(ct)::BIGINT AS n FROM tg),
          |bw AS (SELECT r.b,
          |    length(bin((SELECT n FROM nr) // r.cr)) -
          |    length(bin((SELECT n FROM nt) // coalesce(tg.ct, 1))) AS d
          |  FROM r LEFT JOIN tg USING (b)),
          |pd AS (SELECT doc_id, count(*) AS n_toks, sum(d)::BIGINT AS dsir_logw
          |       FROM t JOIN bw USING (b) GROUP BY doc_id),
          |tot AS (SELECT sum(dsir_logw)::BIGINT AS tw, count(*)::BIGINT AS nd
          |        FROM pd)
          |SELECT doc_id, n_toks, dsir_logw,
          |  dsir_logw * (SELECT nd FROM tot) > (SELECT tw FROM tot) AS keep
          |FROM pd""".stripMargin),
    "lang_id_confusion" ->
      (s"WITH $wordsCte\n" +
        """SELECT lang,
          |  CASE WHEN list_contains(w, 'el') THEN 'es'
          |       WHEN list_contains(w, 'le') THEN 'fr'
          |       WHEN list_contains(w, 'der') THEN 'de'
          |       WHEN list_contains(w, 'de') THEN 'zh'
          |       WHEN list_contains(w, 'the') OR list_contains(w, 'a') THEN 'en'
          |       ELSE 'und' END AS predicted,
          |  count(*) AS n
          |FROM w GROUP BY 1, 2""".stripMargin),
    "doc_fingerprint" ->
      (s"WITH $wordsCte\n" +
        """SELECT doc_id, len(w) AS n_words,
          |  (list_sum(list_transform(range(1, len(w) + 1),
          |     i -> ('0x' || substr(sha256(w[i]), 1, 8))::BIGINT * i))
          |   % 1000000007)::BIGINT AS fp
          |FROM w""".stripMargin),
    "doc_repetition" ->
      s"""WITH g AS (
        |  SELECT doc_id, $trigramsSql AS g
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '),
        |                x -> x <> '') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3)
        |SELECT doc_id, len(g) AS n_grams,
        |  len(list_distinct(g)) AS n_distinct,
        |  round(1.0 - len(list_distinct(g)) * 1.0 / len(g), 4) AS rep_ratio,
        |  (1.0 - len(list_distinct(g)) * 1.0 / len(g)) > 0.2
        |    AS high_repetition
        |FROM g""".stripMargin,
    "vocab_topk" ->
      (s"WITH $wordsCte,\n" +
        """t AS (SELECT unnest(list_distinct(w)) AS token FROM w)
          |SELECT token, count(*) AS df FROM t GROUP BY token
          |ORDER BY df DESC, token ASC LIMIT 100""".stripMargin),
    "term_rarity_topk" ->
      (s"WITH $wordsCte,\n" +
        """tok AS (SELECT doc_id, len(w) AS doc_len, unnest(w) AS token FROM w),
          |tf AS (SELECT doc_id, doc_len, token, count(*) AS tf
          |       FROM tok GROUP BY 1, 2, 3),
          |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
          |sc AS (SELECT tf.doc_id, tf.token, df.df,
          |         tf.tf / tf.doc_len / df.df AS score
          |       FROM tf JOIN df USING (token)),
          |r AS (SELECT *, row_number() OVER (
          |        PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rk
          |      FROM sc)
          |SELECT doc_id, rk, token, df, round(score * 1000000, 4) AS rarity_ppm
          |FROM r WHERE rk <= 3""".stripMargin))
}
