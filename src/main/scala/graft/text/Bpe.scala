package graft.text

import graft.{Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding primitives over the `documents` corpus — the
  * tokenizer-training side of a data pipeline (Sennrich et al. 2016):
  *
  *  - [[bpePairs]]: corpus-wide adjacent-character-pair frequencies (the
  *    statistic the first BPE merge is chosen from), as a gate query with
  *    a DuckDB oracle;
  *  - [[trainMerges]]: the full trainer — ONE distributed word-frequency
  *    aggregation, then the classic k-round count-pairs → argmax → merge
  *    loop over the collected [[VocabCap]]-bounded vocabulary;
  *  - [[bpeEncode]]: the apply side — the trained merge table encoded over
  *    the whole corpus, with a post-training oracle (the merges inlined as
  *    literals into a DuckDB `list_reduce` fold, the same pattern Ivf uses
  *    for its centroids).
  *
  * Scale shape: the corpus-sized work is ONE explode + count shuffle
  * building the word-frequency table (the same shape as `vocab_topk`) —
  * [[symbolizeWeighted]] IS that table (pair counts weighted by word
  * frequency are identical to per-occurrence counts, so the merges are
  * the same while training shrinks from corpus-sized to vocab-sized).
  * The k-merge argmax loop then runs over the collected
  * [[VocabCap]]-bounded vocabulary on the driver — the split every
  * production subword trainer makes — and the distributed encode is a
  * per-row fold over the vocabulary relation: at 100 TB, one weighted
  * aggregation feeds both training and the per-source token totals.
  */
object Bpe {

  val TopPairs = 20

  /** Adjacent 2-char pair counts within words, top [[TopPairs]] by count
    * (ties broken by pair). The `length >= 2` guard precedes the
    * `sequence(1, n-1)` so the sequence bounds are always ascending. */
  def bpePairs(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, dir, "documents")
      .select(explode(TextQueries.words(col("text"))).as("t"))
      .filter(length(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, char_length(t) - 1), i -> substring(t, i, 2))"))
        .as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(TopPairs)

  /** Symbolize a corpus for [[trainMerges]]: one row per word occurrence,
    * `sym` = its character array. */
  def symbolize(docs: DataFrame): DataFrame =
    docs.select(explode(TextQueries.words(col("text"))).as("t"))
      .select(charSplit.as("sym"))

  /** Word-frequency symbolization — one row per DISTINCT word with its
    * occurrence count `w`. Pair counts summed over `w` equal the
    * per-occurrence counts exactly, so [[trainMerges]] learns identical
    * merges from a relation the size of the vocabulary, not the corpus. */
  def symbolizeWeighted(docs: DataFrame): DataFrame =
    docs.select(explode(TextQueries.words(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("w"))
      .select(charSplit.as("sym"), col("w"))

  private def charSplit: Column = expr(
    "transform(sequence(1, char_length(t)), i -> substring(t, i, 1))")

  /** One greedy left-to-right application of merge (a, b) → ab over a
    * `sym: array<string>` column — the standard BPE application order, so
    * "aaa" under merge (a, a) becomes ["aa", "a"]. */
  def applyMerge(a: String, b: String): Column = {
    val (qa, qb, qm) = (SqlLit.spark(a), SqlLit.spark(b), SqlLit.spark(a + b))
    expr(
      s"""aggregate(sym, cast(array() AS array<string>),
         |  (acc, x) -> CASE WHEN size(acc) > 0
         |      AND element_at(acc, size(acc)) = $qa AND x = $qb
         |    THEN concat(slice(acc, 1, size(acc) - 1), array($qm))
         |    ELSE concat(acc, array(x)) END)""".stripMargin)
  }

  /** Distinct-word rows the driver-side merge loop ingests, ordered by
    * (weight desc, sym asc): the model-boundedness cap. When a corpus'
    * vocabulary exceeds it, training sees the top-cap words by mass —
    * the tail it drops is exactly the mass subword trainers routinely
    * frequency-truncate; every gate corpus sits orders of magnitude
    * below the cap, so there the collect is the FULL vocabulary and
    * the merges are exact. */
  val VocabCap = 1 << 16

  /** Train up to `k` BPE merges over a `sym: array<string>` corpus — one
    * row per occurrence ([[symbolize]]) or per distinct word with an
    * occurrence count `w` ([[symbolizeWeighted]]).
    *
    * ONE distributed aggregation, then a driver-side merge loop
    * (round-6 verdict #4 — `bpe_encode` was the slowest gate query,
    * paying one Spark aggregation + corpus rewrite PER MERGE). This is
    * the split every production subword trainer makes (Sennrich et al.
    * 2016 `learn_bpe`; SentencePiece): the corpus-sized pass is the
    * word-frequency aggregation, distributed; the k-round argmax loop
    * then runs over that [[VocabCap]]-bounded table locally — the same
    * model-bounded-collect contract as BigramLm's ≤K-row model. The
    * in-memory pair recount and merge application replicate
    * [[applyMerge]]'s left-to-right greedy fold exactly, so the merge
    * sequence is bit-identical to the former per-round distributed
    * trainer on any corpus within the cap ("aaa" under (a,a) still
    * yields ["aa","a"]). Returns the merge list as ((a, b), count),
    * order deterministic via (count desc, a asc, b asc). */
  /** The one distributed pass of both driver-side trainers ([[Bpe]] and
    * [[WordPiece]]): the (sym, w) vocabulary, [[VocabCap]]-bounded.
    * Deterministic under truncation too: rows ordered (w desc, sym asc);
    * equal-content occurrence rows are interchangeable, so the kept
    * multiset is unique even where limit cuts inside a tie group. */
  private[text] def collectVocab(
      symbolized: DataFrame): Array[(Array[String], Long)] = {
    val weight =
      if (symbolized.columns.contains("w")) col("w") else lit(1L).as("w")
    symbolized.select(col("sym"), weight)
      .orderBy(desc("w"), asc("sym"))
      .limit(VocabCap)
      .collect()
      .map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
  }

  def trainMerges(symbolized: DataFrame, k: Int): Seq[((String, String), Long)] = {
    var words: Array[(Array[String], Long)] = collectVocab(symbolized)
    val merges = Seq.newBuilder[((String, String), Long)]
    var taken = 0
    var exhausted = false
    while (taken < k && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, w) =>
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + w)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        merges += (((a, b), n))
        taken += 1
        words = words.map { case (syms, w) => (applyMergeLocal(syms, a, b), w) }
      }
    }
    merges.result()
  }

  /** Driver-side twin of [[applyMerge]]'s greedy left-to-right fold. */
  private[text] def applyMergeLocal(
      syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { x =>
      if (out.nonEmpty && out.last == a && x == b)
        out(out.length - 1) = a + b
      else out += x
    }
    out.toArray
  }

  /** Weighted adjacent-pair counts of the current symbolization — the
    * per-round statistic BOTH merge trainers ([[trainMerges]] count
    * argmax, [[WordPiece.trainPieces]] likelihood argmax) aggregate. */
  private[text] def weightedPairs(syms: DataFrame): DataFrame =
    syms
      .filter(size(col("sym")) >= 2)
      .select(col("w"), explode(expr(
        """transform(sequence(1, size(sym) - 1),
          |  i -> struct(element_at(sym, i) AS a,
          |              element_at(sym, i + 1) AS b))""".stripMargin))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("w")).as("n_ab"))

  /** Apply merge (a, b), materialize the rewritten cache BEFORE dropping
    * the parent's (the fold references it), return the new relation —
    * the per-round cache discipline shared by both trainers. */
  private[text] def mergeRound(syms: DataFrame, a: String, b: String): DataFrame =
    mergeBatchRound(syms, Seq((a, b)))

  /** Apply a whole batch of merges in ONE materialization: the select
    * chain collapses into a single projection (Catalyst's
    * CollapseProject), so the corpus is rewritten and cached once per
    * counting round, not once per merge. */
  private[text] def mergeBatchRound(
      syms: DataFrame, ms: Seq[(String, String)]): DataFrame = {
    val next = ms.foldLeft(syms) { case (df, (a, b)) =>
      df.select(applyMerge(a, b).as("sym"), col("w"))
    }.cache()
    next.count()
    syms.unpersist()
    next
  }

  /** Merges trained (and applied) by [[bpeEncode]]. */
  val KMerges = 8

  /** Gate query for the APPLY side of the tokenizer loop: train
    * [[KMerges]] merges on the word-frequency table, encode every word
    * with them, and emit per-source token totals before/after — the
    * compression check a tokenizer build ends with. Encoding runs on the
    * vocabulary relation and joins back implicitly through the weighted
    * aggregate: `n_occ × tokens(word)` summed per source, never a
    * per-occurrence fold. The oracle is built AFTER training by inlining
    * the merge literals into a chain of DuckDB `list_reduce` folds (list-
    * of-lists accumulator — bit-identical greedy semantics). */
  /** The corpus's trained merge list (memoized; deterministic, so a
    * fresh retrain gives the identical list). */
  def trainedMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    mergesMemo(s, dir)

  // Memoized: bpe_encode, bpe_fertility and the model roundtrip share ONE
  // tokenizer per corpus (training is the dominant cost: KMerges
  // distributed pair-count rounds).
  private[graft] val mergesMemo = Memo("documents") { (s, dir) =>
    trainMerges(symbolizeWeighted(Tables.parallel(s, dir, "documents")),
      KMerges).map(_._1)
  }

  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val merges = trainedMerges(s, dir)
    synchronized { lastEncodeOracle = Some(encodeOracleSql(merges)) }
    encodeWith(docs, merges)
  }

  /** Encode a corpus with an explicit ordered merge list and emit the
    * per-`key` compression rollup — shared by the trainer gate
    * (keyed by source), [[BpeModel]]'s reloaded-merges replay, and the
    * fertility readout (keyed by lang). */
  def encodeWithKeyed(docs: DataFrame, merges: Seq[(String, String)],
                      key: String): DataFrame = {
    val vocab = docs
      .select(col(key), explode(TextQueries.words(col("text"))).as("t"))
      .groupBy(key, "t").agg(count(lit(1)).as("n_occ"))
      .withColumn("sym", charSplit)
    val enc = merges.foldLeft(vocab) { case (df, (a, b)) =>
      df.withColumn("sym", applyMerge(a, b))
    }
    enc.groupBy(key).agg(
      sum(col("n_occ")).cast("long").as("n_words"),
      sum(col("n_occ") * length(col("t"))).cast("long").as("chars_before"),
      sum(col("n_occ") * size(col("sym"))).cast("long").as("tokens_after"))
  }

  def encodeWith(docs: DataFrame,
                 merges: Seq[(String, String)]): DataFrame =
    encodeWithKeyed(docs, merges, "source")

  /** Gate: tokenizer FERTILITY per language — tokens/word and
    * chars/token under the trained merge list, the readout multilingual
    * tokenizer builds size vocabularies with (a language whose
    * fertility stays near its character count is under-served by the
    * merge budget; cf. the fertility analyses around XLM-R-class
    * multilingual models). Same trained merges as `bpe_encode`, rolled
    * up by lang instead of source, with the two ratio dials. Scale:
    * the vocab-bounded encode law — the fold runs on the (lang, word)
    * vocabulary relation, never per occurrence. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val merges = trainedMerges(s, dir)
    synchronized {
      lastFertilityOracle = Some(
        s"""SELECT lang, n_words, chars_before, tokens_after,
          |  round(tokens_after * 1.0 / n_words, 4) AS fertility,
          |  round(chars_before * 1.0 / tokens_after, 4) AS chars_per_token
          |FROM (${encodeOracleSqlKeyed(merges, "lang")})""".stripMargin)
    }
    encodeWithKeyed(docs, merges, "lang")
      .select(col("lang"), col("n_words"), col("chars_before"),
        col("tokens_after"),
        round(col("tokens_after") * lit(1.0) / col("n_words"), 4)
          .as("fertility"),
        round(col("chars_before") * lit(1.0) / col("tokens_after"), 4)
          .as("chars_per_token"))
  }

  private var lastFertilityOracle: Option[String] = None

  // The encode oracle exists only once the merges are trained (their
  // literals come from the corpus), so bpeEncode records it and `oracles`
  // is a def: Verify runs every query BEFORE dumping oracle SQL.
  private var lastEncodeOracle: Option[String] = None

  /** Post-training oracle for `bpe_encode`: the trained merges inlined as
    * literals; per-merge application = a `list_reduce` over the symbol
    * list wrapped element-per-list (DuckDB's reduce seeds the accumulator
    * with the first element, which matches the fold's empty-acc step). */
  private[text] def encodeOracleSql(merges: Seq[(String, String)]): String =
    encodeOracleSqlKeyed(merges, "source")

  private[text] def encodeOracleSqlKeyed(merges: Seq[(String, String)],
                                         key: String): String = {
    val steps = merges.zipWithIndex.map { case ((a, b), i) =>
      val (qa, qb, qm) = (SqlLit.duck(a), SqlLit.duck(b), SqlLit.duck(a + b))
      s"""s${i + 1} AS (SELECT $key, t, n_occ,
         |  list_reduce(list_transform(sym, s -> [s]),
         |    (acc, x) -> CASE WHEN acc[-1] = $qa AND x[1] = $qb
         |      THEN list_append(acc[1:len(acc)-1], $qm)
         |      ELSE list_append(acc, x[1]) END) AS sym
         |  FROM s$i)""".stripMargin
    }
    val ctes = Seq(
      s"""occ AS (SELECT $key,
        |          unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |            AS t
        |        FROM documents)""".stripMargin,
      s"voc AS (SELECT $key, t, count(*) AS n_occ FROM occ GROUP BY $key, t)",
      s"""s0 AS (SELECT $key, t, n_occ,
        |  list_transform(range(1, length(t) + 1), i -> substr(t, i, 1)) AS sym
        |  FROM voc)""".stripMargin) ++ steps
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT $key, sum(n_occ)::BIGINT AS n_words,
       |  sum(n_occ * length(t))::BIGINT AS chars_before,
       |  sum(n_occ * len(sym))::BIGINT AS tokens_after
       |FROM s${merges.size} GROUP BY $key""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_pairs" -> bpePairs,
    "bpe_encode" -> bpeEncode,
    "bpe_fertility" -> bpeFertility)

  def oracles: Map[String, String] = {
    val base = Map(
      "bpe_pairs" ->
        (s"WITH ${TextQueries.wordsCte},\n" +
          s"""t AS (SELECT unnest(w) AS t FROM w),
            |p AS (SELECT unnest(list_transform(range(1, length(t)),
            |               i -> substr(t, i, 2))) AS pair
            |      FROM t WHERE length(t) >= 2)
            |SELECT pair, count(*) AS n FROM p GROUP BY pair
            |ORDER BY n DESC, pair ASC LIMIT $TopPairs""".stripMargin))
    val withEnc = synchronized(lastEncodeOracle) match {
      case Some(sql) => base + ("bpe_encode" -> sql)
      case None => base
    }
    synchronized(lastFertilityOracle) match {
      case Some(sql) => withEnc + ("bpe_fertility" -> sql)
      case None => withEnc
    }
  }
}
