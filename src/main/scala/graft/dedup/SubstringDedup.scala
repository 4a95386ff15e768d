package graft.dedup

import graft.{Memo, Tables}
import graft.text.TextQueries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact-substring deduplication (Lee et al. 2022, "Deduplicating Training
  * Data Makes Language Models Better", arXiv:2107.06499): flag documents
  * that share a verbatim run of at least [[SubstrK]] tokens with another
  * document — the dedup family that catches boilerplate and quoted blocks
  * the whole-document and near-dup operators miss.
  *
  * The paper's suffix array exists to find shared runs of ANY length ≥ k;
  * every such run contains a k-token gram, so flagging via rolling k-gram
  * fingerprints selects exactly the same document set — and k-gram
  * fingerprinting is the Spark-native shape: explode rolling k-grams,
  * hash to fixed-width keys, one groupBy for document frequency, one join
  * back. No suffix array, no global sort of the corpus.
  *
  * Scale shape at 100 TB: the gram relation is linear in corpus tokens;
  * the only shuffles are the per-doc distinct, the df groupBy (map-side
  * partials), and the join back. The [[DedupQueries.MaxShingleDf]]
  * stop-gram cap bounds hot keys exactly as the shingle operators do —
  * a boilerplate header shared by 10⁶ documents is pruned, not joined.
  * Grams travel as a 60-bit sha256 prefix, not the raw string: fixed-
  * width shuffle keys, and 2⁶⁰ keyspace keeps expected collisions below
  * one even at 10¹³ grams (hex32's 2³² would false-flag at that scale).
  */
object SubstringDedup {

  /** Minimum verbatim run length, in tokens. The paper uses 50 BPE
    * tokens; 8 whitespace words keeps the fixture corpus expressive while
    * the machinery is length-independent. */
  val SubstrK = 8

  /** First 60 bits of sha256 as a long — same construction as
    * [[TextQueries.hex32]] widened to 15 hex chars (2⁶⁰ < 2⁶³, so
    * DuckDB's signed-BIGINT '0x' parse still accepts it). */
  private def hex60(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 15), 16, 10).cast("long")

  /** The positional k-gram relation (doc_id, n_tokens, i, gh) — ONE
    * corpus explode + sha256 pass shared by all three substring-family
    * gates (dedup_substring, dedup_substring_excise, decontam_substring
    * each re-ran it per call; guide §5). Rows ∝ token positions, the
    * bound the excise gate already pays. Un-materialized (aux-lock
    * pinned as substring_grams_pipeline). */
  private[graft] def gramPosPlan(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, dir, "documents")
      .select(col("doc_id"), TextQueries.words(col("text")).as("w"))
      .filter(size(col("w")) >= SubstrK)
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        explode(expr(
          s"""transform(sequence(1, size(w) - ${SubstrK - 1}),
             |  i -> struct(i AS i,
             |              array_join(slice(w, i, $SubstrK), ' ') AS g))"""
            .stripMargin)).as("p"))
      .select(col("doc_id"), col("n_tokens"), col("p.i").as("i"),
        hex60(col("p.g")).as("gh"))

  private[graft] val gramMemo = Memo("documents") { (s, dir) =>
    gramPosPlan(s, dir).localCheckpoint(true)
  }

  /** Per flagged document: how many of its distinct k-grams appear in at
    * least one other document (`n_dup_grams`), and the total number of
    * (gram, other-doc) co-occurrences (`n_partner_grams` = Σ df−1, the
    * duplication mass an excision pass would remove). */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame = {
    val grams = gramMemo(s, dir)
      .select(col("doc_id"), col("gh"))
      .distinct() // one vote per (doc, gram)
      // read twice (df aggregation + join back) — materialize once,
      // nothing pinned after the action completes (house pattern)
      .localCheckpoint(true)
    val dfs = grams.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= DedupQueries.MaxShingleDf)
    grams.join(dfs, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_grams"),
        sum(col("df") - 1).cast("long").as("n_partner_grams"))
  }

  /** Excision accounting — the transformation the paper actually applies:
    * every token position covered by a shared ≥k-token run is removed.
    * Per affected document: total tokens, covered (removed) tokens, and
    * the surviving count. Coverage is the union of [i, i+k) over flagged
    * gram positions, computed as a distinct-position count — overlapping
    * runs never double-count. Same linear shape as [[dedupSubstring]]
    * plus one bounded position-explode over the FLAGGED grams only (at
    * most k rows per flagged gram, and flagged grams are the near-dup
    * tail, not the corpus). */
  def dedupSubstringExcise(s: SparkSession, dir: String): DataFrame = {
    // the shared memoized gram relation serves both reads (df
    // aggregation + coverage join)
    val gp = gramMemo(s, dir)
    val dupGrams = gp.select(col("doc_id"), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= DedupQueries.MaxShingleDf)
      .select(col("gh"))
    gp.join(dupGrams, "gh")
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(col("i"), col("i") + (SubstrK - 1))).as("pos"))
      .groupBy("doc_id", "n_tokens")
      .agg(countDistinct(col("pos")).as("n_covered"))
      .select(col("doc_id"), col("n_tokens"), col("n_covered"),
        (col("n_tokens") - col("n_covered")).as("n_after"))
  }

  /** Substring-based eval decontamination — the GPT-3-appendix /
    * Lee et al. §6 discipline: a training document is contaminated if it
    * shares a VERBATIM run of ≥ [[SubstrK]] tokens with any benchmark
    * document (any such run contains a k-gram, so the rolling-fingerprint
    * relation finds exactly the affected docs — same argument as
    * [[dedupSubstring]]). Stricter than the shingle-overlap rule
    * (`decontaminate`, ≥5 separate trigrams): ONE verbatim run flags.
    * Per (corpus doc, eval doc): distinct shared k-grams, and the
    * corpus doc's token positions covered by them (what an excision
    * pass would remove — overlapping runs never double-count).
    *
    * Scale shape: eval side is tiny by construction → broadcast; the
    * corpus gram stream joins it in one pass, and every aggregate is
    * keyed by (doc, eval) pairs that actually matched — the same
    * broadcast-side-fixed family as `decontaminate`/`decontam_bloom`. */
  def decontamSubstring(s: SparkSession, dir: String): DataFrame = {
    val gp = gramMemo(s, dir)
      .select(col("doc_id"), col("i"), col("gh"))
    val eval = gp.filter(col("doc_id") < DedupQueries.DecontamEvalDocs)
      .select(col("doc_id").as("eval_id"), col("gh")).distinct()
    val corpus = gp.filter(col("doc_id") >= DedupQueries.DecontamEvalDocs)
    // read twice (shared-gram count + coverage) — materialize the
    // contamination-sized hit relation once instead of re-running the
    // corpus gram explode + probe per consumer
    val hits = corpus.join(broadcast(eval), "gh").localCheckpoint(true)
    // Two single-distinct aggregations joined on the (tiny) matched-pair
    // keys, NOT one agg with two countDistincts: Spark's
    // RewriteDistinctAggregates assigns its Expand gids in an order that
    // follows session-history expression IDs, so the dual-distinct plan
    // STRING is nondeterministic (same results) and would flap the plan
    // lock. Both relations here are contamination-sized.
    val shared = hits.select("doc_id", "eval_id", "gh").distinct()
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_shared_grams"))
    val covered = hits.select(col("doc_id"), col("eval_id"),
        explode(sequence(col("i"), col("i") + (SubstrK - 1))).as("pos"))
      .distinct()
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_covered"))
    shared.join(covered, Seq("doc_id", "eval_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_excise" -> dedupSubstringExcise,
    "decontam_substring" -> decontamSubstring)

  val oracles: Map[String, String] = Map(
    "dedup_substring" ->
      s"""WITH wd AS (SELECT doc_id,
        |              list_filter(string_split(text, ' '), x -> x <> '') AS w
        |            FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, len(w) - ${SubstrK - 2})) AS i
        |        FROM wd WHERE len(w) >= $SubstrK),
        |g AS (SELECT DISTINCT doc_id,
        |        ('0x' || substr(sha256(array_to_string(w[i:i+${SubstrK - 1}], ' ')),
        |                        1, 15))::BIGINT AS gh
        |      FROM pos),
        |d AS (SELECT gh, count(*) AS df FROM g GROUP BY gh
        |      HAVING count(*) >= 2 AND count(*) <= ${DedupQueries.MaxShingleDf})
        |SELECT g.doc_id, count(*) AS n_dup_grams,
        |  sum(d.df - 1)::BIGINT AS n_partner_grams
        |FROM g JOIN d USING (gh) GROUP BY g.doc_id""".stripMargin,
    "dedup_substring_excise" ->
      s"""WITH wd AS (SELECT doc_id,
        |              list_filter(string_split(text, ' '), x -> x <> '') AS w
        |            FROM documents),
        |gp AS (SELECT doc_id, len(w)::BIGINT AS n_tokens, i,
        |         ('0x' || substr(sha256(array_to_string(w[i:i+${SubstrK - 1}], ' ')),
        |                         1, 15))::BIGINT AS gh
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${SubstrK - 2}))
        |               AS i
        |             FROM wd WHERE len(w) >= $SubstrK)),
        |dup AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM gp)
        |        GROUP BY gh
        |        HAVING count(*) >= 2 AND count(*) <= ${DedupQueries.MaxShingleDf}),
        |cov AS (SELECT DISTINCT gp.doc_id, gp.n_tokens,
        |          unnest(range(gp.i, gp.i + $SubstrK)) AS pos
        |        FROM gp JOIN dup USING (gh))
        |SELECT doc_id, n_tokens, count(*) AS n_covered,
        |  n_tokens - count(*) AS n_after
        |FROM cov GROUP BY doc_id, n_tokens""".stripMargin,
    "decontam_substring" ->
      s"""WITH wd AS (SELECT doc_id,
        |              list_filter(string_split(text, ' '), x -> x <> '') AS w
        |            FROM documents),
        |gp AS (SELECT doc_id, i,
        |         ('0x' || substr(sha256(array_to_string(w[i:i+${SubstrK - 1}], ' ')),
        |                         1, 15))::BIGINT AS gh
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${SubstrK - 2}))
        |               AS i
        |             FROM wd WHERE len(w) >= $SubstrK)),
        |e AS (SELECT DISTINCT doc_id AS eval_id, gh FROM gp
        |      WHERE doc_id < ${DedupQueries.DecontamEvalDocs}),
        |c AS (SELECT doc_id, i, gh FROM gp
        |      WHERE doc_id >= ${DedupQueries.DecontamEvalDocs}),
        |hits AS (SELECT c.doc_id, e.eval_id, c.gh,
        |           unnest(range(c.i, c.i + $SubstrK)) AS pos
        |         FROM c JOIN e USING (gh))
        |SELECT doc_id, eval_id,
        |  count(DISTINCT gh) AS n_shared_grams,
        |  count(DISTINCT pos) AS n_covered
        |FROM hits GROUP BY doc_id, eval_id""".stripMargin)
}
