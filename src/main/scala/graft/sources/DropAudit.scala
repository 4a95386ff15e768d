package graft.sources

import graft.{Memo, Tables}
import graft.dedup.ConnectedComponents
import graft.text.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-document drop provenance — the audit relation every curation
  * pipeline ships alongside the corpus: for EVERY input document, the
  * verdict the write funnel reached and, for dedup drops, the document
  * it lost to. The aggregate views exist (`pipeline_funnel` stage
  * counts, `dedup_by_source` rates, `filter_overlap` rule attribution);
  * this is the per-row answer to "why is doc X not in the corpus?" —
  * the debugging surface a data owner actually queries.
  *
  * Verdicts, in the funnel's own precedence (so the audit can never
  * disagree with [[CorpusManifest.survivors]]):
  *  - `exact_dup` — not the min-id of its byte-identical text group;
  *    `keeper_id` = that min (the kept copy);
  *  - `near_dup` — a non-keeper member of a verified near-dup cluster
  *    (and not already an exact dup); `keeper_id` = the cluster label
  *    (the min-id member, the kept representative);
  *  - `quality` — fails the Gopher rule set; `keeper_id` is null
  *    (nothing replaces it — it is dropped on its own merits);
  *  - `kept` — a survivor.
  * A keeper is NOT transitively resolved: an exact keeper that itself
  * fails Gopher audits as `quality`, and its dups still point at it —
  * the provenance records what each rule saw, not the final corpus
  * (that reconciliation is exactly what `dedup_apply`'s disjoint-tier
  * law already certifies).
  *
  * Scale: one corpus scan + two membership joins against the tier
  * relations (pair-bound, memoized — the same relations
  * `dedup_by_source` rides) + the Gopher projection; output ∝ docs by
  * design (an audit row per input). */
object DropAudit {

  /** Gate: (doc_id, source, verdict, keeper_id) for every document —
    * memoized ([[dropAuditPlan]] is the pinned pipeline). */
  def dropAudit(s: SparkSession, dir: String): DataFrame = auditMemo(s, dir)

  // Memoized: the audit relation feeds its own gate AND release_report's
  // per-source verdict rollup.
  private[graft] val auditMemo = Memo("documents") { (s, dir) =>
    dropAuditPlan(s, dir).localCheckpoint(true)
  }

  /** The audit pipeline UN-materialized (aux-lock pinned). */
  private[graft] def dropAuditPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
    val exact = Tables(s, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("ch"))
      .withColumn("ex_keeper", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("ch")))
      .filter(col("doc_id") =!= col("ex_keeper"))
      .select(col("doc_id"), col("ex_keeper"))
    val near = ConnectedComponents.dedupClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), col("cluster_id").as("near_keeper"))
    val gpass = TextQueries.gopherFlags(Tables.parallel(s, dir, "documents"))
      .filter(col("pass")).select(col("doc_id"), lit(true).as("g_ok"))
    docs
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .join(gpass, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("ex_keeper").isNotNull, "exact_dup")
          .when(col("near_keeper").isNotNull, "near_dup")
          .when(col("g_ok").isNull, "quality")
          .otherwise("kept").as("verdict"),
        when(col("ex_keeper").isNotNull, col("ex_keeper"))
          .when(col("near_keeper").isNotNull, col("near_keeper"))
          .otherwise(lit(null).cast("long")).as("keeper_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "drop_audit" -> dropAudit)

  /** The funnel-verdict CTE chain (composes after
    * [[graft.dedup.DedupQueries.lshPairsCte]]), ending in
    * `verdicts(doc_id, source, verdict, keeper_id)` — THE single
    * statement of the funnel-precedence rules in SQL, shared with the
    * release-report oracle so the composed gate can never drift from
    * this one. */
  private[graft] def verdictsCtes: String = {
    import graft.text.TextQueries._
    s"""edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
      |          UNION SELECT b_id, a_id FROM lshpairs),
      |reach(a, b) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
      |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
      |         FROM reach GROUP BY a),
      |exk AS (SELECT doc_id,
      |          min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper
      |        FROM documents),
      |wq AS (SELECT doc_id,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS w
      |       FROM documents),
      |g AS (SELECT doc_id FROM wq WHERE len(w) >= 1
      |        AND (len(w) BETWEEN $GopherMinWords AND $GopherMaxWords)
      |        AND list_sum(list_transform(w, x -> length(x))) * 1.0
      |            / len(w) >= $GopherMinMeanLen
      |        AND list_sum(list_transform(w, x -> length(x))) * 1.0
      |            / len(w) <= $GopherMaxMeanLen
      |        AND len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
      |            * 1.0 / len(w) >= $GopherMinAlphaFrac
      |        AND len(list_filter(w, x -> x IN ($stopListSql)))
      |            >= $GopherMinStopHits),
      |verdicts AS (SELECT d.doc_id, d.source,
      |  CASE WHEN e.keeper <> d.doc_id THEN 'exact_dup'
      |       WHEN c.cluster_id IS NOT NULL AND c.cluster_id <> d.doc_id
      |         THEN 'near_dup'
      |       WHEN d.doc_id NOT IN (SELECT doc_id FROM g) THEN 'quality'
      |       ELSE 'kept' END AS verdict,
      |  CASE WHEN e.keeper <> d.doc_id THEN e.keeper
      |       WHEN c.cluster_id IS NOT NULL AND c.cluster_id <> d.doc_id
      |         THEN c.cluster_id
      |       ELSE NULL END::BIGINT AS keeper_id
      |FROM documents d
      |JOIN exk e ON e.doc_id = d.doc_id
      |LEFT JOIN comp c ON c.doc_id = d.doc_id)""".stripMargin
  }

  /** Oracle: the funnel tiers replayed with their keepers kept. */
  def oracles: Map[String, String] =
    Map("drop_audit" ->
      (s"WITH RECURSIVE ${graft.dedup.DedupQueries.lshPairsCte},\n" +
        s"""$verdictsCtes
          |SELECT doc_id, source, verdict, keeper_id
          |FROM verdicts""".stripMargin))
}
