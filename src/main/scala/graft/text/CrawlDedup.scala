package graft.text

import graft.{Memo, Tables}
import graft.dedup.ConnectedComponents
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl-level URL ↔ content dedup — the join the crawl tier computed
  * both halves of but never ran: [[UrlCanonical]] canonicalizes fetch
  * targets and the dedup tier fingerprints content (near-dup cluster
  * labels over MinHash-LSH verified pairs), and every real crawl store
  * runs the two queries that CONNECT them:
  *
  *  - **mirror detection** (`url_mirror_sets`): the same content family
  *    served at ≥ 2 distinct canonical URLs. Content identity is the
  *    near-dup CLUSTER label (the memoized
  *    [[ConnectedComponents.dedupClusters]] relation) rather than an
  *    exact byte hash: mirrors in the wild differ by banners/dates, so
  *    byte equality under-detects — the fingerprint that groups them is
  *    the same one the dedup tier already certifies. Each cluster's
  *    members carry their canonical page URL ([[UrlCanonical.u0]]
  *    canonicalized); a cluster spanning ≥ 2 distinct URLs is a mirror
  *    set, reported with its URL/host spread and deterministic min/max
  *    representative URLs. The fixture's planted near-dup clusters span
  *    sources (probed: 20 of 21 clusters at sf0.001), so cross-HOST
  *    mirror sets genuinely fire at every SF.
  *
  *  - **recrawl delta** (`url_recrawl_delta`): the same canonical
  *    target fetched in two snapshots with CHANGED extracted content —
  *    the fetch-scheduling signal. Snapshot B is synthesized
  *    deterministically in-query (the `pii_redact`/[[HtmlExtract]]
  *    playbook): every [[EditMod]]-th doc's text gains one word, both
  *    snapshots run the full [[HtmlExtract]] pipeline, and per-target
  *    content is summarized by the order-independent sha-XOR
  *    ([[graft.sources.CorpusManifest]]'s checksum monoid) so a target
  *    serving several docs compares as a set. The subtle (and correct)
  *    interaction: an edit on a PARKED page (empty content div) never
  *    reaches the extracted content, so its target reports UNCHANGED —
  *    recrawl scheduling on extracted content deliberately ignores
  *    changes invisible to extraction.
  *
  * Scale: mirror sets ride the memoized cluster labels (∝ clustered
  * docs, already paid by the dedup tier) joined to a zero-shuffle URL
  * projection — one doc_id-keyed join + one cluster-keyed rollup, both
  * output-sized. Recrawl delta is two extraction scans (pure per-row
  * projections) + two target-keyed rollups + one target-keyed join —
  * shuffle ∝ distinct targets, the crawl frontier's own size.
  */
object CrawlDedup {

  /** Every EditMod-th doc's page content changes between snapshots —
    * coprime to [[HtmlExtract.ParkedMod]] (13) so edited-parked docs
    * exist (the change-invisible-to-extraction population) and to the
    * u0 target moduli so targets mix edited and clean docs. */
  val EditMod = 3

  /** Snapshot B's text: one appended word for every EditMod-th doc. */
  def editedText: Column =
    when(col("doc_id") % EditMod === 0,
      concat(col("text"), lit(" updated"))).otherwise(col("text"))

  /** Gate: mirror sets — near-dup clusters served at ≥ 2 distinct
    * canonical page URLs, with URL/host spread and representative
    * URLs. */
  def urlMirrorSets(s: SparkSession, dir: String): DataFrame = {
    val labels = ConnectedComponents.dedupClusters(s, dir)
    val pages = Tables.parallel(s, dir, "documents")
      .select(col("doc_id"),
        UrlCanonical.canonicalize(UrlCanonical.u0).as("url"))
    // distinct (cluster, url) — cluster_size is functional on cluster_id
    // so it rides along without widening the key
    pages.join(labels, "doc_id")
      .select(col("cluster_id"), col("cluster_size"), col("url"))
      .distinct()
      .withColumn("host",
        regexp_extract(col("url"), UrlCanonical.SchemeHostRe, 2))
      .groupBy("cluster_id")
      .agg(max(col("cluster_size")).as("n_docs"),
        count(lit(1)).as("n_urls"), // pre-distinct ⇒ count(*) IS distinct
        countDistinct(col("host")).as("n_hosts"), // single distinct agg
        min(col("url")).as("first_url"),
        max(col("url")).as("last_url"))
      .filter(col("n_urls") >= 2)
  }

  /** One snapshot's per-target content manifest: doc count + sha-XOR
    * of the EXTRACTED main content (60-bit prefix, order-free). */
  private def snapManifest(s: SparkSession, dir: String, edited: Boolean,
                           p: String): DataFrame = {
    val docs0 = Tables.parallel(s, dir, "documents")
    val docs = if (edited) docs0.withColumn("text", editedText) else docs0
    HtmlExtract.scored(docs.withColumn("page", HtmlExtract.pageCol))
      .select(UrlCanonical.canonicalize(UrlCanonical.u0).as("target"),
        conv(substring(sha2(col("main_txt"), 256), 1, 15), 16, 10)
          .cast("long").as("h"))
      .groupBy("target")
      .agg(count(lit(1)).as(s"${p}n"), expr("bit_xor(h)").as(s"${p}xor"))
  }

  /** Gate: recrawl delta — every canonical target with its old/new
    * extracted-content checksum and the changed flag. Inner join is
    * total: both snapshots cover the identical doc set, so the target
    * domains coincide. */
  def urlRecrawlDelta(s: SparkSession, dir: String): DataFrame =
    deltaMemo(s, dir)

  // Memoized: TWO gates consume the recrawl delta (url_recrawl_delta
  // itself and crawl_schedule's per-host ranking), and its dominant cost
  // is the two full extraction scans.
  private[graft] val deltaMemo = Memo("documents") { (s, dir) =>
    val a = snapManifest(s, dir, edited = false, "a_")
    val b = snapManifest(s, dir, edited = true, "b_")
    a.join(b, Seq("target"))
      .select(col("target"),
        regexp_extract(col("target"), UrlCanonical.SchemeHostRe, 2)
          .as("host"),
        col("a_n").as("n_docs"),
        col("a_xor").as("old_xor"), col("b_xor").as("new_xor"),
        (col("a_xor") =!= col("b_xor")).as("changed"))
      .localCheckpoint(true)
  }

  /** Gate: the host-pair mirror matrix — for every unordered host pair,
    * how many content families are mirrored across it and how many
    * member URL pairs witness that (the readout a crawl operator uses
    * to find systematic mirror relationships: www↔apex everywhere, a
    * specific pair of sites mirroring each other's content). Pair
    * expansion is WITHIN cluster only (cluster sizes are dedup-bounded,
    * ≤ 4 on this corpus; the df-capped pair relations bound them at
    * scale), normalized to unordered host pairs via least/greatest. */
  def urlMirrorHosts(s: SparkSession, dir: String): DataFrame = {
    val labels = ConnectedComponents.dedupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val obs = Tables.parallel(s, dir, "documents")
      .select(col("doc_id"),
        UrlCanonical.canonicalize(UrlCanonical.u0).as("url"))
      .join(labels, "doc_id")
      .select(col("cluster_id"), col("url"))
      .distinct()
      .withColumn("host",
        regexp_extract(col("url"), UrlCanonical.SchemeHostRe, 2))
    obs.as("a").join(obs.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.url") < col("b.url"))
      .select(
        least(col("a.host"), col("b.host")).as("host_a"),
        greatest(col("a.host"), col("b.host")).as("host_b"),
        col("a.cluster_id").as("cluster_id"))
      .groupBy("host_a", "host_b")
      .agg(count(lit(1)).as("n_url_pairs"),
        countDistinct(col("cluster_id")).as("n_contents"))
  }

  /** Gate: the ACTION mirror detection exists for — the fetch-once
    * frontier: per content family (near-dup cluster, or the doc itself
    * when unclustered) keep ONE representative URL (the min — the
    * deterministic canonical pick), and report per host how much fetch
    * work the collapse saves. One left join against the memoized labels
    * + two host-keyed rollups; everything ∝ docs. */
  def urlFetchOnce(s: SparkSession, dir: String): DataFrame = {
    val labels = ConnectedComponents.dedupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val obs = Tables.parallel(s, dir, "documents")
      .select(col("doc_id"),
        UrlCanonical.canonicalize(UrlCanonical.u0).as("url"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("fp", coalesce(col("cluster_id"), col("doc_id")))
    def perHost(urls: DataFrame, n: String) =
      urls.distinct()
        .withColumn("host",
          regexp_extract(col("url"), UrlCanonical.SchemeHostRe, 2))
        .groupBy("host").agg(count(lit(1)).as(n))
    val allUrls = perHost(obs.select("url"), "n_urls")
    val keepUrls = perHost(
      obs.groupBy("fp").agg(min(col("url")).as("url")).select("url"),
      "n_fetch")
    // left join: a host whose every URL is mirrored elsewhere keeps no
    // representative and must still report (n_fetch = 0)
    allUrls.join(keepUrls, Seq("host"), "left")
      .select(col("host"), col("n_urls"),
        coalesce(col("n_fetch"), lit(0L)).as("n_fetch"),
        (col("n_urls") - coalesce(col("n_fetch"), lit(0L))).as("n_saved"))
  }

  /** Per-cycle politeness budget: fetch slots per host. */
  val HostBudget = 5

  /** Gate: the fetch schedule a crawler derives FROM the delta — per
    * host, the top-[[HostBudget]] targets by recrawl priority (changed
    * content first, then fan-in `n_docs` desc, then target asc for
    * determinism). The per-host cap is the standard politeness budget;
    * the rank comes from a host-partitioned window, which Spark
    * executes as partial+final WindowGroupLimit — only [[HostBudget]]
    * rows per host ever cross the final shuffle, the same plan
    * discipline as the q13 top-k gate. Input is the target-keyed delta
    * relation (∝ distinct targets), never the corpus. */
  def crawlSchedule(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("host"))
      .orderBy(col("changed").desc, col("n_docs").desc, col("target").asc)
    urlRecrawlDelta(s, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HostBudget)
      .select(col("host"), col("rank").cast("long").as("rank"),
        col("target"), col("changed"), col("n_docs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "url_mirror_sets" -> urlMirrorSets,
    "url_recrawl_delta" -> urlRecrawlDelta,
    "crawl_schedule" -> crawlSchedule,
    "url_fetch_once" -> urlFetchOnce,
    "url_mirror_hosts" -> urlMirrorHosts)

  /** doc_id → canonical page URL in DuckDB (u0 synthesized then run
    * through the shared canonicalization chain). */
  private def urlsCte: String =
    s"""urls AS (SELECT doc_id, ${UrlCanonical.canonExpr} AS url
      |         FROM (SELECT doc_id, ${UrlCanonical.U0Sql} AS u
      |               FROM documents))""".stripMargin

  def oracles: Map[String, String] = Map(
    // near-dup CC labels (the dedup_clusters oracle's recursive closure)
    // joined to canonical page URLs, rolled up per cluster
    "url_mirror_sets" ->
      (s"WITH RECURSIVE ${graft.dedup.DedupQueries.lshPairsCte},\n" +
        s"""edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
          |          UNION SELECT b_id, a_id FROM lshpairs),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
          |         FROM reach GROUP BY a),
          |sz AS (SELECT cluster_id, count(*) AS cluster_size
          |       FROM comp GROUP BY 1),
          |$urlsCte,
          |uo AS (SELECT DISTINCT c.cluster_id, sz.cluster_size, u.url
          |       FROM comp c
          |       JOIN sz USING (cluster_id)
          |       JOIN urls u ON u.doc_id = c.doc_id)
          |SELECT cluster_id, max(cluster_size)::BIGINT AS n_docs,
          |  count(*)::BIGINT AS n_urls,
          |  count(DISTINCT regexp_extract(url, '${UrlCanonical.SchemeHostRe}', 2))::BIGINT
          |    AS n_hosts,
          |  min(url) AS first_url, max(url) AS last_url
          |FROM uo GROUP BY 1 HAVING count(*) >= 2""".stripMargin),
    // within-cluster URL pairs normalized to unordered host pairs
    "url_mirror_hosts" ->
      (s"WITH RECURSIVE ${graft.dedup.DedupQueries.lshPairsCte},\n" +
        s"""edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
          |          UNION SELECT b_id, a_id FROM lshpairs),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
          |         FROM reach GROUP BY a),
          |$urlsCte,
          |uo AS (SELECT DISTINCT c.cluster_id, u.url,
          |         regexp_extract(u.url, '${UrlCanonical.SchemeHostRe}', 2)
          |           AS host
          |       FROM comp c JOIN urls u ON u.doc_id = c.doc_id)
          |SELECT least(a.host, b.host) AS host_a,
          |  greatest(a.host, b.host) AS host_b,
          |  count(*)::BIGINT AS n_url_pairs,
          |  count(DISTINCT a.cluster_id)::BIGINT AS n_contents
          |FROM uo a JOIN uo b
          |  ON a.cluster_id = b.cluster_id AND a.url < b.url
          |GROUP BY 1, 2""".stripMargin),
    // mirror collapse as an action: one representative URL per content
    // family (cluster or singleton doc), per-host savings rollup
    "url_fetch_once" ->
      (s"WITH RECURSIVE ${graft.dedup.DedupQueries.lshPairsCte},\n" +
        s"""edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
          |          UNION SELECT b_id, a_id FROM lshpairs),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
          |         FROM reach GROUP BY a),
          |$urlsCte,
          |obs AS (SELECT u.doc_id, u.url,
          |          coalesce(c.cluster_id, u.doc_id) AS fp
          |        FROM urls u LEFT JOIN comp c ON c.doc_id = u.doc_id),
          |au AS (SELECT regexp_extract(url, '${UrlCanonical.SchemeHostRe}', 2)
          |         AS host, count(*) AS n_urls
          |       FROM (SELECT DISTINCT url FROM obs) GROUP BY 1),
          |ku AS (SELECT regexp_extract(url, '${UrlCanonical.SchemeHostRe}', 2)
          |         AS host, count(*) AS n_fetch
          |       FROM (SELECT DISTINCT url FROM
          |               (SELECT fp, min(url) AS url FROM obs GROUP BY fp))
          |       GROUP BY 1)
          |SELECT au.host, au.n_urls::BIGINT AS n_urls,
          |  coalesce(ku.n_fetch, 0)::BIGINT AS n_fetch,
          |  (au.n_urls - coalesce(ku.n_fetch, 0))::BIGINT AS n_saved
          |FROM au LEFT JOIN ku ON ku.host = au.host""".stripMargin),
    // the html extraction chain replayed TWICE (base + edited snapshot),
    // then per-target sha-XOR manifests compared
    "url_recrawl_delta" ->
      s"""WITH $recrawlCtes
        |SELECT target, host, n_docs, old_xor, new_xor, changed
        |FROM delta""".stripMargin,
    // the delta relation ranked per host with the politeness cap
    "crawl_schedule" ->
      s"""WITH $recrawlCtes,
        |ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY host
        |    ORDER BY changed DESC, n_docs DESC, target ASC) AS rank
        |  FROM delta)
        |SELECT host, rank::BIGINT AS rank, target, changed, n_docs
        |FROM ranked WHERE rank <= $HostBudget""".stripMargin)

  /** CTE chain ending in `delta(target, host, n_docs, old_xor,
    * new_xor, changed)` — the recrawl relation both oracles read. */
  private def recrawlCtes: String = {
    val docs2 =
      s"""docs2 AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % $EditMod = 0 THEN text || ' updated'
        |       ELSE text END AS text
        |  FROM documents)""".stripMargin
    s"""$docs2,
      |${HtmlExtract.htmlCteFrom("documents", "")},
      |${HtmlExtract.htmlCteFrom("docs2", "b")},
      |$urlsCte,
      |ma AS (SELECT u.url AS target, count(*) AS n_docs,
      |         bit_xor(CAST('0x' || substr(r.main_sha, 1, 15) AS BIGINT))
      |           AS old_xor
      |       FROM urls u JOIN res r USING (doc_id) GROUP BY 1),
      |mb AS (SELECT u.url AS target,
      |         bit_xor(CAST('0x' || substr(r.main_sha, 1, 15) AS BIGINT))
      |           AS new_xor
      |       FROM urls u JOIN bres r USING (doc_id) GROUP BY 1),
      |delta AS (SELECT ma.target,
      |    regexp_extract(ma.target, '${UrlCanonical.SchemeHostRe}', 2)
      |      AS host,
      |    ma.n_docs::BIGINT AS n_docs,
      |    ma.old_xor::BIGINT AS old_xor, mb.new_xor::BIGINT AS new_xor,
      |    ma.old_xor <> mb.new_xor AS changed
      |  FROM ma JOIN mb ON ma.target = mb.target)""".stripMargin
  }
}
