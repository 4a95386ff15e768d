package graft.dedup

import graft.Memo
import graft.dedup.DedupQueries.{prunedShingles, shinglesCte, shpCte}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prefix-filtered exact set-similarity join (All-Pairs / PPJoin family:
  * Bayardo, Ma & Srikant, WWW 2007; Xiao, Wang, Lin & Yu, WWW 2008) —
  * the EXACT sub-quadratic path for HIGH-threshold near-duplicate
  * detection, complementing MinHash LSH: LSH is probabilistic and
  * band-tunable down to moderate thresholds (the 0.5 gate family);
  * prefix filtering is lossless and effective precisely when the
  * threshold is high ([[PrefixThreshold]] = 0.8 — the "near-identical
  * page" regime exact-dedup pipelines run), because the prefix length
  * `n - ceil(t*n) + 1` shrinks toward `0.2n + 1` as t → 0.8. Measured
  * on this corpus: at t = 0.5 prefixes cover >half of every document
  * and the candidate set approaches the full co-occurrence pair set
  * (12.3M candidates at 30× for ~8.7k true pairs — the filter buys
  * nothing); at t = 0.8 the same corpus yields candidate counts within
  * a small factor of the true pair count. Thresholds are the dial, and
  * 0.8 is this operator's regime.
  *
  * Every document is its distinct pruned-shingle set. Order all
  * shingles globally by (document frequency ASC, shingle ASC) — rarest
  * first — and keep each document's prefix. The prefix-filtering
  * theorem (proof at [[prefixLen]]): any pair with Jaccard >= t shares
  * its globally-smallest common shingle inside BOTH prefixes, so the
  * prefix self-join candidate set provably contains every qualifying
  * pair. Candidates are then verified EXACTLY — and the verification
  * joins per-document shingle ARRAYS ([[docSets]]), so verify shuffle
  * is ∝ candidates + documents, never candidates × document length
  * (the re-expansion shape measured as an 875M-record blow-up before
  * this design). The ORACLE is the exhaustive exact-pairs SQL with no
  * prefix logic in it: the hash gate certifies the filter is LOSSLESS,
  * not merely plausible.
  *
  * Scale shape: one df aggregation (map-side partial), one
  * doc-partitioned row_number (window bounded by document length), one
  * prefix self-join whose pair expansion is Σ_s p(s)² over PREFIX
  * occurrences of the RAREST tokens only, one array-build aggregation
  * ∝ tokens, and a candidates⋈docs join ∝ candidates. No driver-side
  * state, no corpus-sized broadcast, no unpartitioned window.
  */
object PrefixJoin {

  /** This operator's similarity threshold — deliberately HIGHER than
    * [[DedupQueries.JaccardThreshold]]: prefix filtering is the exact
    * high-band path (see class doc). On the gate fixtures every
    * verified 0.5-pair is also a 0.8-pair (planted near-dups sit at
    * J ≈ 0.99), so the two operators agree there; they diverge by
    * design on corpora with a moderate-similarity band. */
  val PrefixThreshold = 0.8

  /** Prefix length for threshold t on a set of size n:
    * `n - ceil(t*n) + 1`. Proof that the prefix×prefix join is exact
    * for Jaccard: J(a,b) >= t implies common c >= t*(na + nb - c) >=
    * t*na (since nb >= c). Let x be the common shingle smallest in the
    * global order; if x sat outside a's prefix then ALL common shingles
    * would sit in a's suffix of length na - p(na) = ceil(t*na) - 1 <
    * t*na <= c — contradiction. Symmetrically for b, so x lies in both
    * prefixes. The same suffix-counting argument gives the CONTAINMENT
    * variant (see [[containmentCandidates]]): overlap c >= t*n_A
    * already on the shorter side alone, so A's prefix must intersect
    * A∩B — but B's matching token can sit anywhere in B's order, which
    * is why the containment index probes prefix(shorter) against the
    * FULL longer side rather than prefix×prefix. */
  def prefixLen(n: Column, t: Double = PrefixThreshold): Column =
    n - ceil(n * lit(t)) + 1

  /** Each document's prefix tokens under the global (df ASC, shingle
    * ASC) order, as (doc_id, s, n). The row_number window partitions by
    * doc_id — bounded by document length, never by corpus size. */
  def prefixTokens(sh: DataFrame, t: Double = PrefixThreshold): DataFrame = {
    val dfc = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
    sh.join(dfc, "s")
      .withColumn("rk", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rk") <= prefixLen(col("n"), t))
      .select(col("doc_id"), col("s"), col("n"))
  }

  /** Candidate pairs from the prefix self-join (a_id < b_id, distinct).
    * Shared-token pair expansion runs over PREFIX occurrences only —
    * and df-ascending ordering puts exactly the RAREST shingles there,
    * so bucket sizes are small by construction. */
  def candidatePairs(prefix: DataFrame): DataFrame =
    prefix.as("x").join(prefix.as("y"),
      col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()

  /** One row per document: its sorted distinct-shingle array and size —
    * the verification side-relation. collect_list partials combine
    * map-side (ObjectHashAggregate); total bytes ∝ tokens. */
  def docSets(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("s"))).as("ss"),
        count(lit(1)).as("n"))

  /** Exact verification by ARRAY INTERSECTION: join each candidate pair
    * to the two per-doc shingle arrays (shuffle ∝ candidates + docs),
    * `common = |sa ∩ sb|` computed in-row. Never re-expands a candidate
    * into per-shingle rows. */
  def verify(cands: DataFrame, sh: DataFrame): DataFrame =
    // Declarative on purpose, no materialization: in the shuffle regime
    // the planner's ReuseExchange serves both join sides from one
    // aggregation (measured — 50.5M records either way at 30×), and in
    // the broadcast regime rebuilding the per-side broadcast is cheaper
    // than an eager localCheckpoint (measured +1.8 s at sf0.1). The
    // GATE path goes through the memoized relations instead.
    verifyWith(cands, docSets(sh))

  /** Verification against an explicit doc-sets relation. */
  def verifyWith(cands: DataFrame, ds: DataFrame): DataFrame = {
    cands
      .join(ds.select(col("doc_id").as("a_id"), col("ss").as("sa"),
        col("n").as("na")), "a_id")
      .join(ds.select(col("doc_id").as("b_id"), col("ss").as("sb"),
        col("n").as("nb")), "b_id")
      .withColumn("common", size(array_intersect(col("sa"), col("sb")))
        .cast("long"))
      .withColumn("jaccard",
        col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= PrefixThreshold)
      .select(col("a_id"), col("b_id"), col("common"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  // Memoized (prefix tokens, doc sets) at t = 0.8: BOTH gate queries
  // (dedup_prefix_jaccard and the containment index) read the same two
  // relations, and the df aggregation + per-doc window + array build are
  // their dominant shared cost.
  private[graft] val relationsMemo = Memo("documents") { (s, dir) =>
    // the shared prefix relation is only valid for BOTH gates while the
    // two thresholds coincide — fail loudly if one is ever retuned
    require(DedupQueries.ContainmentThreshold == PrefixThreshold,
      "containment and prefix thresholds diverged: split the memo")
    val sh = prunedShingles(s, dir)
    (prefixTokens(sh).localCheckpoint(true), docSets(sh).localCheckpoint(true))
  }

  // Memoized VERIFIED containment pairs: two gate consumers
  // (dedup_containment_indexed itself and the ensemble clustering
  // dedup_clusters_multi) read the identical candidate join + exact
  // verification.
  private[graft] val pairsMemo = Memo("documents") { (s, dir) =>
    val sh = prunedShingles(s, dir)
    val (prefix, ds) = relationsMemo(s, dir)
    val full = sh.join(ds.select(col("doc_id"), col("n")), "doc_id")
    verifyContainmentWith(containmentCandidates(prefix, full), ds)
      .localCheckpoint(true)
  }

  /** Force the memo build (bench memo-cost attribution). */
  def warm(s: SparkSession, dir: String): Unit = relationsMemo(s, dir)

  /** Force the verified-containment memo (bench memo-cost attribution;
    * assumes [[warm]]'s relations are paid). */
  def warmContainment(s: SparkSession, dir: String): Unit = {
    pairsMemo(s, dir); ()
  }

  /** The gate query: prefix-filter candidates, verify exactly. Output
    * (and oracle) identical to the exhaustive join by the theorem. */
  def dedupPrefixJaccard(s: SparkSession, dir: String): DataFrame = {
    val (prefix, ds) = relationsMemo(s, dir)
    verifyWith(candidatePairs(prefix), ds)
  }

  // ───────────────────── containment-targeted index (asymmetric) ──────
  //
  // The production path round 6 left named-but-unimplemented
  // (DedupQueries.dedupContainment scaladoc): a low-Jaccard containment
  // pair (short quote inside a long host) rarely collides in symmetric
  // LSH bands, and prefix×prefix misses it too — the host's prefix is
  // its rarest tokens, which need not touch the quote at all. The
  // asymmetric decomposition: only the SHORTER side's overlap bound
  // matters (c >= t·n_short), so each document probes with its own
  // prefix AS the potential contained side, against an index of ALL
  // documents' full token sets.

  /** Candidate pairs for containment >= t: prefix(shorter) ⋈ full
    * token index, keeping only probe-shorter-than-indexed orientations
    * (ties probe both ways and collapse in the distinct). LOSSLESS by
    * the suffix-counting argument at [[prefixLen]]: c >= t·n_A means
    * A∩B cannot fit inside A's suffix of size ceil(t·n_A) − 1.
    *
    * Scale shape: the pair expansion is Σ_s prefix_occ(s) · df(s) —
    * prefix occurrences are the RAREST tokens by construction and
    * df(s) is capped by the stop-shingle prune, so candidates grow
    * linearly in prefix tokens with a bounded constant, vs the
    * exhaustive Σ_s df(s)² pair relation (measured side by side in
    * SCALE_VALIDATION.md). */
  def containmentCandidates(prefix: DataFrame, full: DataFrame): DataFrame =
    prefix.as("x").join(full.as("y"),
      col("x.s") === col("y.s") &&
        (col("x.n") < col("y.n") ||
          (col("x.n") === col("y.n") &&
            col("x.doc_id") =!= col("y.doc_id"))))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
      .distinct()

  /** Exact containment verification by array intersection — same
    * candidates + docs join shape as [[verify]]; emits the
    * [[DedupQueries.dedupContainment]] schema so the EXHAUSTIVE
    * containment SQL is the oracle and the hash gate certifies the
    * index lossless at t = [[DedupQueries.ContainmentThreshold]]. */
  def verifyContainment(cands: DataFrame, sh: DataFrame): DataFrame =
    verifyContainmentWith(cands, docSets(sh))

  /** Containment verification against an explicit doc-sets relation. */
  def verifyContainmentWith(cands: DataFrame, ds: DataFrame): DataFrame = {
    cands
      .join(ds.select(col("doc_id").as("a_id"), col("ss").as("sa"),
        col("n").as("na")), "a_id")
      .join(ds.select(col("doc_id").as("b_id"), col("ss").as("sb"),
        col("n").as("nb")), "b_id")
      .withColumn("common", size(array_intersect(col("sa"), col("sb")))
        .cast("long"))
      .withColumn("n_small", least(col("na"), col("nb")))
      .withColumn("containment", col("common") / col("n_small"))
      .filter(col("n_small") >= DedupQueries.MinContainedShingles &&
        col("containment") >= DedupQueries.ContainmentThreshold)
      .select(col("a_id"), col("b_id"),
        when(col("na") <= col("nb"), col("a_id")).otherwise(col("b_id"))
          .as("contained_id"),
        col("common"), col("n_small"),
        round(col("containment"), 4).as("containment"))
  }

  /** The gate query: shorter-side prefix probe against the full index,
    * verified exactly. Output (and oracle) identical to the exhaustive
    * containment join. */
  def dedupContainmentIndexed(s: SparkSession, dir: String): DataFrame =
    // ContainmentThreshold == PrefixThreshold (both 0.8), so the memoized
    // prefix relation serves both gate queries; sizes come from the
    // memoized doc-sets relation; the verified pair relation is itself
    // memoized (shared with dedup_clusters_multi's containment leg).
    pairsMemo(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_prefix_jaccard" -> dedupPrefixJaccard,
    "dedup_containment_indexed" -> dedupContainmentIndexed)

  /** THE point of this oracle: it is the EXHAUSTIVE exact-pairs SQL at
    * t = [[PrefixThreshold]] — no prefix logic in it — so the hash gate
    * certifies the prefix filter is lossless, not just that it finds
    * plausible pairs. */
  val oracles: Map[String, String] = Map(
    "dedup_prefix_jaccard" ->
      (s"WITH $shinglesCte,\n$shpCte,\n" +
        s"""sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY doc_id),
          |rawpairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |               count(*) AS common
          |             FROM shp a JOIN shp b
          |               ON a.s = b.s AND a.doc_id < b.doc_id
          |             GROUP BY 1, 2)
          |SELECT a_id, b_id, common,
          |  round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
          |FROM rawpairs
          |JOIN sizes sa ON sa.doc_id = a_id
          |JOIN sizes sb ON sb.doc_id = b_id
          |WHERE common * 1.0 / (sa.n + sb.n - common)
          |  >= $PrefixThreshold""".stripMargin),
    // Same oracle as the exhaustive containment twin: the hash gate
    // certifies the shorter-side index is lossless, not just plausible.
    "dedup_containment_indexed" -> DedupQueries.oracles("dedup_containment"))
}
