package graft.dedup

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a near-duplicate pair graph — the step that
  * turns pairwise dedup verdicts ([[DedupQueries.dedupShingleJaccard]],
  * [[DedupQueries.dedupMinhashLsh]]) into keep/drop decisions: every
  * component keeps exactly one representative (its min doc_id), everything
  * else in the component is a duplicate.
  *
  * Implementation: distributed min-label propagation (the Pregel shape,
  * same algorithm GraphFrames uses) — each iteration every node adopts the
  * smallest label in its closed neighborhood, via one join + one
  * aggregation, until a fixpoint. Iterations needed = graph diameter;
  * near-dup components are short chains (diameter rarely exceeds a few
  * hops), so this converges in 2-4 rounds in practice. For adversarial
  * long-chain graphs at 100 TB the published upgrade is the
  * large-star/small-star alternation (Kiveris et al., "Connected Components
  * in MapReduce and Beyond"), which converges in O(log²n) rounds with the
  * same per-round join shape — implemented as
  * [[connectedComponentsStars]] behind the identical (edges in, labels
  * out) contract, with the round bound and label agreement proven by
  * `StarComponentsSpec` on a scrambled diameter-10³ chain. Each iteration
  * materializes its result and drops the previous one, so the plan lineage
  * stays O(1) instead of growing by one join per round.
  */
object ConnectedComponents {

  /** Eagerly materialize one iteration's result AND sever its ESTIMATED
    * STATISTICS lineage — the fix for a measured driver-side blow-up:
    * `localCheckpoint` truncates the plan, but the resulting LogicalRDD
    * inherits the origin plan's estimated `sizeInBytes` (originStats),
    * so a loop whose round-r plan joins round-(r−1)'s output three ways
    * snowballs the estimate ~cubically per round. Past ~12 rounds the
    * BigInt stats arithmetic itself — Toom-Cook multiplies on 10⁸-bit
    * integers inside JoinSelection/AQE reOptimize — becomes the driver
    * bottleneck: measured ×4–5 wall growth PER ROUND on a diameter-15
    * component graph (0.4 s → 228 s by round 14) while the actual data
    * stayed at a few thousand rows. Rebuilding the DataFrame from the
    * checkpointed row RDD yields a leaf with fresh default stats:
    * constant-cost rounds at any diameter. Values round-trip exactly
    * (long columns). */
  private def materializeFresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Component label (min reachable node id) for every node appearing in
    * `edges` (columns `src`, `dst`). Returns (`id`, `comp`).
    *
    * Three things keep the loop scalable:
    *  - the input edges are EAGERLY `localCheckpoint`ed first, so whatever
    *    expensive pipeline produced them (a shingle self-join here) runs
    *    once, not once per round — and each round also ends in a
    *    checkpoint, because without one the next round's plan embeds the
    *    previous round's and analysis cost doubles per iteration;
    *  - each round takes the min over the node's neighbors AND over its
    *    current label's label (pointer doubling — the hash-to-min trick):
    *    label reach grows multiplicatively instead of one hop per round,
    *    so a diameter-d chain converges in O(log d) rounds;
    *  - convergence is detected by comparing `sum(comp)` across rounds —
    *    labels only ever decrease, so an unchanged sum IS a fixpoint; one
    *    scalar aggregate per round instead of a join + count. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // persist PARTITIONED BY the per-round join key: every round joins
    // bidir on `src`, so paying one exchange here removes the edge-side
    // exchange from every subsequent round (guide §2.4 — two operations
    // keyed the same way share one exchange; the cached partitioning is
    // what the join reuses)
    val bidir = e
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // jump-start: seed each label with min(id, min neighbor) — the init
    // aggregation does round 1's neighbor-min for free, so short
    // components (the near-dup norm) converge one round earlier
    var labels = materializeFresh(bidir.groupBy(col("src").as("id"))
      .agg(min("dst").as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("comp")))
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // One round = min over the closed neighborhood ∪ the label's label
      // (pointer doubling), expressed as a UNION into ONE aggregation
      // instead of the former neighbor-min groupBy + two left joins back
      // onto labels: the same min over the same candidate set (every id
      // keeps its own comp via the first union leg; every comp value is
      // itself a node id, so the pointer join is total), with the
      // per-round exchanges cut from ~7 to 4 (guide §2.4). Partial
      // (map-side) aggregation collapses the union legs before the one
      // exchange (§2.3).
      val fromNeighbors = bidir
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"))
      val fromPointer = labels.as("l")
        .join(labels.as("m"), col("l.comp") === col("m.id"))
        .select(col("l.id").as("id"), col("m.comp").as("comp"))
      val next = materializeFresh(labels
        .unionByName(fromNeighbors)
        .unionByName(fromPointer)
        .groupBy("id").agg(min("comp").as("comp")))
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
      iter += 1
    }
    bidir.unpersist()
    labels
  }

  /** Connected components via the large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the adversarial-diameter upgrade the pointer-doubling
    * loop above documents. Same contract: edges (`src`, `dst`) in,
    * (`id`, `comp`) out, `comp` = min node id of the component.
    *
    * Each round rewrites the edge set with two star operations:
    *  - large-star: every node u links its LARGER neighbors to the
    *    minimum m of its closed neighborhood — emit (v, m) for
    *    v ∈ Γ(u), v > u;
    *  - small-star: every node u links its smaller-or-equal neighbors
    *    and itself to their minimum — emit (v, m) for
    *    v ∈ Γ≤(u) ∪ {u} \ {m}.
    * Both are one groupBy(min) + one join back, the same per-round
    * shuffle shape as a pointer-doubling round, and the paper proves the
    * alternation converges in O(log² n) rounds on ANY graph — including
    * the high-diameter chains where plain one-hop propagation needs
    * diameter rounds. The fixpoint is a star forest: every node points
    * at its component minimum.
    *
    * Kept as the documented scale path next to [[connectedComponents]]
    * (the default for near-dup graphs, whose tiny diameters converge in
    * 2–4 rounds); [[StarComponentsSpec]] proves the two agree and that
    * this one meets the O(log² n) round bound on a diameter-10³ chain. */
  def connectedComponentsStars(edges: DataFrame, maxIter: Int = 40): DataFrame =
    starComponentsWithRounds(edges, maxIter)._1

  /** [[connectedComponentsStars]] plus the number of alternation rounds
    * taken — exposed so the convergence-bound spec can assert the
    * O(log² n) contract instead of trusting it. */
  def starComponentsWithRounds(edges: DataFrame,
                               maxIter: Int = 40): (DataFrame, Int) = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).localCheckpoint(true)

    // one star half-round: group the (node, neighbor) view by node, take
    // the closed-neighborhood min, link the selected neighbors to it
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val m = nbrs.groupBy("src")
        .agg(least(min("dst"), first("src")).as("m"))
      nbrs.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge small→large: (u, v) with v ≤ u after the swap
      val oriented = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = oriented.groupBy("src").agg(min("dst").as("m"))
      val linked = oriented.join(m, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      val self = m.select(col("src"), col("m").as("dst"))
      linked.unionByName(self).distinct()
    }

    // Unlike the pointer-doubling loop, star rounds rewrite the edge set
    // non-monotonically, so a LINEAR stamp (sum of 31·src+dst) is unsound:
    // it is invariant under dst-swaps between edges ({(a,x),(b,y)} vs
    // {(a,y),(b,x)}) and could declare a non-fixpoint converged. Summing a
    // per-edge 64-bit hash is non-linear per edge — two distinct edge sets
    // of equal size collide only with ~2^-64 probability — and stays one
    // scalar aggregate per round.
    def stamp(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head
      (r.getLong(0), r.getDecimal(1))
    }

    var e = e0
    var prev = stamp(e)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // materialize per round: O(1) lineage AND O(1) stats, same policy
      // as the pointer-doubling loop (see materializeFresh)
      e = materializeFresh(smallStar(largeStar(e)))
      val s = stamp(e)
      converged = s == prev
      prev = s
      iter += 1
    }
    // fixpoint is a star forest (src = member, dst = component min);
    // roots appear only on the dst side, so union them back in
    val labels = e.select(col("src").as("id"), col("dst").as("comp"))
      .unionByName(e.select(col("dst").as("id"), col("dst").as("comp")))
      .groupBy("id").agg(min("comp").as("comp"))
    (labels, iter)
  }

  /** Gate query: cluster the LSH-verified near-dup pairs; one row per
    * clustered doc with its component id (min doc_id of the component) and
    * the component size. The pair input is [[DedupQueries.dedupMinhashLsh]]
    * — candidate generation is banded LSH, so the pair stage is
    * sub-quadratic at 100 TB — NOT the full shingle self-join
    * ([[DedupQueries.dedupShingleJaccard]]), which exists as the
    * exhaustive-verification twin and would die in pair generation at
    * scale. Both engines derive clusters from the identical LSH-bounded,
    * Jaccard-verified pair set ([[DedupQueries.lshPairsCte]]). */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterMemo(s, dir)

  // Memoized: three gate queries (clusters, apply, funnel) and any real
  // dedup session consume the same cluster labels, and the LSH pair
  // generation + CC rounds are the most expensive chain in the engine.
  private[graft] val clusterMemo = Memo("documents") { (s, dir) =>
    val pairs = DedupQueries.dedupMinhashLsh(s, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val labels = connectedComponents(pairs)
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        col("cluster_size"))
      .localCheckpoint(true)
  }

  /** Near-dup cluster-size census — the one-glance dedup severity
    * readout beside the removal tiers: how many clusters of each size
    * the verified pair relation induces, and how many documents they
    * hold. A census dominated by pairs means scattered light
    * duplication (cheap to keep-best); a heavy tail of large clusters
    * means template farms worth source-level action
    * ([[dedupBySource]]). Rides the memoized cluster labels — zero new
    * heavy work; the census itself is cluster-size-domain-bounded. */
  def dedupClusterHist(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir)
      .select(col("cluster_id"), col("cluster_size")).distinct()
      .groupBy("cluster_size")
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  /** ENSEMBLE near-dup clusters — connected components over the UNION
    * of three verified pair relations, each catching duplication the
    * others miss: MinHash-LSH (set-overlap Jaccard ≥ 0.5), simhash
    * Hamming ≤ 3 (token-frequency profile, catches reorderings Jaccard
    * sees but banding may drop and vice versa), and containment ≥ 0.8
    * (asymmetric quote-in-host pairs both symmetric measures miss).
    * This is the multi-signal dedup a production crawl actually runs —
    * one clustering over every duplication signal, so a document chain
    * linked by DIFFERENT signals still collapses into one cluster.
    * Every input relation is its own hash-certified gate (the
    * containment leg rides the indexed form, pair-identical to the
    * exhaustive SQL by its own gate); edges are their distinct union,
    * the label propagation is the same pointer-doubling CC as
    * [[dedupClusters]]. Scale: edges ∝ verified pairs (output-sized,
    * all three legs candidate-bounded); CC rounds ∝ component diameter. */
  def dedupClustersMulti(s: SparkSession, dir: String): DataFrame = {
    val lsh = DedupQueries.dedupMinhashLsh(s, dir).select("a_id", "b_id")
    val simh = DedupQueries.dedupSimhashHamming(s, dir).select("a_id", "b_id")
    val cont = PrefixJoin.dedupContainmentIndexed(s, dir)
      .select("a_id", "b_id")
    val edges = lsh.unionByName(simh).unionByName(cont).distinct()
    val labels = connectedComponents(
      edges.select(col("a_id").as("src"), col("b_id").as("dst")))
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        col("cluster_size"))
  }

  /** Best-quality cluster keeper — the keeper policy a production dedup
    * actually ships: within every near-dup cluster keep the member that
    * passes the Gopher rules, breaking ties by length then doc_id,
    * instead of the arbitrary min-id representative ([[dedupClusters]]'
    * `cluster_id` convention). Composes two proven gates — the memoized
    * cluster labels and [[graft.text.TextQueries.gopherFlags]]' rule
    * columns — so the policy cannot drift from either. Scale: the rank
    * is a per-cluster window (clusters are near-dup-sized, partitioned
    * by cluster_id) over the pair-bound label relation; everything else
    * is cluster-count-sized. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // every clustered doc has >= 3 words (the shingle floor), so the
    // inner join against the >= 1-word gopher relation loses nothing
    val m = dedupClusters(s, dir).select("doc_id", "cluster_id")
      .join(graft.text.TextQueries
        .gopherFlags(graft.Tables.parallel(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("pass")), "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("pass").desc, col("n_words").desc, col("doc_id").asc)
    val keeper = m.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_id"))
    val stats = m.groupBy("cluster_id").agg(
      count(lit(1)).as("cluster_size"),
      sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
    keeper.join(stats, "cluster_id")
      .select("cluster_id", "keeper_id", "cluster_size", "n_pass")
  }

  /** Gate query closing the dedup loop — the APPLY step a pipeline ships:
    * keep the min-doc_id representative of every exact-content group, then
    * the min-doc_id keeper of every near-dup cluster, and account for the
    * removals tier by tier in one row. A near-dup removal is only counted
    * when the document was not already gone at the exact tier, so the
    * tiers always sum: n_docs = exact + near + survivors. */
  /** The two disjoint removal tiers (exact-content non-keepers, then
    * near-dup cluster non-keepers not already exact-removed) — shared by
    * [[dedupApply]] and the pipeline funnel. Both tiers are tiny
    * (duplicate doc_ids only) but every consumer reads them 2+ times
    * (a count plus an anti-join membership), so each is materialized
    * once. */
  def removalTiers(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    tiersMemo(s, dir)

  // Memoized: SEVEN gate consumers read the tiers (dedup_apply,
  // dedup_by_source, pipeline_funnel, filter_overlap, and the three
  // survivor-relation consumers); each rebuild is a full corpus sha256
  // window pass plus a checkpoint.
  private[graft] val tiersMemo = Memo("documents")(buildRemovalTiers)

  private def buildRemovalTiers(s: SparkSession,
                                dir: String): (DataFrame, DataFrame) = {
    import graft.Tables
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("ch"))
    val exactRemoved = docs
      .withColumn("keeper",
        min("doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("ch")))
      .filter(col("doc_id") =!= col("keeper"))
      .select("doc_id")
      .localCheckpoint(true)
    val nearRemoved = dedupClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
      .join(exactRemoved, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    (exactRemoved, nearRemoved)
  }

  /** Per-SOURCE dedup accounting — the view that decides which sources
    * to drop or deprioritize: the same disjoint removal tiers as
    * [[dedupApply]] ([[removalTiers]] reused verbatim, so the rates
    * cannot drift from the corpus-level gate), attributed to the
    * `source` column. A crawl source whose removal_rate spikes is
    * re-serving content the corpus already holds. Scale: two
    * membership joins against the tier relations (pair-bound) over one
    * corpus scan; partials ∝ sources. */
  def dedupBySource(s: SparkSession, dir: String): DataFrame = {
    import graft.Tables
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
    val (exactRemoved, nearRemoved) = removalTiers(s, dir)
    docs
      .join(exactRemoved.withColumn("f_ex", lit(1L)), Seq("doc_id"), "left")
      .join(nearRemoved.withColumn("f_nr", lit(1L)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("f_ex"), lit(0L)).as("n_exact_removed"),
        coalesce(sum("f_nr"), lit(0L)).as("n_neardup_removed"))
      .select(col("source"), col("n_docs"), col("n_exact_removed"),
        col("n_neardup_removed"),
        round((col("n_exact_removed") + col("n_neardup_removed"))
          / col("n_docs"), 4).as("removal_rate"))
  }

  /** Soft-dedup sampling weights — the de-weighting alternative to hard
    * removal (train on everything, but a near-dup cluster of k docs
    * contributes total mass 1, not k): per doc weight = 1/cluster_size,
    * singletons weight 1, rolled up per source. Weights are FIXED-POINT
    * micro-units (`1000000 div k` — integer, order-free sums, exact in
    * both engines) per the engine-wide integer-moments idiom, so the
    * per-source mass is bit-stable under any partitioning. Rides the
    * memoized cluster labels; one membership join over one corpus scan,
    * partials ∝ sources. */
  def dedupSampleWeights(s: SparkSession, dir: String): DataFrame = {
    import graft.Tables
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
    val labels = dedupClusters(s, dir).select(col("doc_id"), col("cluster_size"))
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("w_micro",
        expr("1000000L div coalesce(cluster_size, 1L)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w_micro")).as("mass_micro"))
      .select(col("source"), col("n_docs"), col("mass_micro"),
        (col("n_docs") * 1000000L - col("mass_micro")).as("saved_micro"))
  }

  def dedupApply(s: SparkSession, dir: String): DataFrame = {
    import graft.Tables
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val (exactRemoved, nearRemoved) = removalTiers(s, dir)
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(exactRemoved.agg(count(lit(1)).as("n_exact_removed")))
      .crossJoin(nearRemoved.agg(count(lit(1)).as("n_neardup_removed")))
      .select(col("n_docs"), col("n_exact_removed"),
        col("n_neardup_removed"),
        (col("n_docs") - col("n_exact_removed") - col("n_neardup_removed"))
          .as("n_survivors"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_clusters" -> dedupClusters,
    "dedup_cluster_hist" -> dedupClusterHist,
    "dedup_clusters_multi" -> dedupClustersMulti,
    "dedup_keep_best" -> dedupKeepBest,
    "dedup_apply" -> dedupApply,
    "dedup_by_source" -> dedupBySource,
    "dedup_sample_weights" -> dedupSampleWeights)

  /** DuckDB oracle: transitive closure by recursive CTE over the same
    * LSH-verified pair SQL — `reach(a, b)` = b reachable from a, component
    * id = min(b). Quadratic in component size, fine at oracle scale. */
  val oracles: Map[String, String] = Map(
    "dedup_clusters" ->
      (s"WITH RECURSIVE ${DedupQueries.lshPairsCte},\n" +
        """edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
          |          UNION SELECT b_id, a_id FROM lshpairs),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
          |         FROM reach GROUP BY a)
          |SELECT doc_id, cluster_id,
          |  count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size
          |FROM comp""".stripMargin),
    "dedup_cluster_hist" ->
      (s"WITH RECURSIVE ${DedupQueries.lshPairsCte},\n" +
        """edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
          |          UNION SELECT b_id, a_id FROM lshpairs),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
          |         FROM reach GROUP BY a),
          |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
          |       FROM comp GROUP BY cluster_id)
          |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
          |  (cluster_size * count(*))::BIGINT AS n_docs
          |FROM sz GROUP BY cluster_size""".stripMargin),
    "dedup_clusters_multi" ->
      (s"WITH RECURSIVE ${DedupQueries.lshPairsCte},\n" +
        s"${DedupQueries.simhashHammingCte},\n" +
        s"""rawpairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |               count(*) AS common
          |             FROM shp a JOIN shp b
          |               ON a.s = b.s AND a.doc_id < b.doc_id
          |             GROUP BY 1, 2),
          |cpairs AS (SELECT a_id, b_id FROM rawpairs
          |           JOIN sizes sa ON sa.doc_id = a_id
          |           JOIN sizes sb ON sb.doc_id = b_id
          |           WHERE least(sa.n, sb.n)
          |                   >= ${DedupQueries.MinContainedShingles}
          |             AND common * 1.0 / least(sa.n, sb.n)
          |                   >= ${DedupQueries.ContainmentThreshold}),
          |upairs AS (SELECT a_id, b_id FROM lshpairs
          |           UNION SELECT a_id, b_id FROM cpairs
          |           UNION SELECT a_id, b_id FROM shampairs),
          |edges AS (SELECT a_id AS src, b_id AS dst FROM upairs
          |          UNION SELECT b_id, a_id FROM upairs),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
          |         FROM reach GROUP BY a)
          |SELECT doc_id, cluster_id,
          |  count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size
          |FROM comp""".stripMargin),
    "dedup_keep_best" -> {
      import graft.text.TextQueries._
      (s"WITH RECURSIVE ${DedupQueries.lshPairsCte},\n" +
        s"""edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
          |          UNION SELECT b_id, a_id FROM lshpairs),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
          |         FROM reach GROUP BY a),
          |wq AS (SELECT doc_id,
          |         list_filter(string_split(text, ' '), x -> x <> '') AS w
          |       FROM documents),
          |g AS (SELECT doc_id, len(w)::BIGINT AS n_words,
          |        ((len(w) BETWEEN $GopherMinWords AND $GopherMaxWords)
          |         AND list_sum(list_transform(w, x -> length(x))) * 1.0
          |             / len(w) >= $GopherMinMeanLen
          |         AND list_sum(list_transform(w, x -> length(x))) * 1.0
          |             / len(w) <= $GopherMaxMeanLen
          |         AND len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
          |             * 1.0 / len(w) >= $GopherMinAlphaFrac
          |         AND len(list_filter(w, x -> x IN ($stopListSql)))
          |             >= $GopherMinStopHits) AS pass
          |      FROM wq WHERE len(w) >= 1),
          |m AS (SELECT comp.doc_id, comp.cluster_id, g.n_words, g.pass
          |      FROM comp JOIN g ON g.doc_id = comp.doc_id),
          |k AS (SELECT cluster_id, doc_id AS keeper_id,
          |        row_number() OVER (PARTITION BY cluster_id
          |          ORDER BY pass DESC, n_words DESC, doc_id ASC) AS rn
          |      FROM m),
          |st AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size,
          |         sum(CASE WHEN pass THEN 1 ELSE 0 END)::BIGINT AS n_pass
          |       FROM m GROUP BY cluster_id)
          |SELECT k.cluster_id, k.keeper_id, st.cluster_size, st.n_pass
          |FROM k JOIN st ON st.cluster_id = k.cluster_id
          |WHERE k.rn = 1""".stripMargin)
    },
    "dedup_apply" ->
      (s"WITH RECURSIVE ${DedupQueries.lshPairsCte},\n" +
        """edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
          |          UNION SELECT b_id, a_id FROM lshpairs),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
          |         FROM reach GROUP BY a),
          |ex AS (SELECT doc_id FROM (
          |         SELECT doc_id,
          |           min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper
          |         FROM documents)
          |       WHERE doc_id <> keeper),
          |near AS (SELECT doc_id FROM comp
          |         WHERE doc_id <> cluster_id
          |           AND doc_id NOT IN (SELECT doc_id FROM ex))
          |SELECT (SELECT count(*) FROM documents) AS n_docs,
          |  (SELECT count(*) FROM ex) AS n_exact_removed,
          |  (SELECT count(*) FROM near) AS n_neardup_removed,
          |  (SELECT count(*) FROM documents) - (SELECT count(*) FROM ex)
          |    - (SELECT count(*) FROM near) AS n_survivors""".stripMargin),
    "dedup_sample_weights" ->
      (s"WITH RECURSIVE ${DedupQueries.lshPairsCte},\n" +
        """edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
          |          UNION SELECT b_id, a_id FROM lshpairs),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
          |         FROM reach GROUP BY a),
          |sz AS (SELECT cluster_id, count(*)::BIGINT AS k
          |       FROM comp GROUP BY cluster_id),
          |lab AS (SELECT comp.doc_id, sz.k FROM comp
          |        JOIN sz ON sz.cluster_id = comp.cluster_id),
          |f AS (SELECT d.source, coalesce(l.k, 1) AS k
          |      FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id)
          |SELECT source, count(*)::BIGINT AS n_docs,
          |  sum(1000000 // k)::BIGINT AS mass_micro,
          |  (count(*) * 1000000 - sum(1000000 // k))::BIGINT AS saved_micro
          |FROM f GROUP BY source""".stripMargin),
    "dedup_by_source" ->
      (s"WITH RECURSIVE ${DedupQueries.lshPairsCte},\n" +
        """edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
          |          UNION SELECT b_id, a_id FROM lshpairs),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
          |         FROM reach GROUP BY a),
          |ex AS (SELECT doc_id FROM (
          |         SELECT doc_id,
          |           min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper
          |         FROM documents)
          |       WHERE doc_id <> keeper),
          |near AS (SELECT doc_id FROM comp
          |         WHERE doc_id <> cluster_id
          |           AND doc_id NOT IN (SELECT doc_id FROM ex)),
          |f AS (SELECT d.source,
          |        CASE WHEN d.doc_id IN (SELECT doc_id FROM ex)
          |          THEN 1 ELSE 0 END AS f_ex,
          |        CASE WHEN d.doc_id IN (SELECT doc_id FROM near)
          |          THEN 1 ELSE 0 END AS f_nr
          |      FROM documents d)
          |SELECT source, count(*)::BIGINT AS n_docs,
          |  sum(f_ex)::BIGINT AS n_exact_removed,
          |  sum(f_nr)::BIGINT AS n_neardup_removed,
          |  round((sum(f_ex) + sum(f_nr)) * 1.0 / count(*), 4)
          |    AS removal_rate
          |FROM f GROUP BY source""".stripMargin))
}
