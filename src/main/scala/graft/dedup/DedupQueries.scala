package graft.dedup

import graft.{Memo, Tables}
import graft.text.TextQueries.{hex32, trigrams, trigramsSql, words}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents`:
  *
  *  - exact dedup (content-hash group-by),
  *  - shingle-based near-dup detection (3-gram Jaccard via a relational
  *    shingle self-join — the exact-verification stage one runs at scale),
  *  - MinHash + LSH banding (16 permutations, 4 bands × 4 rows): the
  *    sub-quadratic candidate generation path for 100 TB corpora; shingle
  *    explode → per-perm min → band hash → bucket self-join → verify,
  *  - SimHash (32-bit, majority-vote over word hashes) bucket grouping.
  *
  * Base hashes are sha256-derived so the DuckDB oracle reproduces values
  * bit-exactly, but each shingle is hashed ONCE: the 16 MinHash
  * permutations are universal-hash transforms `(a_j*h + b_j) mod p` of
  * that single hash — pure 64-bit arithmetic both engines compute
  * identically, 16× less crypto work than hashing per permutation (at
  * 100 TB that is the difference between a day and an hour of CPU).
  * Everything is expressed as shuffles over exploded relations (no
  * driver-side loops), so each stage scales horizontally: the only
  * quadratic term is within-bucket pair expansion, which LSH bounds by
  * construction and stop-shingle pruning ([[MaxShingleDf]]) caps — a
  * boilerplate shingle shared by d documents alone generates d²/2 pairs,
  * so every PAIRWISE consumer (self-join and LSH alike) reads the pruned
  * relation [[prunedShingles]]; the linear consumers (decontamination,
  * the cross-doc profile) keep the full relation.
  */
object DedupQueries {

  val NumPerms = 16
  val NumBands = 4
  val RowsPerBand = 4 // NumPerms / NumBands
  val JaccardThreshold = 0.5

  /** Stop-shingle document-frequency cap for the pairwise operators: a
    * shingle appearing in more than this many documents is dropped before
    * any self-join (it carries no near-dup signal — at 10⁸ documents one
    * boilerplate trigram is a 10¹⁶-pair hot key). 128 is far above any
    * organic near-dup overlap (this corpus tops out at df=25) so the gate
    * output is unchanged; the cap exists for the adversarial tail. */
  val MaxShingleDf = 128

  /** Universal-hash modulus: Mersenne prime 2^31-1. Both operands of
    * `a*h` stay below 2^31, so the product stays below 2^62 — safely
    * inside BIGINT in Spark (wrapping) and DuckDB (overflow-checked)
    * alike. */
  val MinhashPrime = 2147483647L

  /** Deterministic permutation coefficients, derived from sha256 of the
    * permutation index (seed-free, reproducible anywhere): a_j ∈ [1, p-1],
    * b_j ∈ [0, p-1]. Inlined as literals into both the Spark plan and the
    * oracle SQL, so the two engines share them by construction. */
  private def coefSource(tag: String, j: Int): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"minhash-$tag-$j".getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
  val PermA: IndexedSeq[Long] =
    (0 until NumPerms).map(j => coefSource("a", j) % (MinhashPrime - 1) + 1)
  val PermB: IndexedSeq[Long] =
    (0 until NumPerms).map(j => coefSource("b", j) % MinhashPrime)

  /** THE document → distinct-3-word-shingle projection over an explicit
    * (doc_id, text[, keep…]) relation — the engine-wide shingle
    * definition stated ONCE, shared by the batch corpus scan
    * ([[shingles]]) and the streaming per-batch face
    * ([[graft.streaming.StreamContam.contamFlags]]) so the two can
    * never drift apart on tokenization or distinctness. */
  def shingleProjection(docs: DataFrame,
                        keep: Seq[String] = Nil): DataFrame = {
    val d = docs
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 3)
    d.select(col("doc_id") +: keep.map(col) :+
      explode(array_distinct(trigrams(col("w")))).as("s"): _*)
  }

  /** 3-word shingles (engine-wide trigram definition, TextQueries.trigrams),
    * distinct per doc, exploded to (doc_id, s). */
  def shingles(s: SparkSession, dir: String): DataFrame =
    shingleProjection(Tables.parallel(s, dir, "documents"))

  /** SQL twin of [[shingles]] (CTE `sh(doc_id, s)`), shared with the
    * Bloom prefilter oracle. */
  val shinglesCte: String =
    s"""sh AS (
      |  SELECT doc_id, unnest(list_distinct($trigramsSql)) AS s
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '),
      |                x -> x <> '') AS w
      |        FROM documents)
      |  WHERE len(w) >= 3)""".stripMargin

  /** Stop-shingle-pruned relation for the pairwise consumers: [[shingles]]
    * minus any shingle whose document frequency exceeds [[MaxShingleDf]].
    * One corpus scan (the raw relation is eagerly checkpointed, so the df
    * aggregation and the filter join both read the materialized rows, and
    * nothing stays pinned in the cache manager after the query's action);
    * the df count gets map-side partial aggregation, and the join back is
    * a shuffle join by shingle — no hot-key window anywhere. The pruned
    * result is checkpointed too, because every caller reads it 3+ times
    * (sizes + both sides of a self-join, or signature + verification). */
  def prunedShingles(s: SparkSession, dir: String): DataFrame =
    prunedMemo(s, dir)

  // Memoized: four gate queries (jaccard, LSH, clusters, apply) and any
  // real multi-query session read the same pruned relation.
  private[graft] val prunedMemo = Memo("documents") { (s, dir) =>
    val sh = shingles(s, dir).localCheckpoint(true)
    val keep = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxShingleDf)
      .select(col("s"))
    sh.join(keep, "s").select(col("doc_id"), col("s")).localCheckpoint(true)
  }

  /** SQL twin of [[prunedShingles]] (CTE `shp(doc_id, s)`; requires `sh`). */
  val shpCte: String =
    s"""shp AS (
      |  SELECT sh.doc_id AS doc_id, sh.s AS s FROM sh
      |  JOIN (SELECT s FROM sh GROUP BY s
      |        HAVING count(*) <= $MaxShingleDf) keep ON keep.s = sh.s)""".stripMargin

  // ------------------------------------------------------------ exact dedup
  /** Content-hash dedup summary: total docs, distinct contents, dup docs. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("c"), min("doc_id").as("keeper"))
      .agg(count(lit(1)).as("n_distinct"),
        sum("c").cast("long").as("n_docs"),
        (sum("c") - count(lit(1))).cast("long").as("n_dup_docs"))

  // ------------------------------------------------- shingle jaccard dedup
  /** Near-duplicate pairs by exact 3-gram Jaccard >= 0.5 (shingle
    * self-join + group count — the verification join of any LSH pipeline,
    * over the stop-shingle-pruned relation so no boilerplate key can make
    * the join quadratic in corpus size). */
  def dedupShingleJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = prunedShingles(s, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
      col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jaccard",
        col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("a_id"), col("b_id"), col("common"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Containment threshold: |A∩B| / |smaller side|. */
  val ContainmentThreshold = 0.8

  /** Minimum shingle count of the contained side — a 2-shingle doc inside
    * anything is noise, not duplication. */
  val MinContainedShingles = 5L

  /** CONTAINMENT near-dup pairs — the asymmetric complement of
    * [[dedupShingleJaccard]]: a short document quoted verbatim inside a
    * long one has Jaccard ≈ |A|/|B| (arbitrarily small) but containment
    * |A∩B|/|A| ≈ 1, so the symmetric filter never sees exactly the
    * quote/subset duplication a pretraining corpus is full of. Reports
    * the contained (smaller, ties → a_id) side explicitly — that is the
    * removal candidate. Same df-capped candidate discipline and scale
    * adjudication as the Jaccard twin: the pair join reads
    * [[prunedShingles]] (stop-shingle capped). At corpus scale the
    * candidate generator is NOT the symmetric LSH bands (a low-Jaccard
    * containment pair rarely collides in them) — the production paths
    * are [[SubstringDedup.dedupSubstring]], which flags verbatim quote
    * runs linearly and independently of the host document's length, and
    * [[PrefixJoin.dedupContainmentIndexed]], the shorter-side prefix
    * index whose losslessness THIS query's SQL certifies (both gate
    * queries share the exhaustive oracle). This exhaustive twin is the
    * oracle-checking form. */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val sh = prunedShingles(s, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
      col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "nb"), "b_id")
      .withColumn("n_small", least(col("na"), col("nb")))
      .withColumn("containment", col("common") / col("n_small"))
      .filter(col("n_small") >= MinContainedShingles &&
        col("containment") >= ContainmentThreshold)
      .select(col("a_id"), col("b_id"),
        when(col("na") <= col("nb"), col("a_id")).otherwise(col("b_id"))
          .as("contained_id"),
        col("common"), col("n_small"),
        round(col("containment"), 4).as("containment"))
  }

  // ------------------------------------------------------- minhash + LSH
  /** Per-doc minhash signature: ONE sha256 per shingle (materialized as its
    * own projection so the 16 permutations reuse it), then one min() per
    * universal-hash permutation (single shuffle, partial aggregation
    * map-side). */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val hashed = sh.select(col("doc_id"),
      pmod(hex32(col("s")), lit(MinhashPrime)).as("h"))
    val mins = (0 until NumPerms).map(j =>
      min((col("h") * PermA(j) + PermB(j)) % MinhashPrime).as(s"h$j"))
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs → exact-Jaccard verification (>= 0.5), with the
    * minhash-estimated Jaccard alongside. One shingle scan feeds both the
    * signature and the verification joins. */
  /** LSH band keys for a signature relation: one row per (doc, band)
    * with the band's 16-hex bucket hash. The single definition of the
    * banding recipe (band count, row grouping, hash width) — shared by
    * [[dedupMinhashLsh]] and the [[graft.tools.LshProbe]] diagnostics so
    * the probe can never describe a bucketing the pipeline no longer
    * runs. */
  def bands(mh: DataFrame): DataFrame = bandsAt(mh, NumBands, RowsPerBand)

  /** Banding at an explicit (bands × rows) split of the signature — the
    * LSH sensitivity dial. Consecutive row grouping means every coarser
    * banding is a union of adjacent finer bands, so candidate sets are
    * provably NESTED as rows-per-band grows (`LshDialSpec`): a (b, 2r)
    * band match implies both of its (2b, r) halves match. */
  def bandsAt(mh: DataFrame, nBands: Int, rowsPerBand: Int): DataFrame = {
    require(nBands * rowsPerBand <= NumPerms,
      s"banding $nBands×$rowsPerBand exceeds $NumPerms permutations")
    val bandCols = (0 until nBands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"),
        substring(sha2(concat_ws(",", rows: _*), 256), 1, 16).as("bh"))
    }
    mh.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))
  }

  /** Candidate pairs of a banded relation — the bucket equi-join shared
    * by the gate pipeline and the dial spec. */
  def candidatePairs(bandsDf: DataFrame): DataFrame =
    bandsDf.as("x").join(bandsDf.as("y"),
      col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()

  // Memoized: FOUR gate queries consume the verified pair relation (the
  // LSH gate itself, dedup_clusters' label build, dedup_bbit_minhash's
  // estimator table, split_leakage) and the signature build + candidate
  // verify is the dominant shared cost.
  private[graft] val lshMemo = Memo("documents") { (s, dir) =>
    val sh = prunedShingles(s, dir)
    val mh = minhashSignatures(sh).localCheckpoint(true)
    (mh, verifiedLshPairs(sh, mh).localCheckpoint(true))
  }

  /** Memoized (minhash signatures, LSH-verified pair relation). */
  def lshArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    lshMemo(s, dir)

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    lshArtifacts(s, dir)._2

  private def verifiedLshPairs(sh: DataFrame, mh: DataFrame): DataFrame = {
    val cands = candidatePairs(bands(mh))

    // Verification is bounded to LSH candidates (the whole point of banding:
    // at scale the full shingle self-join is quadratic, the candidate set
    // is not): join each candidate pair's shingles only, filter on true
    // Jaccard, and only then attach the signature estimate — the survivors
    // are few, so the est joins touch almost nothing.
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cands
      .join(sh.as("a"), col("a_id") === col("a.doc_id"))
      .join(sh.as("b"),
        col("b_id") === col("b.doc_id") && col("a.s") === col("b.s"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"))
    val verified = common
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jaccard",
        col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)

    val est = (0 until NumPerms)
      .map(j => when(col(s"ma.h$j") === col(s"mb.h$j"), 1).otherwise(0))
      .reduce(_ + _)
    verified
      .join(mh.as("ma"), col("a_id") === col("ma.doc_id"))
      .join(mh.as("mb"), col("b_id") === col("mb.doc_id"))
      .select(col("a_id"), col("b_id"),
        round(est.cast("double") / NumPerms, 4).as("est_jaccard"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** COLLAPSE-FIRST production twin of [[dedupMinhashLsh]] — the
    * `media_phash_clusters` pattern ([[graft.multimodal.Multimodal
    * .mediaPhashClusters]], measured 155 M → 0.39 M shuffle records at
    * 10×) applied to the text LSH family, closing the one known C(G,2)
    * exposure: on a replica-heavy corpus an exact-dup group of g
    * identical documents sends g signatures through banding and C(g,2)
    * pairs through candidate generation and Jaccard verification — all
    * of it redundant, because identical text ⇒ identical shingle set ⇒
    * identical signature ⇒ identical band hashes ⇒ every intra-group
    * pair is a guaranteed (jaccard = 1) survivor, and every cross pair
    * (x∈A, y∈B) survives iff the representative pair (rep_A, rep_B)
    * does, with the SAME est/exact Jaccard.
    *
    * So: group documents by exact content hash (the [[dedupExact]]
    * relation), run signatures → bands → candidate join → verification
    * over ONE representative (min doc_id) per distinct content, and
    * expand member pairs in-row at the very end — intra-group pairs as
    * (1.0, 1.0) combinations, cross-group pairs as the member cross
    * product carrying the representatives' scores. The expansion feeds
    * the sink directly (no shuffle after it), so shuffle volume is
    * bounded by DISTINCT contents and their candidate pairs, never by
    * C(group, 2): on a crawl where one boilerplate page has 10⁴ copies
    * that is 10⁸ pairs of banding/verify work collapsed to one node.
    *
    * PAIR-IDENTICAL to [[dedupMinhashLsh]] by the argument above — the
    * gate binds the same exhaustive oracle SQL, certifying the
    * equivalence row-for-row (and `GroupedLshSpec` checks it against a
    * planted mega-group corpus the fixtures don't carry).
    *
    * Correctness fine points mirrored from the ungrouped path:
    *  - only documents with ≥ 3 words shingle, so grouping happens
    *    AFTER the word filter (a 2-word doc pairs with nothing, even
    *    its exact copy — same as the ungrouped pipeline);
    *  - the stop-shingle df cap is computed over the FULL corpus
    *    ([[prunedShingles]], replicas included) and identical members
    *    share shingle sets, so the representative's pruned set equals
    *    every member's — restricting the memoized relation to
    *    representatives preserves each doc's exact pruned shingles;
    *  - a group whose shingles are ALL df-pruned has no signature and
    *    emits nothing (intra pairs included), exactly like the
    *    ungrouped path. */
  def dedupMinhashLshGrouped(s: SparkSession, dir: String): DataFrame = {
    val groups = Tables.parallel(s, dir, "documents")
      .filter(size(words(col("text"))) >= 3)
      .groupBy(sha2(col("text"), 256).as("ch"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"),
        min("doc_id").as("rep"))
      .localCheckpoint(true) // read by rep filter + intra + both cross sides
    val repSh = prunedShingles(s, dir)
      .join(groups.select(col("rep").as("doc_id")), "doc_id")
      // read 3× (signature build, pair verification, shingled-rep set) —
      // materialize the rep-restricted shingle relation once
      .localCheckpoint(true)
    val mh = minhashSignatures(repSh).localCheckpoint(true)
    val crossRep = verifiedLshPairs(repSh, mh)
    // intra-group: every pair of identical docs, provided the content
    // still has >= 1 surviving shingle (else it never reached banding)
    val shingledReps = repSh.select(col("doc_id").as("rep")).distinct()
    val intra = groups.join(shingledReps, "rep")
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        "flatten(transform(ids, x -> transform(filter(ids, y -> y > x)," +
          " y -> struct(x AS a, y AS b))))")).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"),
        lit(1.0).as("est_jaccard"), lit(1.0).as("jaccard"))
    // cross-group: representative verdict replicated over the member
    // cross product, min/max-canonicalized — in-row, post-shuffle
    val cross = crossRep
      .join(groups.select(col("rep").as("a_id"), col("ids").as("ids_a")),
        "a_id")
      .join(groups.select(col("rep").as("b_id"), col("ids").as("ids_b")),
        "b_id")
      .select(explode(expr(
        "flatten(transform(ids_a, x -> transform(ids_b," +
          " y -> struct(least(x, y) AS a, greatest(x, y) AS b))))")).as("p"),
        col("est_jaccard"), col("jaccard"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"),
        col("est_jaccard"), col("jaccard"))
    intra.unionByName(cross)
  }

  /** Weighted-Jaccard refinement of the verified near-dup pairs —
    * rare-shingle-emphasizing similarity (the idf-weighting practice of
    * near-dup mining; cf. weighted minhash, Ioffe 2010): each shingle
    * carries the INTEGER weight `MaxShingleDf + 1 − df`, so boilerplate
    * shingles (high df — the ones that cause spurious plain-Jaccard
    * mass) contribute least and unique content most. Weighted Jaccard
    * = Σ_{A∩B} w / Σ_{A∪B} w, an exact ratio of integer sums — hash-
    * exact cross-engine. When every shingle in a pair's union has equal
    * weight the measure PROVABLY equals plain Jaccard (the constant
    * cancels — spec'd), so divergence between the two columns is
    * precisely the boilerplate-share signal. Pair-bound scale shape:
    * the weighted verify joins only the memoized LSH-verified pairs. */
  def dedupWeightedJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = prunedShingles(s, dir)
    val (_, pairs) = lshArtifacts(s, dir)
    val wt = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .select(col("s"), (lit(MaxShingleDf + 1) - col("df")).as("w"))
    // per-doc WEIGHTED SET ARRAYS, not a pairs×shingles re-expansion
    // (the PrefixJoin verify lesson — the expansion form measured 60M
    // shuffle records at 30× where this joins pairs + docs only). The
    // weight is GLOBAL per shingle, so both docs carry the identical
    // (s, w) struct for a shared shingle and array_intersect over the
    // structs is exactly the intersection by shingle; the weighted
    // common mass is one in-row fold over it.
    val docSets = sh.join(wt, "s")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("w")))).as("sw"),
        sum("w").as("wd"))
    pairs.select("a_id", "b_id", "jaccard")
      .join(docSets.select(col("doc_id").as("a_id"), col("sw").as("sa"),
        col("wd").as("wa")), "a_id")
      .join(docSets.select(col("doc_id").as("b_id"), col("sw").as("sb"),
        col("wd").as("wb")), "b_id")
      .withColumn("cw", expr(
        "aggregate(array_intersect(sa, sb), 0L, (acc, x) -> acc + x.w)"))
      .select(col("a_id"), col("b_id"), col("jaccard"),
        round(col("cw") / (col("wa") + col("wb") - col("cw")), 4)
          .as("weighted_jaccard"))
  }

  // ------------------------------------------------------- decontamination
  /** Eval-set decontamination — flag training documents sharing >=
    * [[DecontamMinOverlap]] 3-gram shingles with any benchmark document
    * (docs with id < [[DecontamEvalDocs]] stand in for the eval set).
    * The eval side of the join is tiny by construction, so Spark
    * broadcasts it and the corpus side streams through one scan — at
    * 100 TB the same shape holds (a real pipeline compresses the eval
    * shingle set further into a broadcast Bloom filter and keeps this
    * exact join as the confirmation pass behind it). */
  val DecontamEvalDocs = 20L
  val DecontamMinOverlap = 5L

  /** THE eval/corpus split — single definition shared by the drop-list
    * query and the integrity report so they can never disagree on who
    * the eval set is. */
  private def evalCorpusSplit(sh: DataFrame): (DataFrame, DataFrame) = (
    sh.filter(col("doc_id") < DecontamEvalDocs)
      .select(col("doc_id").as("eval_id"), col("s")),
    sh.filter(col("doc_id") >= DecontamEvalDocs))

  /** Threshold pairs from the matched (corpus doc, eval doc, shingle)
    * relation — the overlap rule, stated once; `groupCols` lets the
    * streaming face carry its source column through the same rule
    * ([[graft.streaming.StreamContam.contamFlags]]). */
  private[graft] def contamPairsBy(matched: DataFrame,
                                   groupCols: Seq[String]): DataFrame =
    matched
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= DecontamMinOverlap)

  private def contamPairs(matched: DataFrame): DataFrame =
    contamPairsBy(matched, Seq("doc_id", "eval_id"))

  /** The drop-list pipeline UN-materialized (aux-lock pinned — see
    * [[decontaminate]]'s memo). */
  private[graft] def decontaminatePlan(s: SparkSession,
                                       dir: String): DataFrame = {
    val (eval, corpus) = evalCorpusSplit(shingles(s, dir))
    contamPairs(corpus.join(broadcast(eval), "s"))
  }

  // Memoized: THREE gates consume the contamination pair relation
  // (decontaminate, filter_overlap, release_report).
  private[graft] val contamMemo = Memo("documents") { (s, dir) =>
    decontaminatePlan(s, dir).localCheckpoint(true)
  }

  def decontaminate(s: SparkSession, dir: String): DataFrame =
    contamMemo(s, dir)

  /** The frozen eval-side shingle table `(eval_id, s)` — the broadcast
    * relation an ONLINE decontaminator checks arriving documents
    * against ([[graft.streaming.StreamContam]]); exactly
    * [[decontaminate]]'s eval split, exposed so the streaming face and
    * the batch gate can never disagree on who the eval set is. */
  def evalShingleTable(s: SparkSession, dir: String): DataFrame =
    evalCorpusSplit(shingles(s, dir))._1

  /** The REPORT side of decontamination — per EVAL document, how
    * compromised is it: total distinct shingles, how many occur anywhere
    * in the training corpus, the contamination fraction, and how many
    * corpus documents cross the [[DecontamMinOverlap]] flag line (with
    * the worst overlap). [[decontaminate]] answers "which training docs
    * do I drop"; this answers "which benchmarks can I still trust" — the
    * eval-integrity view a contamination audit actually reports. Scale
    * shape: the eval side is broadcast, and the match-sized relation is
    * checkpointed ONCE so both report branches (hit counting, flag
    * regrouping via the same [[contamPairs]] rule as the drop-list
    * query) read it without re-scanning the corpus; every aggregate is
    * keyed by the tiny eval_id domain. */
  def decontamReport(s: SparkSession, dir: String): DataFrame = {
    val (eval, corpus) = evalCorpusSplit(shingles(s, dir))
    val totals = eval.groupBy("eval_id").agg(count(lit(1)).as("n_grams"))
    val matched = corpus.join(broadcast(eval), "s").localCheckpoint(true)
    val hits = matched
      .select(col("eval_id"), col("s")).distinct()
      .groupBy("eval_id").agg(count(lit(1)).as("n_hit"))
    val flagged = contamPairs(matched)
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_flagged"), max("n_overlap").as("max_overlap"))
    // hits/flagged are aggregates over the tiny eval_id domain — hint
    // them broadcast so the two left joins match the documented shape
    // (without the hint they planned as SortMergeJoin with exchanges).
    totals
      .join(broadcast(hits), Seq("eval_id"), "left")
      .join(broadcast(flagged), Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / col("n_grams"), 4)
          .as("contam_frac"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("max_overlap"), lit(0L)).as("max_overlap"))
  }

  // ---------------------------------------------------- cross-doc n-grams
  /** Cross-document duplication profile — per document, the fraction of its
    * distinct 3-gram shingles that also appear in at least one other
    * document. The corpus-level companion to [[graft.text.TextQueries
    * .docRepetition]] (which is within-doc): high `shared_frac` marks
    * boilerplate/templated documents that pairwise Jaccard misses because
    * the copies are spread across MANY partners, none individually above
    * threshold. No self-join, so unlike the pairwise operators this stays
    * linear in corpus size at 100 TB. The document frequency comes from a
    * groupBy + join-back over the checkpointed shingle relation, NOT a
    * `count().over(Window.partitionBy("s"))`: boilerplate shingles — the
    * exact thing this operator hunts — are zipf-hot keys, and the window
    * form shuffles every (doc, shingle) row by that key with no map-side
    * combine, while the groupBy ships one partial count per key per task
    * (and the checkpoint keeps the explode single-evaluation). */
  def crossDocNgrams(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir).localCheckpoint(true)
    val dfTab = sh.groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(dfTab, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("long").as("n_shared"))
      .withColumn("shared_frac", round(col("n_shared") / col("n_grams"), 4))
  }

  // ------------------------------------------------------- source overlap
  /** Cross-source containment matrix — the redundancy diagnostic a mixing
    * stage consults before setting source weights ([[graft.text.Sampling
    * .mixWeights]]): for every ordered source pair (a, b), how many of
    * a's distinct shingles also occur in b, and the fraction of a that
    * overlap represents. Unlike the doc-pair operators this joins the
    * per-SOURCE distinct shingle relation with itself, so a shingle
    * contributes at most |sources|² rows — bounded by the (small) source
    * count, never by corpus size; the only heavy step is the (source,
    * shingle) distinct, one shuffle with map-side partials. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.parallel(s, dir, "documents")
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(array_distinct(trigrams(col("w"))))
        .as("g"))
      .distinct()
      .localCheckpoint(true) // read 3x: sizes + both sides of the join
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_grams"))
    sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n_grams", "n_a"), "src_a")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_shared"),
        round(col("n_shared") / col("n_a"), 4).as("frac_a"))
  }

  // ------------------------------------------------------------- simhash
  /** 32-bit SimHash as a single-pass aggregate over a word array column
    * named `w`: one sha256 per word, a 32-wide bit-count vector folded with
    * zip_with, then a majority-vote reassembly. (The per-bit `filter` form
    * re-evaluates the hash array once per bit — 32× the sha256 work.) */
  def simhashExpr(wCol: String): String =
    s"""aggregate(
       |  transform($wCol, x -> cast(conv(substring(sha2(x, 256), 1, 8), 16, 10) as bigint)),
       |  array_repeat(0L, 32),
       |  (acc, v) -> zip_with(acc, transform(sequence(0, 31), b -> (v >> b) & 1),
       |                       (x, y) -> x + y),
       |  acc -> aggregate(zip_with(acc, sequence(0, 31),
       |                     (c, b) -> IF(2 * c > size($wCol), shiftleft(1L, b), 0L)),
       |                   0L, (s, t) -> s + t))""".stripMargin

  /** SimHash bucket grouping: buckets holding >1 doc are near-dup clusters
    * (identical 32-bit signature). */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, dir, "documents")
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 1)
      .selectExpr("doc_id", s"${simhashExpr("w")} AS simhash")
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .filter(col("n_docs") > 1)

  /** Max Hamming distance for [[dedupSimhashHamming]] — pairs at
    * distance ≤ K are near-duplicates (Manku, Jain & Das Sarma, WWW
    * 2007: simhash near-dup detection for web crawling). */
  val SimhashHammingK = 3
  private[graft] val SimhashBlockBits = 8
  private[graft] val SimhashNumBlocks = 4 // K+1 blocks: pigeonhole, 32 bits

  /** Hamming-distance near-dup pairs over the 32-bit SimHash — the
    * block-permutation index of Manku et al. 2007: a pair at Hamming
    * distance ≤ K must agree EXACTLY on at least one of K+1 disjoint
    * blocks (pigeonhole), so candidates come from K+1 equi-joins on
    * 8-bit block keys instead of an all-pairs XOR scan, and only
    * candidates pay the popcount verify.
    *
    * Built collapse-first from the start (the [[dedupMinhashLshGrouped]]
    * / `media_phash_clusters` pattern): banding and verification run
    * over DISTINCT signatures, and member pairs expand in-row after the
    * verify — an identical-signature group of g docs contributes ONE
    * node to the block joins, never C(g, 2) candidate rows. Pairs at
    * distance 0 are excluded by construction (both orderings collapse
    * into the same signature node): identical-signature groups are
    * [[dedupSimhash]]'s relation; this one is strictly 1 ≤ h ≤ K.
    *
    * Oracle: the EXHAUSTIVE flat SQL (per-doc block join + popcount) —
    * the hash gate certifies the collapsed pipeline pair-identical.
    *
    * Scale: candidates ∝ Σ n_b² over (K+1)·2^8 block buckets — the
    * banded-pairs law (`media_phash_pairs`' family). The fixture binds
    * the 32-bit hash with 8-bit blocks; a production corpus grows the
    * hash width (64-bit simhash, 6+ blocks) to pin bucket occupancy,
    * the same dial as the kNN-graph planes. */
  // Memoized: TWO consumers (the gate itself and the ensemble
  // clustering) would otherwise each rebuild signatures + block joins.
  private[graft] val shamMemo = Memo("documents") { (s, dir) =>
    simhashHammingBuild(s, dir).localCheckpoint(true)
  }

  def dedupSimhashHamming(s: SparkSession, dir: String): DataFrame =
    shamMemo(s, dir)

  private def simhashHammingBuild(s: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.parallel(s, dir, "documents")
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 1)
      .selectExpr("doc_id", s"${simhashExpr("w")} AS simhash")
      .groupBy("simhash")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .localCheckpoint(true) // block probe + both expansion sides
    val blocks = sigs.select(col("simhash"),
      explode(expr(s"transform(sequence(0, ${SimhashNumBlocks - 1}), " +
        s"j -> struct(j AS j, shiftright(simhash, $SimhashBlockBits * j) " +
        s"& ${(1 << SimhashBlockBits) - 1} AS key))")).as("b"))
      .select(col("simhash"), col("b.j").as("j"), col("b.key").as("key"))
    val cand = blocks.as("a").join(blocks.as("b"),
        col("a.j") === col("b.j") && col("a.key") === col("b.key") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .distinct() // a pair may agree on several blocks
      .withColumn("hamming", expr("cast(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("hamming") >= 1 && col("hamming") <= SimhashHammingK)
    cand
      .join(sigs.select(col("simhash").as("ha"), col("ids").as("ids_a")), "ha")
      .join(sigs.select(col("simhash").as("hb"), col("ids").as("ids_b")), "hb")
      .select(explode(expr("flatten(transform(ids_a, x -> transform(ids_b," +
        " y -> struct(least(x, y) AS a, greatest(x, y) AS b))))")).as("p"),
        col("hamming"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"), col("hamming"))
  }

  /** Dedup-threshold sensitivity curve — the readout that picks
    * [[JaccardThreshold]] for a corpus: histogram the LSH-verified pair
    * similarities into 0.05-wide buckets and carry the top-down
    * cumulative pair count ("pairs removed if the threshold were set at
    * this bucket's lower edge"), plus exact e4-integer sums of the true
    * and estimated Jaccard per bucket (the per-bucket estimator
    * calibration, summed as exact integers so the cross-engine hash
    * cannot drift on float summation order). Rides the memoized
    * verified-pair relation ([[lshArtifacts]]); partials ∝ 11 buckets,
    * the cumulative window orders ≤11 rows. */
  def dedupThresholdCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e4 = dedupMinhashLsh(s, dir).select(
      round(col("jaccard") * 10000).cast("long").as("je4"),
      round(col("est_jaccard") * 10000).cast("long").as("ee4"))
    e4.withColumn("bucket", expr("je4 DIV 500"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum("ee4").as("est_e4_sum"), sum("je4").as("jac_e4_sum"))
      .withColumn("cum_pairs",
        sum("n_pairs").over(Window.orderBy(col("bucket").desc)))
      .select(col("bucket"), round(col("bucket") / 20.0, 2).as("lo"),
        col("n_pairs"), col("cum_pairs"),
        col("est_e4_sum"), col("jac_e4_sum"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_threshold_curve" -> dedupThresholdCurve,
    "dedup_shingle_jaccard" -> dedupShingleJaccard,
    "dedup_containment" -> dedupContainment,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_minhash_lsh_grouped" -> dedupMinhashLshGrouped,
    "dedup_weighted_jaccard" -> dedupWeightedJaccard,
    "dedup_simhash" -> dedupSimhash,
    "dedup_simhash_hamming" -> dedupSimhashHamming,
    "decontaminate" -> decontaminate,
    "decontam_report" -> decontamReport,
    "cross_doc_ngrams" -> crossDocNgrams,
    "source_overlap" -> sourceOverlap)

  // ------------------------------------------------------------- oracles
  /** CTE chain ending in `pairs(a_id, b_id, common, jaccard)` — the
    * Jaccard >= 0.5 verified near-dup pairs from the exact (pruned)
    * shingle self-join; the `dedup_shingle_jaccard` oracle. */
  val pairsCte: String =
    (s"$shinglesCte,\n$shpCte,\n" +
      """sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY doc_id),
        |rawpairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |               count(*) AS common
        |             FROM shp a JOIN shp b
        |               ON a.s = b.s AND a.doc_id < b.doc_id
        |             GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id, common,
        |            round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
        |          FROM rawpairs
        |          JOIN sizes sa ON sa.doc_id = a_id
        |          JOIN sizes sb ON sb.doc_id = b_id
        |          WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5)""".stripMargin)

  private[dedup] val minhashSelect: String = {
    val mins = (0 until NumPerms).map(j =>
      s"min((h * ${PermA(j)} + ${PermB(j)}) % $MinhashPrime) AS h$j")
      .mkString(",\n    ")
    s"""mh AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM (SELECT doc_id,
       |          (('0x' || substr(sha256(s), 1, 8))::BIGINT) % $MinhashPrime AS h
       |        FROM shp) hs
       |  GROUP BY doc_id)""".stripMargin
  }

  private[dedup] val bandsSql: String = {
    val bandRows = (0 until NumBands).map { b =>
      val rows = (0 until RowsPerBand)
        .map(r => s"h${b * RowsPerBand + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, substr(sha256($rows), 1, 16) AS bh FROM mh"
    }
    "bands AS (\n  " + bandRows.mkString("\n  UNION ALL\n  ") + ")"
  }

  /** CTE chain ending in `lshpairs(a_id, b_id, common, jaccard)` — the
    * LSH-candidate pairs that survive exact-Jaccard verification, all over
    * the pruned shingle relation. Shared by the `dedup_minhash_lsh` oracle
    * and [[ConnectedComponents]]' `dedup_clusters` oracle, so both engines
    * derive clusters from the byte-identical LSH-bounded pair set (the
    * oracle's `common` is a full self-join for simplicity — fine at oracle
    * scale — but the join to `cands` restricts the output to exactly the
    * pairs the engine's candidate-bounded verification produces). */
  val lshPairsCte: String =
    (s"$shinglesCte,\n$shpCte,\n$minhashSelect,\n$bandsSql,\n" +
      """cands AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |          FROM bands x JOIN bands y
        |            ON x.band = y.band AND x.bh = y.bh
        |            AND x.doc_id < y.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY doc_id),
        |common AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |             count(*) AS common
        |           FROM shp a JOIN shp b
        |             ON a.s = b.s AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2),
        |lshpairs AS (SELECT c.a_id, c.b_id, m.common,
        |               round(m.common * 1.0 / (sa.n + sb.n - m.common), 4)
        |                 AS jaccard
        |             FROM cands c
        |             JOIN common m ON m.a_id = c.a_id AND m.b_id = c.b_id
        |             JOIN sizes sa ON sa.doc_id = c.a_id
        |             JOIN sizes sb ON sb.doc_id = c.b_id
        |             WHERE m.common * 1.0 / (sa.n + sb.n - m.common)
        |               >= 0.5)""".stripMargin)

  private val simhashExpr: String = {
    val terms = (0 until 32).map(b =>
      s"CASE WHEN 2 * len(list_filter(hv, v -> (v >> $b) & 1 = 1)) > len(hv)" +
        s" THEN ${1L << b}::BIGINT ELSE 0::BIGINT END").mkString(" +\n      ")
    s"($terms)"
  }

  /** CTE chain ending in `shampairs(a_id, b_id, hamming)` — the
    * exhaustive per-doc Manku block join; the `dedup_simhash_hamming`
    * oracle, also composed into the ensemble-cluster oracle. Names
    * (`hv`, `sim`, `blocks`, `shamcand`) are disjoint from
    * [[lshPairsCte]]'s so the two chains concatenate. */
  val simhashHammingCte: String =
    s"""hv AS (
      |  SELECT doc_id, list_transform(
      |    list_filter(string_split(text, ' '), x -> x <> ''),
      |    x -> ('0x' || substr(sha256(x), 1, 8))::BIGINT) AS hv
      |  FROM documents
      |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1),
      |sim AS (SELECT doc_id, $simhashExpr AS simhash FROM hv),
      |blocks AS (
      |  SELECT doc_id, simhash, j,
      |    (simhash >> ($SimhashBlockBits * j)) & ${(1 << SimhashBlockBits) - 1}
      |      AS key
      |  FROM sim, (SELECT unnest([${(0 until SimhashNumBlocks).mkString(",")}])
      |             AS j) js),
      |shamcand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
      |    a.simhash AS ha, b.simhash AS hb
      |  FROM blocks a JOIN blocks b
      |    ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
      |shampairs AS (
      |  SELECT a_id, b_id, bit_count(xor(ha, hb))::BIGINT AS hamming
      |  FROM shamcand
      |  WHERE bit_count(xor(ha, hb)) BETWEEN 1 AND $SimhashHammingK)"""
      .stripMargin

  /** The `dedup_minhash_lsh` oracle — exhaustive signature/band/verify
    * SQL; ALSO bound by `dedup_minhash_lsh_grouped` (the collapse-first
    * twin must reproduce it pair-for-pair). */
  private val lshGateOracleSql: String =
    (s"WITH $lshPairsCte\n" +
      s"""SELECT p.a_id, p.b_id,
        |  round((${(0 until NumPerms).map(j =>
                    s"CASE WHEN ma.h$j = mb.h$j THEN 1 ELSE 0 END")
                    .mkString(" + ")}) * 1.0 / $NumPerms, 4)
        |    AS est_jaccard,
        |  p.jaccard
        |FROM lshpairs p
        |JOIN mh ma ON ma.doc_id = p.a_id
        |JOIN mh mb ON mb.doc_id = p.b_id""".stripMargin)

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """WITH g AS (SELECT sha256(text) AS h, count(*) AS c,
        |             min(doc_id) AS keeper
        |           FROM documents GROUP BY sha256(text))
        |SELECT count(*)::BIGINT AS n_distinct, sum(c)::BIGINT AS n_docs,
        |  (sum(c) - count(*))::BIGINT AS n_dup_docs
        |FROM g""".stripMargin,
    "dedup_shingle_jaccard" ->
      s"WITH $pairsCte\nSELECT a_id, b_id, common, jaccard FROM pairs",
    "dedup_containment" ->
      (s"WITH $pairsCte\n" +
        s"""SELECT a_id, b_id,
          |  CASE WHEN sa.n <= sb.n THEN a_id ELSE b_id END AS contained_id,
          |  common, least(sa.n, sb.n) AS n_small,
          |  round(common * 1.0 / least(sa.n, sb.n), 4) AS containment
          |FROM rawpairs
          |JOIN sizes sa ON sa.doc_id = a_id
          |JOIN sizes sb ON sb.doc_id = b_id
          |WHERE least(sa.n, sb.n) >= $MinContainedShingles
          |  AND common * 1.0 / least(sa.n, sb.n) >= $ContainmentThreshold"""
          .stripMargin),
    "source_overlap" ->
      s"""WITH sh AS (
        |  SELECT DISTINCT source, unnest(list_distinct($trigramsSql)) AS g
        |  FROM (SELECT source, list_filter(string_split(text, ' '),
        |                x -> x <> '') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |sz AS (SELECT source, count(*) AS n_grams FROM sh GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |        count(*) AS n_shared
        |      FROM sh a JOIN sh b ON a.g = b.g AND a.source <> b.source
        |      GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, sz.n_grams AS n_a, p.n_shared,
        |  round(p.n_shared * 1.0 / sz.n_grams, 4) AS frac_a
        |FROM p JOIN sz ON sz.source = p.src_a""".stripMargin,
    "cross_doc_ngrams" ->
      (s"WITH $shinglesCte,\n" +
        """d AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS df FROM sh)
          |SELECT doc_id, count(*) AS n_grams,
          |  sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
          |  round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
          |    AS shared_frac
          |FROM d GROUP BY doc_id""".stripMargin),
    "decontaminate" ->
      (s"WITH $shinglesCte\n" +
        s"""SELECT c.doc_id, e.doc_id AS eval_id, count(*) AS n_overlap
          |FROM sh c JOIN sh e ON c.s = e.s
          |WHERE e.doc_id < $DecontamEvalDocs AND c.doc_id >= $DecontamEvalDocs
          |GROUP BY 1, 2
          |HAVING count(*) >= $DecontamMinOverlap""".stripMargin),
    "decontam_report" ->
      (s"WITH $shinglesCte,\n" +
        s"""e AS (SELECT doc_id AS eval_id, s FROM sh
          |       WHERE doc_id < $DecontamEvalDocs),
          |c AS (SELECT doc_id, s FROM sh WHERE doc_id >= $DecontamEvalDocs),
          |t AS (SELECT eval_id, count(*) AS n_grams FROM e GROUP BY 1),
          |h AS (SELECT eval_id, count(DISTINCT s) AS n_hit
          |      FROM e JOIN c USING (s) GROUP BY 1),
          |f0 AS (SELECT c.doc_id, e.eval_id, count(*) AS n_overlap
          |       FROM c JOIN e USING (s) GROUP BY 1, 2
          |       HAVING count(*) >= $DecontamMinOverlap),
          |f AS (SELECT eval_id, count(*) AS n_flagged,
          |        max(n_overlap) AS max_overlap
          |      FROM f0 GROUP BY 1)
          |SELECT t.eval_id, n_grams,
          |  coalesce(n_hit, 0)::BIGINT AS n_hit,
          |  round(coalesce(n_hit, 0) * 1.0 / n_grams, 4) AS contam_frac,
          |  coalesce(n_flagged, 0)::BIGINT AS n_flagged,
          |  coalesce(max_overlap, 0)::BIGINT AS max_overlap
          |FROM t LEFT JOIN h USING (eval_id) LEFT JOIN f USING (eval_id)"""
          .stripMargin),
    "dedup_weighted_jaccard" ->
      (s"WITH $lshPairsCte,\n" +
        s"""wt AS (SELECT s, (${MaxShingleDf + 1} - count(*)) AS w
          |        FROM shp GROUP BY s),
          |shw AS (SELECT shp.doc_id, shp.s, wt.w
          |        FROM shp JOIN wt ON wt.s = shp.s),
          |dw AS (SELECT doc_id, sum(w) AS wd FROM shw GROUP BY doc_id),
          |cw AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |         sum(a.w) AS cw
          |       FROM shw a JOIN shw b
          |         ON a.s = b.s AND a.doc_id < b.doc_id
          |       GROUP BY 1, 2)
          |SELECT l.a_id, l.b_id, l.jaccard,
          |  round(cw.cw * 1.0 / (da.wd + db.wd - cw.cw), 4)
          |    AS weighted_jaccard
          |FROM lshpairs l
          |JOIN cw ON cw.a_id = l.a_id AND cw.b_id = l.b_id
          |JOIN dw da ON da.doc_id = l.a_id
          |JOIN dw db ON db.doc_id = l.b_id""".stripMargin),
    "dedup_minhash_lsh" -> lshGateOracleSql,
    // the grouped twin is PAIR-IDENTICAL by construction — it binds the
    // very same exhaustive oracle, which is the whole point of the gate
    "dedup_minhash_lsh_grouped" -> lshGateOracleSql,
    "dedup_threshold_curve" ->
      (s"WITH $lshPairsCte,\n" +
        s"""est AS (SELECT p.jaccard,
          |    round((${(0 until NumPerms).map(j =>
                s"CASE WHEN ma.h$j = mb.h$j THEN 1 ELSE 0 END")
                .mkString(" + ")}) * 1.0 / $NumPerms, 4) AS est_jaccard
          |  FROM lshpairs p
          |  JOIN mh ma ON ma.doc_id = p.a_id
          |  JOIN mh mb ON mb.doc_id = p.b_id),
          |e4 AS (SELECT CAST(round(jaccard * 10000) AS BIGINT) AS je4,
          |         CAST(round(est_jaccard * 10000) AS BIGINT) AS ee4
          |       FROM est),
          |h AS (SELECT je4 // 500 AS bucket, count(*)::BIGINT AS n_pairs,
          |        sum(ee4)::BIGINT AS est_e4_sum,
          |        sum(je4)::BIGINT AS jac_e4_sum
          |      FROM e4 GROUP BY 1)
          |SELECT bucket, round(bucket / 20.0, 2) AS lo, n_pairs,
          |  (sum(n_pairs) OVER (ORDER BY bucket DESC))::BIGINT AS cum_pairs,
          |  est_e4_sum, jac_e4_sum
          |FROM h""".stripMargin),
    "dedup_simhash" ->
      (s"""WITH hv AS (
        |  SELECT doc_id, list_transform(
        |    list_filter(string_split(text, ' '), x -> x <> ''),
        |    x -> ('0x' || substr(sha256(x), 1, 8))::BIGINT) AS hv
        |  FROM documents
        |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1),
        |sim AS (SELECT doc_id,
        |    $simhashExpr AS simhash
        |  FROM hv)
        |SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc,
        |  max(doc_id) AS max_doc
        |FROM sim GROUP BY simhash HAVING count(*) > 1""".stripMargin),
    // the EXHAUSTIVE per-doc form — the collapse-first pipeline must
    // reproduce it pair-for-pair (same certification as the grouped LSH)
    "dedup_simhash_hamming" ->
      (s"WITH $simhashHammingCte\n" +
        """SELECT a_id, b_id, hamming FROM shampairs""".stripMargin))
}
