package graft.sim

import graft.{Memo, Tables}
import graft.sim.SimilarityQueries.dot
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path next to the LSH variant: k-means partitions the vector space
  * into `NLists` cells, every vector is assigned to its nearest centroid,
  * and a query compares against the NLists centroids only (driver-side,
  * O(NLists)) to pick `NProbe` cells, then exact-cosine re-ranks just those
  * cells' members — scanning ~NProbe/NLists of the corpus. At 10⁹ vectors
  * the assignment is a one-off batch job and the probe is a partition-
  * pruned scan when the table is written partitioned by cell.
  *
  * The k-means TRAINING is not DuckDB-reproducible, but once trained the
  * centroids are plain doubles — so cell assignment is NOT done through
  * the (engine-private) model.transform: it is an argmin-over-literal-
  * centroids expression both engines evaluate bit-identically, and the
  * approximate query (`ivf_topk`) gets a full hash oracle built AFTER
  * training by inlining those centroid literals (plus the driver-picked
  * probe set) into SQL. The probe-ALL variant (`ivf_topk_probeall`,
  * nprobe = NLists) scans every cell and therefore IS the brute-force
  * top-k independent of any assignment — the static correctness bound.
  * `IvfSpec` additionally pins recall against the exact top-k.
  */
object Ivf {

  val NLists = 16
  val NProbe = 4
  val TopK = 5

  /** Target mean cell size the production dial pins: with cells held at
    * ~T vectors, a probe scans nprobe·T vectors regardless of corpus
    * size, and SemDeDup's within-cell quadratic stays T² per cell. */
  val CellTarget = 100L

  /** The cell-count dial: centroids for an N-vector corpus so expected
    * cell size N/k ≤ [[CellTarget]] (never below the fixture's
    * [[NLists]]) — the standard `nlist ≈ N/target` IVF sizing. Production
    * binding: `assignmentsMl(s, dir, nListsFor(corpusSize))`; the gate
    * binds [[NLists]]. Measured cell occupancy at 1×/10×/30× with the
    * dial applied: `OccupancyProbe` (results in SCALE_VALIDATION.md). */
  def nListsFor(n: Long, targetCellSize: Long = CellTarget): Int =
    math.max(NLists, math.ceil(n.toDouble / targetCellSize).toInt)

  /** Train the coarse quantizer on a deterministic 1-in-SampleMod subset
    * (`vec_id % SampleMod == 0`): centroids fitted on a uniform sample are
    * statistically identical to full-corpus centroids, and fitting is the
    * dominant cost — assignment and the probe path still cover every
    * vector. Deterministic (vs `df.sample`): immune to partitioning. */
  val SampleMod = 5

  /** Train the coarse quantizer on [[NLists]] cells and assign every
    * vector to a cell (memoized; the assignment DataFrame is cached).
    * Every IVF gate, SemDeDup, the IVF kNN graph and the mining tier read
    * it; at scale the cell count follows [[nListsFor]] through
    * [[assignmentsMl]]. */
  def assignments(s: SparkSession, dir: String)
      : (DataFrame, Array[Array[Double]]) = quantizerMemo(s, dir)

  private[graft] val quantizerMemo =
    Memo("embeddings")(trainAssignments)

  /** Production-scale assignment — (vec_id, cell) through the fitted
    * model's own `transform` (BLAS distance loops) instead of
    * [[assignments]]' literal-centroid argmin expression. The literal
    * argmin inlines nLists×dim double literals into one projection: ideal
    * at the gate's 16 lists (whole-stage codegen, oracle-reproducible
    * SQL twin), but past a few hundred centroids the generated method
    * crosses the JVM's 64 KB codegen limit and falls back to per-row
    * interpreted evaluation (measured: OOM at nLists=600 on a 60k-vector
    * corpus) — the same literal-vs-relation cliff as the tokenizer apply,
    * resolved the same way: model data stays out of the plan. Same
    * nearest-centroid/lowest-index-tie rule; not oracle-expressible, so
    * the gate keeps the literal path. */
  def assignmentsMl(s: SparkSession, dir: String, nLists: Int): DataFrame = {
    val (features, model) = fit(s, Tables(s, dir, "embeddings"), nLists)
    val out = model.transform(features).select(col("vec_id"), col("cell"))
      .localCheckpoint(true)
    features.unpersist()
    out
  }

  private def trainAssignments(s: SparkSession, dir: String):
      (DataFrame, Array[Array[Double]]) = {
    val e = Tables(s, dir, "embeddings")
    val (features, model) = fit(s, e, NLists)
    val centers = model.clusterCenters.map(_.toArray)
    // Assignment deliberately bypasses model.transform: cellExpr is the
    // portable argmin the oracle SQL mirrors literal-for-literal, so the
    // cell column is bit-reproducible outside Spark.
    val assigned = e.withColumn("cell", cellExpr(centers)).cache()
    assigned.count() // materialize before dropping the feature cache
    features.unpersist()
    (assigned, centers)
  }

  /** The k-means fit both assignment paths share: L2-normalized features
    * (cached; the caller assigns from them or unpersists them) and the
    * `nLists`-cell model fitted on the 1-in-[[SampleMod]] sample. */
  private def fit(s: SparkSession, e: DataFrame, nLists: Int)
      : (DataFrame, KMeansModel) = {
    import s.implicits._
    val features = e.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, emb) =>
        // L2-normalize so Euclidean k-means approximates spherical k-means —
        // cells then align with the cosine geometry the probe uses
        val d = emb.map(_.toDouble)
        val n = math.sqrt(d.map(x => x * x).sum)
        (id, Vectors.dense(if (n == 0.0) d else d.map(_ / n)))
      }
      .toDF("vec_id", "features")
      .cache() // read once: the sample count, the k-means passes, the caller
    val sampled = features.filter(pmod(col("vec_id"), lit(SampleMod)) === 0)
    // tiny fixtures can undersample k-means below nLists points — fall back
    // to the full set there; at scale the sample always dominates nLists
    val trainSet =
      if (sampled.limit(nLists * 4).count() >= nLists * 4L) sampled
      else features
    val model = new KMeans()
      .setK(nLists).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(trainSet)
    (features, model)
  }

  /** Nearest-centroid cell as a pure SQL-expressible argmin over literal
    * centroids: for an L2-normalized corpus vector x̂ = x/‖x‖, the squared
    * distance to centroid c_j is ‖x̂‖² + ‖c_j‖² − 2·x̂·c_j = const +
    * (‖c_j‖² − 2·(x·c_j)/‖x‖), so the argmin needs only the parenthesized
    * score — one dot product per centroid, ties broken by smallest j (the
    * oracle orders by (score, j)). Every constant is a double literal
    * shared verbatim with the oracle SQL, and the arithmetic (left-to-
    * right dot, one division) has a single evaluation order — both
    * engines produce the same bits. */
  /** Per-centroid assignment scores (‖c_j‖² − 2·(x·c_j)/‖x‖) over the
    * `embedding` column — shared by [[cellExpr]] and [[SemDedup]] (whose
    * keeper rank is the winning score: within a fixed cell, a HIGHER
    * score is a LOWER centroid cosine). */
  private[sim] def centroidScores(centers: Array[Array[Double]]): Array[Column] = {
    val xn = sqrt(dot(col("embedding"), col("embedding")))
    centers.map { c =>
      val c2 = c.map(x => x * x).sum
      lit(c2) - lit(2.0) * dot(col("embedding"), array(c.map(lit).toSeq: _*)) / xn
    }
  }

  private[sim] def cellExpr(centers: Array[Array[Double]]): Column = {
    val scores = centroidScores(centers)
    val m = least(scores.toSeq: _*)
    scores.zipWithIndex.tail
      .foldLeft(when(scores(0) === m, 0)) { case (acc, (sc, j)) =>
        acc.when(sc === m, j)
      }
  }

  private[sim] def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dp / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Top-5 cosine neighbors of vec_id 0, probing the `nprobe` cells whose
    * centroids are nearest the query (the IVF query path). Recall scales
    * with nprobe/NLists times the corpus's cluster structure — uniform
    * random vectors (this testdata) are the worst case; real embedding
    * corpora concentrate neighbors in few cells. */
  def ivfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopkProbing(s, dir, NProbe)

  def ivfTopkProbing(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    ivfTopkProbing(s, dir, nprobe, rankedCells(s, dir))

  /** Probing variant over a precomputed centroid ranking — the sweep
    * computes [[rankedCells]] once and slices prefixes instead of paying
    * a query-embedding fetch per nprobe. */
  private def ivfTopkProbing(s: SparkSession, dir: String, nprobe: Int,
                             ranked: Seq[Int]): DataFrame = {
    val (assigned, centers) = assignments(s, dir)
    // O(NLists) centroid comparison picked the ranking; prefix = probe set
    val probeCells = ranked.take(nprobe).toArray
    if (nprobe == NProbe) synchronized {
      lastIvfOracle = Some(ivfOracleSql(centers, probeCells))
    }
    topkFrom(assigned, probeCells)
  }

  /** The probe/re-rank stage over an already-assigned relation — shared
    * with [[IvfModel]], which replays it from a RELOADED quantizer. */
  private[sim] def topkFrom(assigned: DataFrame,
                            probeCells: Array[Int]): DataFrame = {
    val q = assigned.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
    assigned
      .filter(col("vec_id") =!= 0 && col("cell").isin(probeCells.toSeq: _*))
      .crossJoin(broadcast(q))
      .withColumn("cos",
        dot(col("embedding"), col("qe")) /
          (sqrt(dot(col("embedding"), col("embedding"))) * col("qn")))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(TopK)
      .select(col("vec_id"), col("label"), col("cell"),
        round(col("cos"), 4).as("cosine"))
  }

  /** Probe-all gate query: nprobe = NLists ⇒ exhaustive scan ⇒ exactly the
    * brute-force cosine top-k, minus the `cell` column (which is k-means
    * dependent and not oracle-reproducible). */
  def ivfTopkProbeAll(s: SparkSession, dir: String): DataFrame =
    ivfTopkProbing(s, dir, NLists).drop("cell")

  /** Per-cell SIMPLIFIED silhouette — the standard clustering-quality
    * readout (Rousseeuw 1987's silhouette with the centroid
    * simplification: a(i)/b(i) are distances to the own / nearest-other
    * CENTROID, O(n·k) instead of O(n²)): for each vector, d_j =
    * score_j + 1 is the exact squared Euclidean distance between the
    * L2-normalized vector and centroid j (see [[cellExpr]]'s algebra),
    * s = (d_next − d_own) / max(d_own, d_next) ∈ [−1, 1], rolled up per
    * cell. The quality dial for the shared quantizer every IVF consumer
    * rides (ivf_topk, semdedup, the kNN graph): collapsing silhouettes
    * mean the cell structure stopped separating the corpus and nLists
    * needs retuning. Cross-engine exactness: per-vector silhouettes are
    * fixed-pointed (floor(s·10⁶ + ½) as BIGINT) before the per-cell sum,
    * so the aggregation is integer and order-free; only the final mean
    * divides doubles. Scale: one corpus scan (the memoized assignment),
    * k dot products per row in-codegen, partials ∝ cells. */
  def ivfSilhouette(s: SparkSession, dir: String): DataFrame = {
    val (asg, centers) = assignments(s, dir)
    synchronized { lastSilOracle = Some(silhouetteOracleSql(centers)) }
    val dists = array(centroidScores(centers).map(_ + lit(1.0)).toSeq: _*)
    val dOwn = element_at(dists, (col("cell") + 1).cast("int"))
    val dNext = array_min(filter(dists, (_, i) => i =!= col("cell")))
    val sil = when(greatest(dOwn, dNext) === 0.0, lit(0.0))
      .otherwise((dNext - dOwn) / greatest(dOwn, dNext))
    asg.select(col("cell"),
        floor(sil * lit(1000000.0) + lit(0.5)).cast("long").as("sfx"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"), sum("sfx").as("sum_fx"))
      .select(col("cell"), col("n_vectors"),
        round(col("sum_fx") / lit(1000000.0) / col("n_vectors"), 4)
          .as("mean_silhouette"))
  }

  private var lastSilOracle: Option[String] = None

  /** Post-training oracle for [[ivfSilhouette]] — the same centroid
    * literals, argmin assignment, distance shift and fixed-point
    * rollup in SQL. */
  private def silhouetteOracleSql(centers: Array[Array[Double]]): String = {
    val rows = centers.zipWithIndex.map { case (c, j) =>
      s"($j, ${fmtD(c.map(x => x * x).sum)}, " +
        s"[${c.map(fmtD).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH cents(j, c2, c) AS (VALUES
       |    $rows),
       |sc AS (SELECT e.vec_id, c.j,
       |         c.c2 - 2 * (${SimilarityQueries.sqlDot("e.embedding", "c.c")})
       |           / sqrt(${SimilarityQueries.sqlDot("e.embedding", "e.embedding")})
       |           AS score
       |       FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, j AS cell
       |        FROM (SELECT *, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY score ASC, j ASC) AS rn
       |              FROM sc)
       |        WHERE rn = 1),
       |agg AS (SELECT s.vec_id, a.cell,
       |          min(CASE WHEN s.j = a.cell THEN s.score + 1 END) AS d_own,
       |          min(CASE WHEN s.j <> a.cell THEN s.score + 1 END) AS d_next
       |        FROM sc s JOIN asg a ON a.vec_id = s.vec_id
       |        GROUP BY s.vec_id, a.cell),
       |fx AS (SELECT cell,
       |         floor((CASE WHEN greatest(d_own, d_next) = 0 THEN 0.0
       |                ELSE (d_next - d_own) / greatest(d_own, d_next) END)
       |               * 1000000.0 + 0.5)::BIGINT AS sfx
       |       FROM agg)
       |SELECT cell, count(*)::BIGINT AS n_vectors,
       |  round(sum(sfx) / 1000000.0 / count(*), 4) AS mean_silhouette
       |FROM fx GROUP BY cell""".stripMargin
  }

  /** The recall dial as a FIRST-CLASS GATE: for each nprobe in
    * [[RecallNprobes]], how many of the exhaustive top-[[TopK]] the
    * probed search returns (`n_hits`) and how many vectors it scanned
    * (`n_scanned`) — the measured recall/cost curve an index owner
    * reads before fixing nprobe, promoted from the RecallProbe tool to
    * an oracle-checked relation (all integers; the oracle replays the
    * whole curve from the trained centroid literals, the `ivf_topk`
    * dynamic pattern). Driver state is k- and NLists-bounded. */
  def ivfRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val (assigned, centers) = assignments(s, dir)
    val ranked = rankedCells(s, dir)
    // nprobe = NLists IS the exhaustive endpoint — collect it once and
    // serve both the recall reference and that sweep row (was two
    // identical TakeOrdered jobs)
    val exactIds = ivfTopkProbing(s, dir, NLists, ranked).collect()
      .map(_.getAs[Long]("vec_id"))
    val exact = exactIds.toSet
    val cellSizes = assigned.filter(col("vec_id") =!= 0)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the remaining sweep points are independent TakeOrdered reads of the
    // same memoized assignment — overlap them (§2.6; graft.Pools bounds
    // the wait and cancels siblings on failure, the round-13 advisor item)
    val rows = graft.Pools.runAll(s, "ivf-recall")(RecallNprobes.map { np => () =>
      val ids =
        if (np == NLists) exactIds
        else ivfTopkProbing(s, dir, np, ranked).collect()
          .map(_.getAs[Long]("vec_id"))
      (np.toLong, ids.count(exact).toLong,
        ranked.take(np).map(cellSizes.getOrElse(_, 0L)).sum,
        TopK.toLong)
    })
    synchronized {
      lastRecallOracle = Some(recallOracleSql(centers, ranked))
    }
    import s.implicits._
    rows.toDF("nprobe", "n_hits", "n_scanned", "topk")
  }

  val RecallNprobes: Seq[Int] = Seq(1, 2, NProbe, NLists)

  private var lastRecallOracle: Option[String] = None

  private def recallOracleSql(centers: Array[Array[Double]],
      ranked: Seq[Int]): String = {
    val rows = centers.zipWithIndex.map { case (c, j) =>
      s"($j, ${fmtD(c.map(x => x * x).sum)}, " +
        s"[${c.map(fmtD).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    val perNp = RecallNprobes.map { np =>
      val cells = ranked.take(np).mkString(", ")
      s"""SELECT ${np}::BIGINT AS nprobe,
         |  (SELECT count(*) FROM (
         |     SELECT vec_id FROM d WHERE cell IN ($cells)
         |     ORDER BY dp / (sqrt(na) * sqrt(nq)) DESC, vec_id ASC
         |     LIMIT $TopK) t JOIN brute USING (vec_id))::BIGINT AS n_hits,
         |  (SELECT count(*) FROM asg
         |     WHERE vec_id <> 0 AND cell IN ($cells))::BIGINT AS n_scanned,
         |  ${TopK}::BIGINT AS topk""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH cents(j, c2, c) AS (VALUES
       |    $rows),
       |sc AS (SELECT e.vec_id, e.label, e.embedding, c.j,
       |         c.c2 - 2 * (${SimilarityQueries.sqlDot("e.embedding", "c.c")})
       |           / sqrt(${SimilarityQueries.sqlDot("e.embedding", "e.embedding")})
       |           AS score
       |       FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, label, embedding, j AS cell
       |        FROM (SELECT *, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY score ASC, j ASC) AS rn
       |              FROM sc)
       |        WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |d AS (SELECT a.vec_id, a.cell,
       |  ${SimilarityQueries.sqlDot("a.embedding", "qe")} AS dp,
       |  ${SimilarityQueries.sqlDot("a.embedding", "a.embedding")} AS na,
       |  ${SimilarityQueries.sqlDot("qe", "qe")} AS nq
       |  FROM asg a, q WHERE a.vec_id <> 0),
       |brute AS (SELECT vec_id FROM d
       |  ORDER BY dp / (sqrt(na) * sqrt(nq)) DESC, vec_id ASC
       |  LIMIT $TopK)
       |$perNp""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ivf_topk" -> ivfTopk,
    "ivf_topk_probeall" -> ivfTopkProbeAll,
    "ivf_silhouette" -> ivfSilhouette,
    "ivf_recall_curve" -> ivfRecallCurve)

  /** The recall/latency dial, measured: for each nprobe, recall@TopK
    * against the exact top-k and the fraction of the corpus the probe
    * actually scans. Fully seeded (sampled training set, fixed k-means
    * seed), so the numbers are reproducible — `IvfSweepMain` prints the
    * committed SCALE.md table and `IvfSpec` asserts recall is monotone
    * in nprobe with both endpoints pinned. */
  def recallSweep(s: SparkSession, dir: String,
                  nprobes: Seq[Int]): Seq[(Int, Double, Double)] = {
    val (assigned, _) = assignments(s, dir)
    // one centroid ranking serves every sweep point (probeSet(np) is by
    // construction its prefix) — no per-nprobe query-embedding refetch
    val ranked = rankedCells(s, dir)
    val exact = ivfTopkProbing(s, dir, NLists, ranked).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val cellSizes = assigned.filter(col("vec_id") =!= 0)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = cellSizes.values.sum.toDouble
    nprobes.map { np =>
      val rows = ivfTopkProbing(s, dir, np, ranked).collect()
      val recall = rows.map(_.getAs[Long]("vec_id")).count(exact.contains)
        .toDouble / TopK
      val scanned = ranked.take(np).map(cellSizes.getOrElse(_, 0L)).sum /
        total
      (np, recall, scanned)
    }
  }

  /** All cells ranked by centroid cosine to the query —
    * `probeSet(nprobe)` is its length-nprobe prefix. One driver-side
    * head() job fetches the query embedding. */
  def rankedCells(s: SparkSession, dir: String): Seq[Int] = {
    val (assigned, centers) = assignments(s, dir)
    import s.implicits._
    val qEmb = assigned.filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head().map(_.toDouble)
    rankCellsFor(qEmb, centers)
  }

  /** All cells ranked by centroid cosine to an explicit query vector —
    * shared with [[IvfModel]]'s reloaded-quantizer path. */
  private[sim] def rankCellsFor(qEmb: Array[Double],
      centers: Array[Array[Double]]): Seq[Int] =
    centers.zipWithIndex
      .map { case (ctr, i) => (cosine(qEmb, ctr), i) }
      .sortBy(-_._1).map(_._2).toSeq

  /** The probe set ivfTopkProbing(nprobe) scans: cells of the nprobe
    * centroids nearest the query — factored out so the sweep reports the
    * true scanned fraction rather than inferring it from results. */
  def probeSet(s: SparkSession, dir: String, nprobe: Int): Seq[Int] =
    rankedCells(s, dir).take(nprobe)

  // The approximate query's oracle exists only once the quantizer is
  // trained (its centroid and probe-set literals come from the model), so
  // ivfTopkProbing records it and `oracles` is a def: Verify runs every
  // query BEFORE dumping oracle SQL, so the gate always sees it.
  private var lastIvfOracle: Option[String] = None

  /** Shortest round-trip decimal form — DuckDB's correctly-rounded parse
    * recovers the exact double the Spark plan uses via `lit`. */
  private[sim] def fmtD(d: Double): String = java.lang.Double.toString(d)

  /** Post-training oracle for `ivf_topk`: the trained centroids (and the
    * driver-picked probe cells) inlined as literals; assignment = the same
    * (‖c_j‖² − 2·(x·c_j)/‖x‖, j) argmin [[cellExpr]] computes, then the
    * exact-cosine re-rank of the probed cells. */
  private[sim] def ivfOracleSql(centers: Array[Array[Double]],
      probes: Array[Int]): String = {
    val rows = centers.zipWithIndex.map { case (c, j) =>
      s"($j, ${fmtD(c.map(x => x * x).sum)}, " +
        s"[${c.map(fmtD).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH cents(j, c2, c) AS (VALUES
       |    $rows),
       |sc AS (SELECT e.vec_id, e.label, e.embedding, c.j,
       |         c.c2 - 2 * (${SimilarityQueries.sqlDot("e.embedding", "c.c")})
       |           / sqrt(${SimilarityQueries.sqlDot("e.embedding", "e.embedding")})
       |           AS score
       |       FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, label, embedding, j AS cell
       |        FROM (SELECT *, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY score ASC, j ASC) AS rn
       |              FROM sc)
       |        WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |d AS (SELECT a.vec_id, a.label, a.cell,
       |  ${SimilarityQueries.sqlDot("a.embedding", "qe")} AS dp,
       |  ${SimilarityQueries.sqlDot("a.embedding", "a.embedding")} AS na,
       |  ${SimilarityQueries.sqlDot("qe", "qe")} AS nq
       |  FROM asg a, q
       |  WHERE a.vec_id <> 0 AND a.cell IN (${probes.mkString(", ")}))
       |SELECT vec_id, label, cell,
       |  round(dp / (sqrt(na) * sqrt(nq)), 4) AS cosine
       |FROM d ORDER BY dp / (sqrt(na) * sqrt(nq)) DESC, vec_id ASC
       |LIMIT $TopK""".stripMargin
  }

  /** Prints the SCALE.md recall/scanned-fraction table:
    * `sbt "runMain graft.sim.IvfSweepMain <sfDir>"`. */
  def sweepTable(s: SparkSession, dir: String): String = {
    val rows = recallSweep(s, dir, Seq(1, 2, 4, 8, NLists))
    ("| nprobe | recall@5 | corpus scanned |\n|---|---|---|\n" +
      rows.map { case (np, r, sc) =>
        f"| $np | $r%.1f | $sc%.3f |"
      }.mkString("\n"))
  }

  def oracles: Map[String, String] = {
    val base = Map(
      "ivf_topk_probeall" ->
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
          |d AS (SELECT vec_id, label,
          |  ${SimilarityQueries.sqlDot("embedding", "qe")} AS dp,
          |  ${SimilarityQueries.sqlDot("embedding", "embedding")} AS na,
          |  ${SimilarityQueries.sqlDot("qe", "qe")} AS nq
          |  FROM embeddings, q WHERE vec_id <> 0)
          |SELECT vec_id, label,
          |  round(dp / (sqrt(na) * sqrt(nq)), 4) AS cosine
          |FROM d ORDER BY dp / (sqrt(na) * sqrt(nq)) DESC, vec_id ASC
          |LIMIT $TopK""".stripMargin)
    val withTopk = synchronized(lastIvfOracle) match {
      case Some(sql) => base + ("ivf_topk" -> sql)
      case None => base
    }
    val withSil = synchronized(lastSilOracle) match {
      case Some(sql) => withTopk + ("ivf_silhouette" -> sql)
      case None => withTopk
    }
    synchronized(lastRecallOracle) match {
      case Some(sql) => withSil + ("ivf_recall_curve" -> sql)
      case None => withSil
    }
  }
}

/** Reproducible generator for the committed IVF recall table. */
object IvfSweepMain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("graft-ivf-sweep")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"IVF sweep over $dir (NLists=${Ivf.NLists}, k=${Ivf.TopK})")
    println(Ivf.sweepTable(spark, dir))
    spark.stop()
  }
}
