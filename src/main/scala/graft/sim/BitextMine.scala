package graft.sim

import graft.{Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
  * Parallel Corpus Mining with Multilingual Sentence Embeddings"; the
  * method behind CCMatrix/LASER-scale parallel-corpus extraction) — the
  * cross-lingual leg of the curation engine: given one multilingual
  * embedding space, find for each source-language document its best
  * translation candidate in every other language, scored by the RATIO
  * margin rather than raw cosine:
  *
  *   margin(x, y) = cos(x, y) / ((xPen(x) + yPen(y)) / 2)
  *
  * where `xPen(x)` is the mean cosine of x to its [[NnK]] nearest
  * candidates and `yPen(y)` the mean cosine of y to its [[NnK]] nearest
  * batch queries. Raw cosine over-mines hubs (vectors close to
  * everything); the margin normalizes by each side's local density so a
  * pair only scores high when the two are MUTUALLY exceptional — the
  * paper's key finding, and the reason every production mining stack
  * ships margins, not cosines. Pairs with `margin >= ` [[MarginThresh]]
  * are mined; the `mutual` flag marks the paper's strictest
  * ("intersection") variant — x is y's best match too.
  *
  * Mining runs BATCHED, the production shape: a bounded query batch
  * (every [[QMod]]-th source-language doc — at 100 TB, the unit of work
  * a mining job processes per task wave) against the candidate side.
  * Both margin penalties are computed w.r.t. this batch/candidate
  * split, exactly what a batched miner observes.
  *
  * Two candidate regimes, the engine's standard brute/sketch pair:
  *  - `bitext_mine` — exhaustive candidates (every non-source doc), the
  *    correctness baseline;
  *  - `bitext_mine_ivf` — candidates pruned to the query's IVF cell
  *    (the memoized [[Ivf.assignments]] quantizer — CCMatrix prunes
  *    exactly this way, with a product-quantized index), penalties
  *    computed over the RETRIEVED set, which is what a production miner
  *    actually sees; `bitext_ivf_recall` certifies the pruned miner
  *    against the exhaustive one per language (the `hll_distinct` /
  *    `graph_neighborhood_anf` certification pattern).
  *
  * Scale shape: the batch is collected into ONE array row and broadcast
  * ([[Ivf]] / [[Pq]] model-crossJoin playbook), so the candidate scan is
  * a single zero-shuffle projection — each candidate row computes its
  * cosine vector to the batch (cell-masked in the pruned regime), takes
  * its own top-[[NnK]] penalty IN-ROW (sorted-slice fold, no shuffle),
  * and explodes to pair rows that already carry `y_pen`. The only
  * shuffles are the per-(query, lang) top-k for `x_pen` and the
  * forward/backward argmax — `row_number` windows Spark executes as
  * partial+final WindowGroupLimit, ≤ [[NnK]] rows per group per input
  * partition crossing the exchange (the q13 discipline). Nothing
  * corpus-sized is ever collected; brute pair cost is |batch| ×
  * |candidates| — which the IVF regime divides by the cell count
  * without changing any of this plumbing.
  *
  * Float discipline: both engines fold the top-k penalty over the SAME
  * descending-sorted list (Spark `sort_array` + sequential `aggregate`;
  * DuckDB `list_sort(..., 'DESC')` + `list_sum`), so the IEEE summation
  * order is identical and margins are bit-equal — ranks and the
  * threshold cut never straddle an ulp.
  */
object BitextMine {

  /** Mining source language: the pivot every multilingual corpus mines
    * from (CCMatrix mines against English first). */
  val SrcLang = "en"

  /** Query batch: every QMod-th source-language doc — bounded, the
    * batched-mining unit. */
  val QMod = 10

  /** Batch id horizon: the batch is the QMod-slice BELOW this id — a
    * mining wave is a FIXED-size unit of work in production, never "a
    * fixed fraction of the corpus" (that shape scales pair cost F²).
    * 5000 covers every fixture doc_id at all three SFs (identical
    * batches, identical oracle hashes), while the ×10/×30 scale corpora
    * hold the batch constant as candidates grow — the ≈F× law the scale
    * matrix certifies. */
  val QCap = 5000L

  /** Margin penalty depth (the paper uses k = 4). */
  val NnK = 4

  /** Probe depth for the multiprobe production miner: the round-10
    * certification (`bitext_ivf_recall`) measured the single-probe
    * recall floor at 3–6 of 13–17 pairs per language — a query's true
    * match often lives in a NEIGHBORING cell. Probing the query's top-P
    * cells (the `ann_lsh_multiprobe` / [[Ivf.NProbe]] discipline)
    * multiplies pair cost by only P/cells of brute while recovering
    * most of that gap; `bitext_recall_curve` measures the dial. */
  val MineNProbe = 4

  /** Probe counts swept by the recall curve. The endpoints are exact
    * aliases by construction — P=1 retrieves exactly the assigned-cell
    * regime (the top-1 probe cell IS the argmin assignment cell) and
    * P=[[Ivf.NLists]] retrieves the full batch (the brute regime) — so
    * the curve is pinned to the certified single-probe floor below and
    * exhaustive recall above. `distinct.sorted` so retuning
    * [[MineNProbe]] onto an endpoint or another sweep point can never
    * double-count a depth (a duplicate would union the same mined
    * relation twice and corrupt every curve count downstream). */
  val MineProbes: Seq[Int] = Seq(1, 2, MineNProbe, 8, Ivf.NLists).distinct.sorted

  /** Ratio-margin mining threshold (paper operating range 1.04–1.2;
    * 1.15 keeps the fixture relation non-empty at every SF while
    * genuinely pruning the forward-best list). */
  val MarginThresh = 1.15

  /** Penalty floor for the ratio margin: the generic relation-first
    * APIs ([[forwardBest]], [[mineWave]] via [[graft.streaming
    * .StreamBitext]]) accept arbitrary embeddings, where orthogonal or
    * negatively-correlated geometries can drive (xPen + yPen)/2 to zero
    * or below — an unguarded division then yields ±Inf/NaN margins that
    * rank arbitrarily. Clamping the denominator at this epsilon keeps
    * the margin finite and sign-stable; for any real mined geometry the
    * penalty is far above the floor, so `greatest(pen, eps)` returns
    * the exact same bits and the oracle hashes are unchanged. */
  val PenEps = 1e-9

  /** `(doc_id, lang, embedding)` — documents joined 1:1 to their
    * embedding rows (`vec_id = doc_id`, the HybridRetrieval
    * convention). */
  private[graft] def docVecs(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, dir, "documents").select(col("doc_id"), col("lang"))
      .join(Tables.parallel(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")

  /** Sequential left-to-right fold of the top-[[NnK]] of a cosine array
    * (descending sort, slice, sum) divided by the number of neighbors
    * actually present, `min(|arr|, k)` — the deterministic penalty both
    * engines share. The divisor follows the paper's definition ("mean
    * cosine to its k nearest") even when fewer than k neighbors exist:
    * in the pruned regimes a sparse cell can retrieve < k batch
    * queries, and dividing by the constant k there would UNDERSTATE the
    * penalty and over-mine sparse-cell pairs. The `greatest(…, 1)`
    * floor only guards the empty-retrieval row (which produces no pairs
    * anyway — the explode of an empty candidate list emits nothing) so
    * the division can never be 0/0. */
  private def topkMean(cosArr: Column): Column =
    aggregate(slice(sort_array(cosArr, asc = false), 1, NnK),
      lit(0.0), (acc, x) => acc + x) /
      greatest(least(size(cosArr), lit(NnK)), lit(1))

  /** Candidate-masking regime for [[mineWave]]: which batch queries a
    * candidate row retrieves (and computes its y-penalty over). */
  private[sim] sealed trait CandMask
  /** Exhaustive: every candidate sees the full batch. */
  private[sim] case object MaskAll extends CandMask
  /** Single-probe IVF: batch members sharing the candidate's quantizer
    * cell (`cell` on both sides). */
  private[sim] case object MaskCell extends CandMask
  /** Multiprobe IVF: batch members whose top-P probe cells (`pcells`
    * on the batch side) include the candidate's cell. */
  private[sim] case object MaskProbes extends CandMask
  /** Per-language-tuned multiprobe: the candidate's own `nprobe` column
    * (its language's certified minimal depth — [[bitextProbeChoice]])
    * decides how deep into the batch side's full-depth `pcells` prefix
    * it retrieves. The production regime once the choice table ships:
    * pair cost ∝ Σ over languages of P(lang)/cells instead of the
    * global max. */
  private[sim] case object MaskChosen extends CandMask

  /** Batch slice / candidate slice of a doc-vector relation — the
    * QMod/QCap mining-wave unit shared by every regime. */
  private def batchSlice(dv: DataFrame): DataFrame =
    dv.filter(col("lang") === SrcLang &&
      col("doc_id") % QMod === 0 && col("doc_id") < QCap)
  private def candSlice(dv: DataFrame): DataFrame =
    dv.filter(col("lang") =!= SrcLang)

  /** The query's top-`np` probe cells as an array<int> column — argsort
    * of the same literal-centroid assignment scores [[Ivf.cellExpr]]
    * minimizes, ties to the smaller index (struct sort on (score, j) —
    * exactly the oracle's `ORDER BY score ASC, j ASC`), so the P=1
    * prefix IS the assignment cell. */
  private def probeCellsExpr(centers: Array[Array[Double]], np: Int): Column = {
    val scored = array(Ivf.centroidScores(centers).zipWithIndex.map {
      case (sc, j) => struct(sc.as("score"), lit(j).as("j"))
    }.toSeq: _*)
    transform(slice(array_sort(scored), 1, np), x => x.getField("j"))
  }

  /** The margin-mining pipeline over `(doc_id, lang, embedding[, cell |
    * pcells])`: forward-best candidate per (batch query, language) with
    * cosine, margin and the mutual-best flag, candidates masked per the
    * regime. */
  private def mineOver(dv: DataFrame, mask: CandMask): DataFrame =
    mineWave(batchSlice(dv), candSlice(dv), mask)

  /** The pipeline over EXPLICIT batch/candidate relations — the unit a
    * streaming wave reuses verbatim ([[graft.streaming.StreamBitext]]):
    * whatever rows arrive in `batchDv` ARE the wave, no further
    * slicing. */
  private[graft] def mineWave(batchDv: DataFrame, candDv: DataFrame,
                              useCell: Boolean): DataFrame =
    mineWave(batchDv, candDv, if (useCell) MaskCell else MaskAll)

  /** Core pipeline. `materialize = false` skips the two read-twice
    * localCheckpoints so the WHOLE pipeline is one lazy plan — only for
    * plan locking/auditing ([[pipelinePlans]]); production always
    * materializes (each checkpointed segment is read twice). */
  private[sim] def mineWave(batchDv: DataFrame, candDv: DataFrame,
                            mask: CandMask,
                            materialize: Boolean = true): DataFrame = {
    import SimilarityQueries.dot
    def mat(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(true) else df
    def withNorm(df: DataFrame) =
      df.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
    val base = struct(col("doc_id").as("src_id"),
      col("embedding").as("semb"), col("nrm").as("snrm"))
    val batchStruct = mask match {
      case MaskAll => base
      case MaskCell =>
        struct(col("doc_id").as("src_id"), col("embedding").as("semb"),
          col("nrm").as("snrm"), col("cell").as("scell"))
      case MaskProbes | MaskChosen =>
        struct(col("doc_id").as("src_id"), col("embedding").as("semb"),
          col("nrm").as("snrm"), col("pcells").as("spcells"))
    }
    val batch = withNorm(batchDv)
      .agg(collect_list(batchStruct).as("batch"))
    // candidate scan: cosines to the (cell/probe-masked) batch + own
    // top-k penalty, computed in-row — zero shuffle until the pair
    // explode
    val cands = withNorm(candDv)
      .crossJoin(broadcast(batch))
      .withColumn("cand", mask match {
        case MaskAll => col("batch")
        case MaskCell =>
          filter(col("batch"), b => b.getField("scell") === col("cell"))
        case MaskProbes =>
          filter(col("batch"),
            b => array_contains(b.getField("spcells"), col("cell")))
        case MaskChosen =>
          // the candidate's language-chosen depth slices the batch
          // side's full-depth probe ranking — P(1)..P(nprobe) is exactly
          // the uniform-depth-nprobe probe set, so the tuned single pass
          // equals per-depth uniform runs restricted to each language
          filter(col("batch"), b => array_contains(
            slice(b.getField("spcells"), lit(1), col("nprobe").cast("int")),
            col("cell")))
      })
      .withColumn("cosb", transform(col("cand"), b =>
        dot(col("embedding"), b.getField("semb")) /
          (col("nrm") * b.getField("snrm"))))
      .withColumn("y_pen", topkMean(col("cosb")))
    val pairs = mat(cands
      .select(col("doc_id").as("tgt_id"), col("lang").as("tgt_lang"),
        col("y_pen"), explode(arrays_zip(col("cand"), col("cosb"))).as("z"))
      .select(col("z.cand.src_id").as("src_id"), col("tgt_id"),
        col("tgt_lang"), col("z.cosb").as("cos"), col("y_pen")))
      // read twice (x-penalty aggregation + margin join) — materialize
      // once, nothing pinned after the action completes (house pattern)
    // x-side penalty: top-k per (query, lang) — WindowGroupLimit keeps
    // the exchange at ≤ NnK rows per group per partition; the k survivors
    // are re-sorted into one list so the fold order matches the oracle
    val xw = Window.partitionBy(col("src_id"), col("tgt_lang"))
      .orderBy(col("cos").desc, col("tgt_id").asc)
    val xpen = pairs.withColumn("rk", row_number().over(xw))
      .filter(col("rk") <= NnK)
      .groupBy("src_id", "tgt_lang")
      .agg(topkMean(collect_list(col("cos"))).as("x_pen"))
    val margins = mat(pairs.join(broadcast(xpen), Seq("src_id", "tgt_lang"))
      .withColumn("margin",
        col("cos") / greatest((col("x_pen") + col("y_pen")) / 2, lit(PenEps))))
      // read twice (forward + backward argmax) — same discipline
    val fw = Window.partitionBy(col("src_id"), col("tgt_lang"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    val bw = Window.partitionBy(col("tgt_id"))
      .orderBy(col("margin").desc, col("src_id").asc)
    val fwd = margins.withColumn("rk", row_number().over(fw))
      .filter(col("rk") === 1)
      .select(col("src_id"), col("tgt_lang"), col("tgt_id"),
        col("cos"), col("margin"))
    val bwd = margins.withColumn("rk", row_number().over(bw))
      .filter(col("rk") === 1)
      .select(col("tgt_id").as("b_tgt"), col("src_id").as("b_src"))
    fwd.join(broadcast(bwd),
        col("tgt_id") === col("b_tgt") && col("src_id") === col("b_src"),
        "left")
      .select(col("src_id"), col("tgt_lang"), col("tgt_id"),
        col("cos"), col("margin"), col("b_src").isNotNull.as("mutual"))
  }

  /** Forward-best relation, exhaustive candidates. Exposed
    * relation-first so specs can mine planted geometries. */
  def forwardBest(dv: DataFrame): DataFrame = mineOver(dv, MaskAll)

  /** The doc-vector relation with each row's quantizer cell joined in;
    * also records the trained centroids for the dynamic oracles (the
    * [[Ivf]] `lastIvfOracle` pattern). */
  private def docVecsWithCell(s: SparkSession, dir: String): DataFrame = {
    val (assigned, centers) = Ivf.assignments(s, dir)
    synchronized { lastCenters = Some(centers) }
    docVecs(s, dir)
      .join(assigned.select(col("vec_id").as("doc_id"), col("cell")), "doc_id")
  }

  /** Forward-best relation, candidates pruned to the query's IVF cell
    * (the memoized corpus quantizer). */
  def forwardBestIvf(s: SparkSession, dir: String): DataFrame =
    mineOver(docVecsWithCell(s, dir), MaskCell)

  /** Forward-best relation, candidates pruned to the query's top-`np`
    * probe cells — the multiprobe production regime: pair cost np/cells
    * of brute, recall above the certified single-probe floor. */
  def forwardBestMultiprobe(s: SparkSession, dir: String,
                            np: Int = MineNProbe): DataFrame = {
    val dvc = docVecsWithCell(s, dir)
    val centers = synchronized(lastCenters).get
    mineWave(
      batchSlice(dvc).withColumn("pcells", probeCellsExpr(centers, np)),
      candSlice(dvc), MaskProbes)
  }

  /** The pruned wave pipeline over EXPLICIT relations — the unit the
    * streaming face reuses verbatim
    * ([[graft.streaming.StreamBitext.mineWavesPruned]]): batch queries
    * get their top-`np` probe cells from the provided centers (the
    * shipped quantizer artifact — [[IvfModel]]'s reload path at 100 TB);
    * candidates must already carry their `cell` assignment. */
  def mineWavePruned(batchDv: DataFrame, candDvWithCell: DataFrame,
                     centers: Array[Array[Double]],
                     np: Int = MineNProbe): DataFrame =
    mineWave(batchDv.withColumn("pcells", probeCellsExpr(centers, np)),
      candDvWithCell, MaskProbes)

  /** The TUNED wave pipeline: each candidate language mines at ITS
    * certified minimal probe depth, read from `choice(lang, nprobe)` —
    * the per-language table [[bitextProbeChoice]] certifies (shipped
    * next to the quantizer artifact in production). Batch queries carry
    * their FULL-depth probe ranking once; each candidate slices it to
    * its language's depth in-row, so the whole wave is still ONE
    * zero-shuffle candidate scan and pair cost is Σ_lang P(lang)/cells
    * of brute — the dial the recall curve built, finally turned. A
    * language absent from the choice table mines at the global
    * [[MineNProbe]] default (left join + coalesce), so an uncertified
    * language degrades to the round-11 behavior instead of vanishing. */
  def mineWaveChosen(batchDv: DataFrame, candDvWithCell: DataFrame,
                     centers: Array[Array[Double]],
                     choice: DataFrame): DataFrame =
    mineWave(
      batchDv.withColumn("pcells", probeCellsExpr(centers, centers.length)),
      candDvWithCell.join(broadcast(choice), Seq("lang"), "left")
        .withColumn("nprobe",
          coalesce(col("nprobe").cast("int"), lit(MineNProbe))),
      MaskChosen)

  /** Forward-best relation with per-language probe depths from the
    * certified choice table — the production regime the
    * `bitext_mine_tuned` gate serves. */
  def forwardBestTuned(s: SparkSession, dir: String): DataFrame = {
    val dvc = docVecsWithCell(s, dir)
    val centers = synchronized(lastCenters).get
    val choice = bitextProbeChoice(s, dir)
      .select(col("tgt_lang").as("lang"), col("chosen_probe").as("nprobe"))
    mineWaveChosen(batchSlice(dvc), candSlice(dvc), centers, choice)
  }

  /** The three mining pipelines UN-materialized (one lazy plan each) —
    * the pre-checkpoint shapes `plans_aux.lock` digest-pins and
    * PlanAuditSpec asserts on. The production gates serve memoized
    * checkpoints, so their own gate plans are trivial; these are the
    * plans that actually run. */
  private[graft] def pipelinePlans(s: SparkSession,
                                   dir: String): Seq[(String, DataFrame)] = {
    val dv = docVecs(s, dir)
    val dvc = docVecsWithCell(s, dir)
    val centers = synchronized(lastCenters).get
    Seq(
      "bitext_pipeline_brute" ->
        mineWave(batchSlice(dv), candSlice(dv), MaskAll, materialize = false),
      "bitext_pipeline_ivf" ->
        mineWave(batchSlice(dvc), candSlice(dvc), MaskCell,
          materialize = false),
      "bitext_pipeline_multiprobe" ->
        mineWave(batchSlice(dvc)
            .withColumn("pcells", probeCellsExpr(centers, MineNProbe)),
          candSlice(dvc), MaskProbes, materialize = false),
      // the tuned pipeline with a tiny literal choice stand-in (the
      // streaming-lock discipline: the PLAN shape is what's pinned, and
      // it does not depend on the choice table's contents — production
      // reads the shipped per-language table instead)
      "bitext_pipeline_tuned" ->
        mineWave(batchSlice(dvc)
            .withColumn("pcells", probeCellsExpr(centers, Ivf.NLists)),
          candSlice(dvc)
            .join(broadcast(
              s.range(1).selectExpr("'xx' AS lang", "2L AS nprobe")),
              Seq("lang"), "left")
            .withColumn("nprobe",
              coalesce(col("nprobe").cast("int"), lit(MineNProbe))),
          MaskChosen, materialize = false))
  }

  @volatile private var lastCenters: Option[Array[Array[Double]]] = None

  // Memoized mined relations, each keyed on both tables: four gates share
  // the brute and single-cell relations, and every build ends in a
  // localCheckpoint so the memo hands back a materialized relation.
  private[graft] val bruteMemo = Memo("documents", "embeddings") { (s, dir) =>
    forwardBest(docVecs(s, dir)).localCheckpoint(true)
  }

  private[graft] val ivfMemo = Memo("documents", "embeddings") { (s, dir) =>
    forwardBestIvf(s, dir).localCheckpoint(true)
  }

  // one memo per interior probe depth (the recall curve sweeps them; the
  // gate and the curve share the default), each with its own lock so
  // [[warmProbes]] overlaps the depths
  private val probeMemos: Map[Int, Memo[DataFrame]] =
    MineProbes.filter(np => np > 1 && np < Ivf.NLists).map { np =>
      np -> Memo("documents", "embeddings") { (s, dir) =>
        forwardBestMultiprobe(s, dir, np).localCheckpoint(true)
      }
    }.toMap

  /** Forward-best relation at probe depth `np`, riding the exact-alias
    * endpoints: P=1 IS the single-cell regime (top-1 probe = assignment
    * cell) and P≥NLists IS brute (every cell probed ⇒ full batch
    * retrieved) — both proven by MineProbes' construction, so the curve
    * reuses those memos instead of re-mining. */
  private def fwdFor(s: SparkSession, dir: String, np: Int): DataFrame =
    if (np <= 1) ivfMemo(s, dir)
    else if (np >= Ivf.NLists) bruteMemo(s, dir)
    else probeMemos(np)(s, dir)

  // memoized tuned relation (gate + plan digest share it)
  private[graft] val tunedMemo = Memo("documents", "embeddings") { (s, dir) =>
    forwardBestTuned(s, dir).localCheckpoint(true)
  }

  /** Bench attribution of the interior probe depths, which overlap: the
    * quantizer memo is warmed first, then each depth's wave (independent
    * reads of the same warm memos) back-fills the executor slots the
    * others' stage tails leave idle (§2.6; graft.Pools bounds the wait
    * and cancels siblings on failure). */
  def warmProbes(s: SparkSession, dir: String): Unit = {
    Ivf.assignments(s, dir)
    graft.Pools.runAll(s, "bitext-probes")(
      probeMemos.toSeq.sortBy(_._1).map { case (_, m) => () => m(s, dir) })
    ()
  }

  /** Gate: mined pairs — forward-best candidates above the margin
    * threshold, with the mutual (intersection-variant) flag. */
  def bitextMine(s: SparkSession, dir: String): DataFrame =
    bruteMemo(s, dir)
      .filter(col("margin") >= MarginThresh)
      .select(col("src_id"), col("tgt_lang"), col("tgt_id"),
        round(col("cos"), 4).as("cosine"),
        round(col("margin"), 4).as("margin"), col("mutual"))

  /** Gate: mined pairs from the IVF-pruned candidate regime (single
    * probe — the recall FLOOR; the production dial is
    * [[bitextMineMultiprobe]]). */
  def bitextMineIvf(s: SparkSession, dir: String): DataFrame =
    ivfMemo(s, dir)
      .filter(col("margin") >= MarginThresh)
      .select(col("src_id"), col("tgt_lang"), col("tgt_id"),
        round(col("cos"), 4).as("cosine"),
        round(col("margin"), 4).as("margin"), col("mutual"))

  /** Gate: mined pairs from the multiprobe regime at [[MineNProbe]] —
    * the plan that runs at 100 TB (pair cost × P/cells of brute;
    * penalties over what the index returns; recall materially above the
    * certified single-probe floor — `bitext_recall_curve` measures
    * exactly how far). */
  def bitextMineMultiprobe(s: SparkSession, dir: String): DataFrame =
    fwdFor(s, dir, MineNProbe)
      .filter(col("margin") >= MarginThresh)
      .select(col("src_id"), col("tgt_lang"), col("tgt_id"),
        round(col("cos"), 4).as("cosine"),
        round(col("margin"), 4).as("margin"), col("mutual"))

  /** Gate: mined pairs from the TUNED regime — the certification →
    * choice → production loop CLOSED: each target language mines at the
    * minimal probe depth [[bitextProbeChoice]] certified against the
    * exhaustive miner (per-language recall ≥
    * [[RecallTargetNum]]/[[RecallTargetDen]] of brute BY CONSTRUCTION of
    * the choice), instead of the fixed global [[MineNProbe]]. The
    * `chosen_probe` column states each pair's mining depth so the
    * output is self-describing for a release review. */
  def bitextMineTuned(s: SparkSession, dir: String): DataFrame = {
    val choice = bitextProbeChoice(s, dir)
      .select(col("tgt_lang"), col("chosen_probe"))
    tunedMemo(s, dir)
      .filter(col("margin") >= MarginThresh)
      .join(broadcast(choice), "tgt_lang")
      .select(col("src_id"), col("tgt_lang"), col("tgt_id"),
        round(col("cos"), 4).as("cosine"),
        round(col("margin"), 4).as("margin"), col("mutual"),
        col("chosen_probe"))
  }

  /** The cross-lingual decontamination wave over an explicit
    * doc-vector relation: queries are the SOURCE-language eval docs
    * (the engine-wide `doc_id < DecontamEvalDocs` eval slice — ALL of
    * them, not the QMod mining slice: decontamination must consider
    * every benchmark doc), candidates the whole non-source corpus,
    * exhaustively (the careful regime — a missed translation is eval
    * leakage). Relation-first for the planted-geometry spec. */
  def decontamOver(dv: DataFrame): DataFrame =
    mineWave(
      dv.filter(col("lang") === SrcLang &&
        col("doc_id") < graft.dedup.DedupQueries.DecontamEvalDocs),
      candSlice(dv), MaskAll)

  // memoized decontam wave (one gate + spec reuse)
  private[graft] val evalMemo = Memo("documents", "embeddings") { (s, dir) =>
    decontamOver(docVecs(s, dir)).localCheckpoint(true)
  }

  /** Gate: TRANSLATED eval contamination — the leakage path string
    * decontamination (`decontaminate`, `decontam_semantic`)
    * structurally cannot see: a benchmark document's TRANSLATION in the
    * training corpus shares no shingles and lives in another language's
    * embedding neighborhood. For every eval doc (the shared
    * `DecontamEvalDocs` slice) and every other language, the
    * forward-best candidate above the ratio-margin threshold is flagged
    * as a translation of the benchmark — the drop list a multilingual
    * corpus applies before release (CCMatrix-style mining turned
    * defensive). Forward-best per (eval, lang) matches the mining
    * semantics: a benchmark has at most one translation per language,
    * and the margin — not raw cosine — is what separates a translation
    * from a topically-near hub. */
  def bitextDecontam(s: SparkSession, dir: String): DataFrame =
    evalMemo(s, dir)
      .filter(col("margin") >= MarginThresh)
      .select(col("src_id").as("eval_id"), col("tgt_lang"),
        col("tgt_id"), round(col("cos"), 4).as("cosine"),
        round(col("margin"), 4).as("margin"), col("mutual"))

  /** Gate: recall vs probe depth — per (nprobe, language), how many
    * pairs the exhaustive miner finds, how many the probed miner finds,
    * and the overlap (the `ivf_recall_curve` pattern applied to
    * mining). The dial readout behind [[MineNProbe]]: uniform random
    * fixture embeddings are ANN's worst case, so these are recall
    * FLOORS. Endpoints ride the single-cell and brute memos (exact
    * aliases — see [[fwdFor]]); only the interior depths mine fresh. */
  def bitextRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val langs = Tables.parallel(s, dir, "documents")
      .filter(col("lang") =!= SrcLang)
      .select(col("lang").as("tgt_lang")).distinct()
    val grid = langs.crossJoin(
      s.range(1).select(
        explode(array(MineProbes.map(p => lit(p.toLong)): _*)).as("nprobe")))
    val brute = bruteMemo(s, dir)
      .filter(col("margin") >= MarginThresh)
      .select(col("src_id"), col("tgt_lang"), col("tgt_id"))
    val pruned = MineProbes.map { np =>
      fwdFor(s, dir, np)
        .filter(col("margin") >= MarginThresh)
        .select(lit(np.toLong).as("nprobe"), col("src_id"),
          col("tgt_lang"), col("tgt_id"))
    }.reduce(_.unionByName(_))
    val nb = brute.groupBy("tgt_lang").agg(count(lit(1)).as("n_brute"))
    val ni = pruned.groupBy("nprobe", "tgt_lang")
      .agg(count(lit(1)).as("n_probe"))
    // brute mined pairs are |batch| × langs-bounded — broadcast so the
    // overlap join never sort-merges the probed union
    val nc = pruned.join(broadcast(brute), Seq("src_id", "tgt_lang", "tgt_id"))
      .groupBy("nprobe", "tgt_lang").agg(count(lit(1)).as("n_common"))
    grid.join(broadcast(nb), Seq("tgt_lang"), "left")
      .join(broadcast(ni), Seq("nprobe", "tgt_lang"), "left")
      .join(broadcast(nc), Seq("nprobe", "tgt_lang"), "left")
      .select(col("nprobe"), col("tgt_lang"),
        coalesce(col("n_brute"), lit(0L)).as("n_brute"),
        coalesce(col("n_probe"), lit(0L)).as("n_probe"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
  }

  /** Gate: per-language mining calibration — the readout that decides
    * per-language thresholds in production (mining yield varies by
    * language distance; CCMatrix tunes thresholds per pair). Counts plus
    * order-free margin extremes over the forward-best relation. */
  def bitextLangStats(s: SparkSession, dir: String): DataFrame =
    bruteMemo(s, dir)
      .groupBy("tgt_lang")
      .agg(count(lit(1)).as("n_best"),
        sum(when(col("margin") >= MarginThresh, 1L).otherwise(0L))
          .as("n_mined"),
        sum(when(col("margin") >= MarginThresh && col("mutual"), 1L)
          .otherwise(0L)).as("n_mutual"),
        round(min(col("margin")), 4).as("min_margin"),
        round(max(col("margin")), 4).as("max_margin"))

  /** Thresholds swept by the calibration curve (the paper's operating
    * range, bracketing [[MarginThresh]]). */
  val CurveThresholds = Seq(1.05, 1.10, 1.15, 1.20, 1.25)

  /** Gate: the threshold calibration curve — mined/mutual yield per
    * (threshold, language), the dial readout behind choosing
    * [[MarginThresh]] (precision rises and yield falls with the
    * threshold; CCMatrix publishes exactly this curve). Rides the
    * memoized forward-best relation: a 5-way literal explode + one
    * rollup, nearly free. */
  def bitextMarginCurve(s: SparkSession, dir: String): DataFrame =
    bruteMemo(s, dir)
      .select(col("tgt_lang"), col("margin"), col("mutual"),
        explode(array(CurveThresholds.map(lit): _*)).as("threshold"))
      .groupBy("threshold", "tgt_lang")
      .agg(
        sum(when(col("margin") >= col("threshold"), 1L).otherwise(0L))
          .as("n_mined"),
        sum(when(col("margin") >= col("threshold") && col("mutual"), 1L)
          .otherwise(0L)).as("n_mutual"))

  /** Gate: the pruned miner's certification — per language, how many
    * pairs the exhaustive miner finds, how many the IVF-pruned miner
    * finds, and the overlap. The recall readout that decides nprobe in
    * production; uniform random fixture embeddings are ANN's worst
    * case, so these numbers are the recall FLOOR. */
  def bitextIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val langs = Tables.parallel(s, dir, "documents")
      .filter(col("lang") =!= SrcLang)
      .select(col("lang").as("tgt_lang")).distinct()
    val brute = bruteMemo(s, dir)
      .filter(col("margin") >= MarginThresh)
      .select(col("src_id"), col("tgt_lang"), col("tgt_id"))
    val pruned = ivfMemo(s, dir)
      .filter(col("margin") >= MarginThresh)
      .select(col("src_id"), col("tgt_lang"), col("tgt_id"))
    val nb = brute.groupBy("tgt_lang").agg(count(lit(1)).as("n_brute"))
    val ni = pruned.groupBy("tgt_lang").agg(count(lit(1)).as("n_ivf"))
    val nc = brute.join(pruned, Seq("src_id", "tgt_lang", "tgt_id"))
      .groupBy("tgt_lang").agg(count(lit(1)).as("n_common"))
    langs.join(broadcast(nb), Seq("tgt_lang"), "left")
      .join(broadcast(ni), Seq("tgt_lang"), "left")
      .join(broadcast(nc), Seq("tgt_lang"), "left")
      .select(col("tgt_lang"),
        coalesce(col("n_brute"), lit(0L)).as("n_brute"),
        coalesce(col("n_ivf"), lit(0L)).as("n_ivf"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
  }

  /** Per-language recall target for the probe-depth choice: the chosen
    * depth is the smallest P whose curve recall reaches Num/Den (80 %)
    * of the exhaustive miner. Integer cross-multiplication only. */
  val RecallTargetNum = 8L
  val RecallTargetDen = 10L

  /** Gate: the dial CHOICE the recall curve exists to set — per
    * language, the minimal probe depth whose recall meets
    * [[RecallTargetNum]]/[[RecallTargetDen]], with the curve row it was
    * chosen on. A row always exists: at P = NLists the probed relation
    * IS brute (n_common = n_brute), which satisfies any target ≤ 1.
    * This is the per-language nprobe table a production miner ships
    * next to the index (CCMatrix tunes exactly this per pair) —
    * certification → choice, closed loop. Cost: a 5-row-per-language
    * window over the memo-riding curve relation. */
  def bitextProbeChoice(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("tgt_lang")).orderBy(col("nprobe").asc)
    bitextRecallCurve(s, dir)
      .filter(col("n_common") * RecallTargetDen >=
        col("n_brute") * RecallTargetNum)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("tgt_lang"), col("nprobe").as("chosen_probe"),
        col("n_brute"), col("n_probe"), col("n_common"))
  }

  /** Gate: the threshold CHOICE the margin calibration curve exists to
    * set — per language, the MINIMAL sweep threshold at which every
    * mined pair is mutual-best (the paper's strictest "intersection"
    * criterion, the precision proxy an unlabeled miner has: a
    * forward-best pair that is not ALSO its target's best query is the
    * hub/topical-near shape margins exist to suppress). Languages where
    * no sweep point reaches full mutuality take the strictest threshold
    * with `met_target = false` — a total choice (the probe-choice
    * always-exists discipline), conservatively mining least where
    * calibration failed. Zero-yield sweep points do not qualify (0/0
    * mutuality is vacuous, not calibrated). Cost: a 5-rows-per-language
    * window over the memo-riding margin curve. */
  def bitextThresholdChoice(s: SparkSession, dir: String): DataFrame = {
    val curve = bitextMarginCurve(s, dir)
    val w = Window.partitionBy(col("tgt_lang")).orderBy(col("threshold").asc)
    val sat = curve
      .filter(col("n_mined") > 0L && col("n_mutual") === col("n_mined"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("tgt_lang"), col("threshold").as("chosen_threshold"),
        col("n_mined"), col("n_mutual"), lit(true).as("met_target"))
    val fallback = curve
      .filter(col("threshold") === CurveThresholds.max)
      .join(sat.select(col("tgt_lang")), Seq("tgt_lang"), "left_anti")
      .select(col("tgt_lang"), col("threshold").as("chosen_threshold"),
        col("n_mined"), col("n_mutual"), lit(false).as("met_target"))
    sat.unionByName(fallback)
  }

  /** Cut a forward-best relation at per-language thresholds
    * (`thresh(tgt_lang, chosen_threshold)`), languages ABSENT from the
    * table degrading to the global [[MarginThresh]] (left join +
    * coalesce — the [[mineWaveChosen]] depth-fallback law applied to
    * the second dial): a language the dial artifact predates mines at
    * the round-11 defaults instead of silently vanishing. Shared by the
    * batch gate and [[graft.streaming.StreamBitext
    * .mineWavesCalibrated]]. */
  def applyThresholds(fwd: DataFrame, thresh: DataFrame): DataFrame =
    fwd.join(broadcast(thresh), Seq("tgt_lang"), "left")
      .withColumn("chosen_threshold",
        coalesce(col("chosen_threshold"), lit(MarginThresh)))
      .filter(col("margin") >= col("chosen_threshold"))

  /** Gate: the fully-calibrated production miner — BOTH certified
    * per-language dials consumed: candidates retrieve at the language's
    * chosen probe depth ([[bitextProbeChoice]], the tuned wave) and
    * pairs are cut at the language's chosen margin threshold
    * ([[bitextThresholdChoice]]) instead of the global
    * [[MarginThresh]]. The relation a 100 TB mining job actually
    * publishes; each row states both dials it was mined under. */
  def bitextMineCalibrated(s: SparkSession, dir: String): DataFrame = {
    val th = bitextThresholdChoice(s, dir)
      .select(col("tgt_lang"), col("chosen_threshold"))
    val pc = bitextProbeChoice(s, dir)
      .select(col("tgt_lang"), col("chosen_probe"))
    // the gate's dials are total by construction (both choices emit a
    // row per language); applyThresholds' fallback is inert here but
    // keeps the gate on the same code path as the streaming loop
    applyThresholds(tunedMemo(s, dir), th)
      .join(broadcast(pc), "tgt_lang")
      .select(col("src_id"), col("tgt_lang"), col("tgt_id"),
        round(col("cos"), 4).as("cosine"),
        round(col("margin"), 4).as("margin"), col("mutual"),
        col("chosen_probe"), col("chosen_threshold"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bitext_mine" -> bitextMine,
    "bitext_mine_ivf" -> bitextMineIvf,
    "bitext_mine_multiprobe" -> bitextMineMultiprobe,
    "bitext_lang_stats" -> bitextLangStats,
    "bitext_margin_curve" -> bitextMarginCurve,
    "bitext_ivf_recall" -> bitextIvfRecall,
    "bitext_recall_curve" -> bitextRecallCurve,
    "bitext_probe_choice" -> bitextProbeChoice,
    "bitext_mine_tuned" -> bitextMineTuned,
    "bitext_threshold_choice" -> bitextThresholdChoice,
    "bitext_mine_calibrated" -> bitextMineCalibrated,
    "bitext_decontam" -> bitextDecontam)

  /** The margin pipeline in SQL, reading `${p}pairs(src_id, tgt_id,
    * tgt_lang, cos)` and ending in `${p}fwd(src_id, tgt_lang, tgt_id,
    * cos, margin, mutual)`. Penalty folds mirror Spark's sorted-slice
    * order exactly. */
  private def marginChain(p: String): String =
    s"""${p}xpen AS (SELECT src_id, tgt_lang,
      |           list_sum(list_sort(list(cos), 'DESC'))
      |             / greatest(least(len(list(cos)), $NnK), 1) AS x_pen
      |         FROM (SELECT *, row_number() OVER (
      |                 PARTITION BY src_id, tgt_lang
      |                 ORDER BY cos DESC, tgt_id ASC) AS rk FROM ${p}pairs)
      |         WHERE rk <= $NnK GROUP BY 1, 2),
      |${p}ypen AS (SELECT tgt_id,
      |           list_sum(list_slice(list_sort(list(cos), 'DESC'), 1, $NnK))
      |             / greatest(least(len(list(cos)), $NnK), 1) AS y_pen
      |         FROM ${p}pairs GROUP BY 1),
      |${p}m AS (SELECT q.*,
      |      q.cos / greatest((x.x_pen + y.y_pen) / 2, ${Ivf.fmtD(PenEps)})
      |        AS margin
      |      FROM ${p}pairs q
      |      JOIN ${p}xpen x ON x.src_id = q.src_id AND x.tgt_lang = q.tgt_lang
      |      JOIN ${p}ypen y ON y.tgt_id = q.tgt_id),
      |${p}fwd0 AS (SELECT * FROM (SELECT *, row_number() OVER (
      |           PARTITION BY src_id, tgt_lang
      |           ORDER BY margin DESC, tgt_id ASC) AS rk FROM ${p}m)
      |         WHERE rk = 1),
      |${p}bwd AS (SELECT tgt_id, src_id FROM (SELECT *, row_number() OVER (
      |          PARTITION BY tgt_id
      |          ORDER BY margin DESC, src_id ASC) AS rk FROM ${p}m)
      |        WHERE rk = 1),
      |${p}fwd AS (SELECT f.src_id, f.tgt_lang, f.tgt_id, f.cos, f.margin,
      |          (b.src_id IS NOT NULL) AS mutual
      |        FROM ${p}fwd0 f LEFT JOIN ${p}bwd b
      |          ON b.tgt_id = f.tgt_id AND b.src_id = f.src_id)""".stripMargin

  /** The doc↔vector join with norms, split into batch and candidates;
    * `srcWhere` selects the query wave (default: the gate's QMod/QCap
    * slice). */
  private def dvCtesWith(srcWhere: String): String =
    s"""dv AS (SELECT d.doc_id, d.lang, e.embedding
      |        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
      |src AS (SELECT doc_id, embedding,
      |          sqrt(${SimilarityQueries.sqlDot("embedding", "embedding")}) AS nrm
      |        FROM dv WHERE $srcWhere),
      |tgt AS (SELECT doc_id, lang, embedding,
      |          sqrt(${SimilarityQueries.sqlDot("embedding", "embedding")}) AS nrm
      |        FROM dv WHERE lang <> '$SrcLang')""".stripMargin

  private def dvCtes: String = dvCtesWith(
    s"lang = '$SrcLang' AND doc_id % $QMod = 0 AND doc_id < $QCap")

  /** Exhaustive pair relation over [[dvCtes]]. */
  private def brutePairs(p: String): String = {
    val dot = SimilarityQueries.sqlDot("s.embedding", "t.embedding")
    s"""${p}pairs AS (SELECT s.doc_id AS src_id, t.doc_id AS tgt_id,
      |            t.lang AS tgt_lang, $dot / (s.nrm * t.nrm) AS cos
      |          FROM src s JOIN tgt t ON true)""".stripMargin
  }

  /** The quantizer replayed from the trained centroid LITERALS (the
    * [[Ivf.ivfOracleSql]] assignment CTE): per-(doc, centroid) scores
    * and the argmin assignment — shared by every pruned pair
    * relation. */
  private def quantizerCtes(centers: Array[Array[Double]]): String = {
    val rows = centers.zipWithIndex.map { case (c, j) =>
      s"($j, ${Ivf.fmtD(c.map(x => x * x).sum)}, " +
        s"[${c.map(Ivf.fmtD).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""cents(j, c2, c) AS (VALUES
      |    $rows),
      |asc0 AS (SELECT v.doc_id, c.j,
      |         c.c2 - 2 * (${SimilarityQueries.sqlDot("v.embedding", "c.c")})
      |           / sqrt(${SimilarityQueries.sqlDot("v.embedding", "v.embedding")})
      |           AS score
      |       FROM dv v CROSS JOIN cents c),
      |asg AS (SELECT doc_id, j AS cell
      |        FROM (SELECT *, row_number() OVER (
      |                PARTITION BY doc_id ORDER BY score ASC, j ASC) AS rn
      |              FROM asc0)
      |        WHERE rn = 1)""".stripMargin
  }

  /** Single-probe pair relation over [[quantizerCtes]]: pairs kept iff
    * query and candidate share a cell. */
  private def cellPairsCte(p: String): String = {
    val dot = SimilarityQueries.sqlDot("s.embedding", "t.embedding")
    s"""${p}pairs AS (SELECT s.doc_id AS src_id, t.doc_id AS tgt_id,
      |            t.lang AS tgt_lang, $dot / (s.nrm * t.nrm) AS cos
      |          FROM src s
      |          JOIN asg sa ON sa.doc_id = s.doc_id
      |          JOIN asg ta ON true
      |          JOIN tgt t ON t.doc_id = ta.doc_id
      |          WHERE sa.cell = ta.cell)""".stripMargin
  }

  /** Multiprobe pair relation over [[quantizerCtes]]: each query's
    * top-`np` probe cells (the same (score, j) ranking the assignment
    * argmin minimizes), pairs kept iff the candidate's cell is in the
    * query's probe set — each pair at most once (probe cells are
    * distinct; the candidate's assignment is unique). */
  private def probePairsCte(p: String, np: Int): String = {
    val dot = SimilarityQueries.sqlDot("s.embedding", "t.embedding")
    s"""${p}qp AS (SELECT doc_id, j AS cell
      |       FROM (SELECT a0.doc_id, a0.j, row_number() OVER (
      |               PARTITION BY a0.doc_id
      |               ORDER BY a0.score ASC, a0.j ASC) AS rn
      |             FROM asc0 a0 JOIN src s ON s.doc_id = a0.doc_id)
      |       WHERE rn <= $np),
      |${p}pairs AS (SELECT s.doc_id AS src_id, t.doc_id AS tgt_id,
      |            t.lang AS tgt_lang, $dot / (s.nrm * t.nrm) AS cos
      |          FROM src s
      |          JOIN ${p}qp sp ON sp.doc_id = s.doc_id
      |          JOIN asg ta ON ta.cell = sp.cell
      |          JOIN tgt t ON t.doc_id = ta.doc_id)""".stripMargin
  }

  /** Back-compat composition: quantizer + single-probe pairs. */
  private def ivfPairs(p: String, centers: Array[Array[Double]]): String =
    s"""${quantizerCtes(centers)},
      |${cellPairsCte(p)}""".stripMargin

  private def minedSelect(p: String): String =
    s"""SELECT src_id, tgt_lang, tgt_id, round(cos, 4) AS cosine,
      |  round(margin, 4) AS margin, mutual
      |FROM ${p}fwd WHERE margin >= $MarginThresh""".stripMargin

  /** The recall-vs-probes curve in SQL, as (CTE chain, final SELECT) so
    * the probe-choice oracle can wrap the curve as its own CTE: brute +
    * single-cell chains plus one probe chain per interior depth
    * (endpoints alias the brute / single-cell relations exactly as the
    * engine's [[fwdFor]] does). */
  private def recallCurveParts(
      centers: Array[Array[Double]]): (String, String) = {
    val interior = MineProbes.filter(p => p > 1 && p < Ivf.NLists)
    val probeChains = interior.map { np =>
      s"""${probePairsCte(s"p$np", np)},
        |${marginChain(s"p$np")}""".stripMargin
    }.mkString(",\n")
    val prArms =
      (s"""SELECT 1::BIGINT AS nprobe, src_id, tgt_lang, tgt_id
         |  FROM ifwd WHERE margin >= $MarginThresh""".stripMargin +:
        interior.map { np =>
          s"""SELECT ${np}::BIGINT, src_id, tgt_lang, tgt_id
            |  FROM p${np}fwd WHERE margin >= $MarginThresh""".stripMargin
        } :+
        s"""SELECT ${Ivf.NLists}::BIGINT, src_id, tgt_lang, tgt_id
          |  FROM minedb""".stripMargin)
        .mkString("\nUNION ALL\n")
    val ctes =
      s"""$dvCtes,
        |${quantizerCtes(centers)},
        |${brutePairs("b")},
        |${marginChain("b")},
        |${cellPairsCte("i")},
        |${marginChain("i")},
        |$probeChains,
        |minedb AS (SELECT src_id, tgt_lang, tgt_id FROM bfwd
        |       WHERE margin >= $MarginThresh),
        |pr AS (
        |$prArms),
        |langs AS (SELECT DISTINCT lang AS tgt_lang FROM documents
        |          WHERE lang <> '$SrcLang'),
        |grid AS (SELECT p.nprobe, l.tgt_lang FROM langs l CROSS JOIN
        |         (SELECT unnest([${MineProbes.mkString(", ")}]::BIGINT[])
        |            AS nprobe) p),
        |cb AS (SELECT tgt_lang, count(*) AS n_brute FROM minedb GROUP BY 1),
        |ci AS (SELECT nprobe, tgt_lang, count(*) AS n_probe FROM pr
        |       GROUP BY 1, 2),
        |cc AS (SELECT p.nprobe, p.tgt_lang, count(*) AS n_common
        |       FROM pr p JOIN minedb b ON b.src_id = p.src_id
        |         AND b.tgt_lang = p.tgt_lang AND b.tgt_id = p.tgt_id
        |       GROUP BY 1, 2)""".stripMargin
    val select =
      s"""SELECT g.nprobe, g.tgt_lang,
        |  coalesce(cb.n_brute, 0)::BIGINT AS n_brute,
        |  coalesce(ci.n_probe, 0)::BIGINT AS n_probe,
        |  coalesce(cc.n_common, 0)::BIGINT AS n_common
        |FROM grid g
        |LEFT JOIN cb USING (tgt_lang)
        |LEFT JOIN ci USING (nprobe, tgt_lang)
        |LEFT JOIN cc USING (nprobe, tgt_lang)""".stripMargin
    (ctes, select)
  }

  private def recallCurveSql(centers: Array[Array[Double]]): String = {
    val (ctes, select) = recallCurveParts(centers)
    s"WITH $ctes\n$select"
  }

  /** Probe-choice oracle: the curve wrapped as a CTE, the integer
    * recall-target filter, min-nprobe per language. */
  private def probeChoiceSql(centers: Array[Array[Double]]): String = {
    val (ctes, select) = recallCurveParts(centers)
    s"""WITH $ctes,
      |curve AS (
      |$select),
      |sat AS (SELECT *, row_number() OVER (
      |          PARTITION BY tgt_lang ORDER BY nprobe ASC) AS rk
      |        FROM curve
      |        WHERE n_common * $RecallTargetDen >= n_brute * $RecallTargetNum)
      |SELECT tgt_lang, nprobe AS chosen_probe, n_brute, n_probe, n_common
      |FROM sat WHERE rk = 1""".stripMargin
  }

  /** Tuned-miner CTE chain, ending in `prfull` (the per-depth
    * forward-best chains the curve oracle already states, with full
    * columns) and `choice` (the per-language chosen depth) — shared by
    * the tuned and calibrated oracles. Valid because the pipeline is
    * language-separable (every shuffle key contains the language or the
    * unilingual tgt_id), so the engine's single per-language-masked
    * pass equals the per-depth uniform runs joined to the choice
    * table. */
  private def tunedCtes(centers: Array[Array[Double]]): String = {
    val (ctes, select) = recallCurveParts(centers)
    val interior = MineProbes.filter(p => p > 1 && p < Ivf.NLists)
    val armCols = "src_id, tgt_lang, tgt_id, cos, margin, mutual"
    val arms =
      (s"SELECT 1::BIGINT AS nprobe, $armCols FROM ifwd" +:
        interior.map(np =>
          s"SELECT ${np}::BIGINT, $armCols FROM p${np}fwd") :+
        s"SELECT ${Ivf.NLists}::BIGINT, $armCols FROM bfwd")
        .mkString("\nUNION ALL\n")
    s"""$ctes,
      |curve AS (
      |$select),
      |sat AS (SELECT *, row_number() OVER (
      |          PARTITION BY tgt_lang ORDER BY nprobe ASC) AS rk
      |        FROM curve
      |        WHERE n_common * $RecallTargetDen >= n_brute * $RecallTargetNum),
      |choice AS (SELECT tgt_lang, nprobe AS chosen_probe FROM sat
      |           WHERE rk = 1),
      |prfull AS (
      |$arms)""".stripMargin
  }

  private def tunedSql(centers: Array[Array[Double]]): String =
    s"""WITH ${tunedCtes(centers)}
      |SELECT f.src_id, f.tgt_lang, f.tgt_id, round(f.cos, 4) AS cosine,
      |  round(f.margin, 4) AS margin, f.mutual, c.chosen_probe
      |FROM prfull f
      |JOIN choice c ON c.tgt_lang = f.tgt_lang AND f.nprobe = c.chosen_probe
      |WHERE f.margin >= $MarginThresh""".stripMargin

  /** The threshold-choice chain over a named forward-best relation,
    * ending in `tchoice(tgt_lang, chosen_threshold, n_mined, n_mutual,
    * met_target)` — THE single SQL statement of the intersection
    * criterion, shared by the standalone oracle (over `fwd`) and the
    * calibrated-miner oracle (over `bfwd`). */
  private def thresholdChoiceCtes(fwd: String): String =
    s"""mcurve AS (SELECT t.threshold, f.tgt_lang,
      |    count(*) FILTER (f.margin >= t.threshold)::BIGINT AS n_mined,
      |    count(*) FILTER (f.margin >= t.threshold AND f.mutual)::BIGINT
      |      AS n_mutual
      |  FROM $fwd f
      |  CROSS JOIN (SELECT unnest([${CurveThresholds.mkString(", ")}]
      |                ::DOUBLE[]) AS threshold) t
      |  GROUP BY 1, 2),
      |tsat AS (SELECT *, row_number() OVER (
      |           PARTITION BY tgt_lang ORDER BY threshold ASC) AS rk
      |         FROM mcurve WHERE n_mined > 0 AND n_mutual = n_mined),
      |tchoice AS (
      |  SELECT tgt_lang, threshold AS chosen_threshold, n_mined,
      |    n_mutual, TRUE AS met_target
      |  FROM tsat WHERE rk = 1
      |  UNION ALL
      |  SELECT c.tgt_lang, c.threshold, c.n_mined, c.n_mutual, FALSE
      |  FROM mcurve c
      |  WHERE c.threshold = ${CurveThresholds.max}
      |    AND c.tgt_lang NOT IN (SELECT tgt_lang FROM tsat WHERE rk = 1))"""
      .stripMargin

  /** Calibrated-miner oracle: the tuned chain joined to BOTH dials —
    * per-language depth from `choice`, per-language threshold from
    * `tchoice` over the brute forward-best (the certification surface,
    * exactly what the engine's curve rides). */
  private def calibratedSql(centers: Array[Array[Double]]): String =
    s"""WITH ${tunedCtes(centers)},
      |${thresholdChoiceCtes("bfwd")}
      |SELECT f.src_id, f.tgt_lang, f.tgt_id, round(f.cos, 4) AS cosine,
      |  round(f.margin, 4) AS margin, f.mutual, c.chosen_probe,
      |  t.chosen_threshold
      |FROM prfull f
      |JOIN choice c ON c.tgt_lang = f.tgt_lang AND f.nprobe = c.chosen_probe
      |JOIN tchoice t ON t.tgt_lang = f.tgt_lang
      |WHERE f.margin >= t.chosen_threshold""".stripMargin

  /** Both certified dials joined per language, SQL — the oracle chain
    * [[ChoiceModel]]'s roundtrip gate replays (the reload is bit-exact,
    * so the reloaded table must hash-equal the freshly-derived one). */
  private[sim] def dialsSql(centers: Array[Array[Double]]): String =
    s"""WITH ${tunedCtes(centers)},
      |${thresholdChoiceCtes("bfwd")}
      |SELECT c.tgt_lang, c.chosen_probe, t.chosen_threshold, t.met_target,
      |  TRUE AS manifest_ok
      |FROM choice c JOIN tchoice t ON t.tgt_lang = c.tgt_lang"""
      .stripMargin

  /** The trained quantizer centroids, once any pruned gate has run
    * (the [[ChoiceModel]] oracle needs them). */
  private[graft] def centersNow: Option[Array[Array[Double]]] =
    synchronized(lastCenters)

  /** A def, not a val: the IVF entries inline the trained centroids and
    * exist only after the pruned gates have run (the Ivf dynamic-oracle
    * convention; Verify dumps oracle SQL last). */
  /** The decontam chain as CTEs ending in `xflag(doc_id)` — the flagged
    * translated-contamination docs, shared with the release-report
    * oracle (none of these CTE names collide with the funnel/LSH
    * chain). */
  private[graft] def decontamCtes: String =
    s"""${dvCtesWith(s"lang = '$SrcLang' AND doc_id < " +
         graft.dedup.DedupQueries.DecontamEvalDocs)},
      |${brutePairs("")},
      |${marginChain("")},
      |xflag AS (SELECT DISTINCT tgt_id AS doc_id FROM fwd
      |          WHERE margin >= $MarginThresh)""".stripMargin

  def oracles: Map[String, String] = {
    val base = Map(
      // one statement of the decontam chain ([[decontamCtes]] — shared
      // with the release-report oracle); the unused xflag CTE is inert
      "bitext_decontam" ->
        s"""WITH $decontamCtes
          |SELECT src_id AS eval_id, tgt_lang, tgt_id,
          |  round(cos, 4) AS cosine, round(margin, 4) AS margin, mutual
          |FROM fwd WHERE margin >= $MarginThresh""".stripMargin,
      "bitext_mine" ->
        s"""WITH $dvCtes,
          |${brutePairs("")},
          |${marginChain("")}
          |${minedSelect("")}""".stripMargin,
      "bitext_margin_curve" ->
        s"""WITH $dvCtes,
          |${brutePairs("")},
          |${marginChain("")}
          |SELECT t.threshold, f.tgt_lang,
          |  count(*) FILTER (f.margin >= t.threshold)::BIGINT AS n_mined,
          |  count(*) FILTER (f.margin >= t.threshold AND f.mutual)::BIGINT
          |    AS n_mutual
          |FROM fwd f
          |CROSS JOIN (SELECT unnest([${CurveThresholds.mkString(", ")}]
          |              ::DOUBLE[]) AS threshold) t
          |GROUP BY 1, 2""".stripMargin,
      "bitext_lang_stats" ->
        s"""WITH $dvCtes,
          |${brutePairs("")},
          |${marginChain("")}
          |SELECT tgt_lang, count(*)::BIGINT AS n_best,
          |  count(*) FILTER (margin >= $MarginThresh)::BIGINT AS n_mined,
          |  count(*) FILTER (margin >= $MarginThresh AND mutual)::BIGINT
          |    AS n_mutual,
          |  round(min(margin), 4) AS min_margin,
          |  round(max(margin), 4) AS max_margin
          |FROM fwd GROUP BY 1""".stripMargin,
      "bitext_threshold_choice" ->
        s"""WITH $dvCtes,
          |${brutePairs("")},
          |${marginChain("")},
          |${thresholdChoiceCtes("fwd")}
          |SELECT tgt_lang, chosen_threshold, n_mined, n_mutual, met_target
          |FROM tchoice""".stripMargin)
    synchronized(lastCenters) match {
      case None => base
      case Some(centers) => base ++ Map(
        "bitext_mine_ivf" ->
          s"""WITH $dvCtes,
            |${ivfPairs("i", centers)},
            |${marginChain("i")}
            |${minedSelect("i")}""".stripMargin,
        "bitext_mine_multiprobe" ->
          s"""WITH $dvCtes,
            |${quantizerCtes(centers)},
            |${probePairsCte("m", MineNProbe)},
            |${marginChain("m")}
            |${minedSelect("m")}""".stripMargin,
        "bitext_recall_curve" -> recallCurveSql(centers),
        "bitext_probe_choice" -> probeChoiceSql(centers),
        "bitext_mine_tuned" -> tunedSql(centers),
        "bitext_mine_calibrated" -> calibratedSql(centers),
        "bitext_ivf_recall" ->
          s"""WITH $dvCtes,
            |${brutePairs("b")},
            |${marginChain("b")},
            |${ivfPairs("i", centers)},
            |${marginChain("i")},
            |minedb AS (SELECT src_id, tgt_lang, tgt_id FROM bfwd
            |       WHERE margin >= $MarginThresh),
            |minedi AS (SELECT src_id, tgt_lang, tgt_id FROM ifwd
            |       WHERE margin >= $MarginThresh),
            |langs AS (SELECT DISTINCT lang AS tgt_lang FROM documents
            |          WHERE lang <> '$SrcLang'),
            |cb AS (SELECT tgt_lang, count(*) AS n_brute FROM minedb GROUP BY 1),
            |ci AS (SELECT tgt_lang, count(*) AS n_ivf FROM minedi GROUP BY 1),
            |cc AS (SELECT b.tgt_lang, count(*) AS n_common
            |       FROM minedb b JOIN minedi i ON i.tgt_lang = b.tgt_lang
            |         AND i.src_id = b.src_id AND i.tgt_id = b.tgt_id
            |       GROUP BY 1)
            |SELECT l.tgt_lang,
            |  coalesce(cb.n_brute, 0)::BIGINT AS n_brute,
            |  coalesce(ci.n_ivf, 0)::BIGINT AS n_ivf,
            |  coalesce(cc.n_common, 0)::BIGINT AS n_common
            |FROM langs l
            |LEFT JOIN cb USING (tgt_lang)
            |LEFT JOIN ci USING (tgt_lang)
            |LEFT JOIN cc USING (tgt_lang)""".stripMargin)
    }
  }
}
