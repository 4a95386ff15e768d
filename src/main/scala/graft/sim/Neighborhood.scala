package graft.sim

import graft.{Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Neighborhood function N(t) over the mutual-kNN graph — the distance
  * profile (how many (u,v) pairs lie within t hops) that summarizes a
  * corpus's semantic connectivity: a fast-saturating N(t) means one
  * dense hairball (over-duplicated themes), a slowly-growing one means
  * isolated islands. The classic scale algorithm is ANF (Palmer,
  * Gibbons & Faloutsos, KDD 2002) upgraded by HyperANF (Boldi, Rosa &
  * Vigna, WWW 2011): per node keep k Flajolet–Martin bitmask sketches
  * of its ball; one round of neighbor-OR per radius; estimate ball
  * sizes from the sketches — state ∝ nodes × k longs, per round one
  * edges join + a bit_or aggregation, NEVER the Σ|B(v,t)| pair
  * materialization.
  *
  * Two gates, the `hll_distinct` pattern:
  *  - [[graphNeighborhood]] — the EXACT twin: iterated distinct
  *    (src, reached) pair expansion, hash-oracled against DuckDB's
  *    unrolled closure. Ball pairs are Σ|B(v,3)|-bounded — fine at
  *    fixture scale, the thing ANF exists to avoid at 100 TB.
  *  - [[graphNeighborhoodAnf]] — the ANF sketch path: exact N(t)
  *    hash-checked, the sketch estimate folded into a
  *    within-4·rsd flag (k = 64 masks ⇒ rsd ≈ 0.78/√k ≈ 0.0975,
  *    bound 0.4). Estimates are deterministic (xxhash64-seeded masks,
  *    fixed-point micro-unit sums — order-free), so the flag is
  *    stable under any partitioning; the oracle replays the exact
  *    side and pins the flag.
  */
object Neighborhood {

  /** ANF keeps every round's sketch checkpoint until its one final action,
    * so peak storage grows with the radius (fine at 3). */
  val MaxRadius = 3
  /** ANF sketches per node (k): rsd ≈ 0.78/√k ≈ 0.0975. */
  val NumSketches = 64
  /** FM mask bit cap (ball sizes ≪ 2^30 here). */
  val MaxBit = 30
  /** |est − exact| / exact acceptance bound = 4·rsd (rounded up). */
  val AnfBound = 0.4

  /** floor(log2(x)) for a positive long column — integer-exact via the
    * binary-string length (no floating log). */
  private def log2(c: org.apache.spark.sql.Column) =
    (length(bin(c)) - 1).cast("int")

  /** Bidirectional edge view (a → b) of the mutual-kNN edges. */
  private def bidir(s: SparkSession, dir: String): DataFrame = {
    val e = GraphStats.mutualEdges(s, dir)
    e.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))
      .repartition(col("a")) // every expansion round joins on a
      .localCheckpoint(true) // partitioning preserved across rounds
  }

  private def nodesOf(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").select(col("vec_id").as("id"))

  /** Exact N(t) for t = 1..MaxRadius over explicit nodes/edges —
    * returns (radius, n_pairs, avg_ball). */
  def exactOver(nodes: DataFrame, bid: DataFrame): DataFrame = {
    val s = nodes.sparkSession
    val nNodes = nodes.count()
    var r = nodes.select(col("id").as("src"), col("id").as("dst"))
      .unionByName(bid.select(col("a").as("src"), col("b").as("dst")))
      .distinct().localCheckpoint(true)
    val counts = scala.collection.mutable.Buffer[(Long, Long)]()
    counts += ((1L, r.count()))
    for (t <- 2 to MaxRadius) {
      r = r.unionByName(
          r.join(bid, r("dst") === bid("a")).select(r("src"), col("b").as("dst")))
        .distinct().localCheckpoint(true)
      counts += ((t.toLong, r.count()))
    }
    import s.implicits._
    counts.toSeq.toDF("radius", "n_pairs")
      .withColumn("avg_ball",
        round(col("n_pairs") * lit(1.0) / lit(nNodes.toDouble), 4))
  }

  // Memoized exact neighborhood function: BOTH gates
  // (graph_neighborhood and graph_neighborhood_anf) consume the same
  // MaxRadius-round exact expansion — the expensive half of the ANF gate.
  private[graft] val exactMemo = Memo("embeddings") { (s, dir) =>
    exactOver(nodesOf(s, dir), bidir(s, dir)).localCheckpoint(true)
  }

  /** ANF estimate of N(t) for t = 1..MaxRadius (micro-units), plus the
    * exact counts — returns (radius, n_pairs, est_micro). */
  def anfOver(nodes: DataFrame, bid: DataFrame): DataFrame =
    anfWithExact(nodes, bid, exactOver(nodes, bid).select("radius", "n_pairs"))

  /** ANF sketch loop against an EXPLICIT exact relation — the gate path
    * passes the memoized exact NF so the expansion runs once per corpus,
    * not once per gate. */
  private def anfWithExact(nodes: DataFrame, bid: DataFrame,
                           exact: DataFrame): DataFrame = {
    val s = nodes.sparkSession
    // init: k masks per node; mask i = 1 << min(tz(xxhash64(id, i)), cap)
    val init = nodes
      .select(col("id"),
        explode(sequence(lit(0), lit(NumSketches - 1))).as("i"))
      .withColumn("h", xxhash64(col("id"), col("i")))
      // lowest set bit of h (h & -h), capped; h = 0 maps to the cap
      .withColumn("lsb", expr("h & -h"))
      .withColumn("p", when(col("h") === 0L, lit(MaxBit))
        .otherwise(least(log2(col("lsb")), lit(MaxBit))))
      .select(col("id"), col("i"), expr("shiftleft(1L, p)").as("mask"))
    var cur = init.localCheckpoint(true)
    val perRound = scala.collection.mutable.Buffer[DataFrame]()
    for (t <- 1 to MaxRadius) {
      val flowed = bid.join(cur, bid("a") === cur("id"))
        .select(col("b").as("id"), col("i"), col("mask"))
      cur = cur.unionByName(flowed)
        .groupBy("id", "i").agg(expr("bit_or(mask)").as("mask"))
        .localCheckpoint(true)
      // estimate: per (id, i) R = lowest ZERO bit; per id 2^avg(R)/φ.
      // Built LAZILY over this round's checkpointed sketches — the
      // former per-round `.head` blocked the driver once per radius;
      // one final action now computes every round's estimate in one
      // job tree over the already-materialized blocks (§2.6 — the
      // estimates are independent reads, so their stages overlap).
      perRound += cur
        .withColumn("lzb", expr("~mask & (mask + 1)"))
        .withColumn("r", log2(col("lzb")))
        .groupBy("id").agg((sum(col("r")) * lit(1.0) / NumSketches).as("b"))
        .select(floor(pow(lit(2.0), col("b")) * 1e6 / 0.77351 + 0.5)
          .cast("long").as("em"))
        .agg(sum("em").as("est_micro"))
        .select(lit(t.toLong).as("radius"), col("est_micro"))
    }
    exact.join(perRound.reduceLeft(_ unionByName _), "radius")
  }

  /** Gate: exact neighborhood function of the mutual-kNN graph. */
  def graphNeighborhood(s: SparkSession, dir: String): DataFrame =
    exactMemo(s, dir)

  /** Gate: exact N(t) + the ANF sketch estimate folded into a
    * within-bound flag (the scale path's certification). */
  def graphNeighborhoodAnf(s: SparkSession, dir: String): DataFrame =
    anfWithExact(nodesOf(s, dir), bidir(s, dir),
      exactMemo(s, dir).select("radius", "n_pairs"))
      .select(col("radius"), col("n_pairs"),
        (abs(col("est_micro") / 1e6 - col("n_pairs")) / col("n_pairs")
          <= AnfBound).as("anf_within"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_neighborhood" -> graphNeighborhood,
    "graph_neighborhood_anf" -> graphNeighborhoodAnf)

  /** Unrolled t ≤ 3 closure over the shared mutual-edge CTE. */
  private val reachCte =
    """nodes AS (SELECT vec_id AS id FROM embeddings),
      |bid AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
      |r1 AS (SELECT id AS src, id AS dst FROM nodes
      |       UNION SELECT a, b FROM bid),
      |r2 AS (SELECT src, dst FROM r1
      |       UNION SELECT r1.src, bid.b FROM r1
      |       JOIN bid ON bid.a = r1.dst),
      |r3 AS (SELECT src, dst FROM r2
      |       UNION SELECT r2.src, bid.b FROM r2
      |       JOIN bid ON bid.a = r2.dst),
      |nf AS (SELECT 1::BIGINT AS radius, count(*)::BIGINT AS n_pairs FROM r1
      |       UNION ALL SELECT 2, count(*) FROM r2
      |       UNION ALL SELECT 3, count(*) FROM r3)""".stripMargin

  def oracles: Map[String, String] = Map(
    "graph_neighborhood" ->
      s"""WITH ${GraphStats.edgesCteSql},
        |$reachCte
        |SELECT radius, n_pairs,
        |  round(n_pairs * 1.0 / (SELECT count(*) FROM embeddings), 4)
        |    AS avg_ball
        |FROM nf""".stripMargin,
    "graph_neighborhood_anf" ->
      s"""WITH ${GraphStats.edgesCteSql},
        |$reachCte
        |SELECT radius, n_pairs, true AS anf_within FROM nf""".stripMargin)
}
