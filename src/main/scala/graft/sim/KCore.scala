package graft.sim

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-core peeling over the mutual kNN graph — the graph-density tier of
  * the embedding-quality toolkit (Seidman 1983; Batagelj & Zaveršnik
  * 2003): repeatedly remove nodes with fewer than k neighbors among the
  * REMAINING nodes. Survivors form a dense semantic neighborhood (every
  * member has ≥ k mutual-kNN peers that also survived) — the
  * high-confidence region a curation pipeline trusts for propagation and
  * clustering; early-peeled nodes are the isolated/outlier tier beside
  * the [[GraphStats]] degree histogram.
  *
  * The gate runs a FIXED [[Rounds]] of peeling (the [[LabelProp]]
  * discipline: a deterministic bounded loop, replayable as unrolled SQL
  * rounds — no convergence dance in the oracle). Each node reports the
  * round that peeled it (NULL ⇒ survived all rounds, `in_core` true).
  * Peeling is monotone — once out, always out — so round r's degree
  * counts only edges with BOTH endpoints still active.
  *
  * Scale shape at 100 TB: per round, two semi-joins restrict the edge
  * relation to active×active and one node-keyed count takes degrees —
  * shuffle ∝ edges × const rounds, edges ≤ K·N by the kNN out-degree
  * bound. The active set SHRINKS monotonically, so later rounds are
  * cheaper. Same `iterative-graph` family as `pagerank_knn` /
  * `label_prop_knn`, riding the same memoized mutual-edge relation.
  * Each round localCheckpoints the active set — severing the
  * estimated-statistics lineage exactly like
  * [[graft.dedup.ConnectedComponents]]'s stats-snowball fix. */
object KCore {

  /** Core degree threshold. KnnK = 5 bounds out-degree; mutualization
    * thins edges, so k = 4 both peels a real outlier tier AND triggers a
    * genuine multi-round cascade (every peel tier populated at sf0.1,
    * rounds 2–4 non-empty at every fixture SF) while keeping a
    * populated core. */
  val K = 4

  /** Fixed peel rounds — enough for the fixture graphs to stabilize
    * (spec-pinned); a production run dials this like PageRank's
    * iteration count. */
  val Rounds = 4

  private def materializeFresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** (node, peel_round NULLABLE, in_core) after [[Rounds]] rounds. */
  def kcoreDecomposition(s: SparkSession, dir: String): DataFrame =
    peelMemo(s, dir)

  // Memoized: TWO gate queries (decomposition + tiers) consume the
  // identical [[Rounds]]-round peel, and the loop is the expensive part
  // (2 semi-joins + a degree count per round).
  private[graft] val peelMemo = Memo("embeddings") { (s, dir) =>
    kcoreOver(s, dir, GraphStats.mutualEdges(s, dir)).localCheckpoint(true)
  }

  /** Same peeling over an explicit (u, v) edge relation. */
  def kcoreOver(s: SparkSession, dir: String, e: DataFrame): DataFrame = {
    val d = e.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))
      .repartition(col("a")) // round joins start on a — partition once
      .localCheckpoint(true) // reused every round (partitioning preserved)
    val all = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id").as("node"))
    var active = materializeFresh(all)
    var peeled = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("peel_round",
          org.apache.spark.sql.types.LongType, nullable = false))))
    for (r <- 1 to Rounds) {
      // degree restricted to active×active; nodes with no active
      // neighbor fall out of `deg` entirely (degree 0)
      val deg = d
        .join(active.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(active.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("deg"))
      val survivors = active.join(
        deg.filter(col("deg") >= K), Seq("node"), "left_semi")
      val out = active.join(survivors, Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("peel_round"))
      active = materializeFresh(survivors)
      peeled = materializeFresh(peeled.unionByName(out))
    }
    all.join(peeled, Seq("node"), "left")
      .select(col("node"), col("peel_round"),
        col("peel_round").isNull.as("in_core"))
  }

  /** Rollup: population and share per peel tier (round 1..Rounds, core). */
  def kcoreTiers(s: SparkSession, dir: String): DataFrame = {
    val d = kcoreDecomposition(s, dir)
      .select(coalesce(col("peel_round"), lit(0L)).as("tier"))
      .groupBy("tier").agg(count(lit(1)).as("n_nodes"))
    val tot = d.agg(sum("n_nodes").as("n"))
    d.crossJoin(broadcast(tot))
      .select(
        when(col("tier") === 0L, "core")
          .otherwise(concat(lit("peel_"), col("tier"))).as("tier"),
        col("n_nodes"),
        round(col("n_nodes").cast("double") / col("n").cast("double"), 4)
          .as("share"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kcore_decomposition" -> kcoreDecomposition,
    "kcore_tiers" -> kcoreTiers)

  private def roundsSql: String = {
    val base =
      s"""d AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
         |a0 AS (SELECT vec_id AS node FROM embeddings)""".stripMargin
    val rounds = (1 to Rounds).map { r =>
      val prev = s"a${r - 1}"
      s"""g$r AS (SELECT d.a AS node, count(*) AS deg
         |  FROM d
         |  JOIN $prev p1 ON d.a = p1.node
         |  JOIN $prev p2 ON d.b = p2.node
         |  GROUP BY d.a),
         |a$r AS (SELECT p.node FROM $prev p
         |  JOIN g$r g ON p.node = g.node WHERE g.deg >= $K)""".stripMargin
    }.mkString(",\n")
    val peel =
      s"""pr AS (SELECT a0.node,
         |  CASE ${(1 to Rounds).map(r =>
             s"WHEN a0.node NOT IN (SELECT node FROM a$r) THEN $r")
             .mkString(" ")}
         |  END::BIGINT AS peel_round
         |  FROM a0)""".stripMargin
    s"$base,\n$rounds,\n$peel"
  }

  val oracles: Map[String, String] = Map(
    "kcore_decomposition" ->
      s"""WITH ${GraphStats.edgesCteSql},
         |$roundsSql
         |SELECT node, peel_round, peel_round IS NULL AS in_core
         |FROM pr""".stripMargin,
    "kcore_tiers" ->
      s"""WITH ${GraphStats.edgesCteSql},
         |$roundsSql,
         |t AS (SELECT coalesce(peel_round, 0) AS tier,
         |        count(*)::BIGINT AS n_nodes
         |      FROM pr GROUP BY 1),
         |tot AS (SELECT sum(n_nodes)::BIGINT AS n FROM t)
         |SELECT CASE WHEN tier = 0 THEN 'core'
         |            ELSE 'peel_' || tier END AS tier,
         |  n_nodes,
         |  round(n_nodes::DOUBLE / (SELECT n FROM tot)::DOUBLE, 4) AS share
         |FROM t""".stripMargin)
}
