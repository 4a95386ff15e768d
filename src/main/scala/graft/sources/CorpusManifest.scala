package graft.sources

import graft.{Memo, Tables}
import graft.dedup.ConnectedComponents
import graft.text.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus MATERIALIZATION — the write-side story the engine
  * computes everything for but (through round 8) never shipped: the
  * final funnel survivors (exact-dup keeper ∩ near-dup keeper ∩ Gopher
  * pass — the [[ConnectedComponents.removalTiers]] →
  * [[TextQueries.gopherFlags]] chain, both already hash-certified
  * gates) written out as a real partitioned corpus artifact, re-read,
  * and checksummed. The gate result is the MANIFEST relation a
  * downstream trainer would consume:
  *
  *   source | n_files | n_rows | min/max_doc_id | total_chars | content_xor
  *
  * computed FROM THE RE-READ FILES, so it certifies the full
  * write → read round trip, not just the in-memory funnel:
  *  - `n_files` proves the layout discipline: `repartition(source)`
  *    routes every source to exactly one task, so `partitionBy(source)`
  *    yields exactly ONE file per source regardless of
  *    `shuffle.partitions` — a nondeterministic task split would show
  *    n_files > 1 and red the hash against the oracle's literal 1;
  *  - `content_xor` is an order-independent content checksum (XOR of a
  *    60-bit sha256 prefix of `doc_id|text` per row) — any lost, dup'd
  *    or corrupted row flips it; XOR commutes, so file/row order (which
  *    Spark does not promise on read) cannot;
  *  - rows are sorted by `doc_id` within each file
  *    (`sortWithinPartitions(source, doc_id)`) — the scan-friendly
  *    layout; `CorpusManifestSpec` asserts the physical order.
  *
  * The DuckDB oracle replays the funnel (the same LSH-pair +
  * recursive-CC + exact-tier + Gopher SQL as the dedup/apply gates)
  * and aggregates per source directly — so the manifest matches iff
  * the written artifact holds EXACTLY the survivor set.
  *
  * Scale: the funnel legs are proven elsewhere (pair-bound tiers,
  * projection-shaped Gopher); the write adds one `repartition(source)`
  * shuffle of the survivor rows — work ∝ survivors — and file count is
  * bounded by the source domain, not the corpus. At 100 TB, sources
  * are replaced by finer buckets (e.g. `source × doc_id div N`) to cap
  * file size; the manifest relation and its checks are unchanged.
  */
object CorpusManifest {

  /** Deterministic per-(sf-dir) output location under the build dir. */
  def outDir(dir: String): String = {
    val name = new java.io.File(dir).getName
    s"target/corpus_out/${name}_${Integer.toHexString(dir.hashCode)}"
  }

  /** The survivor funnel UN-materialized (one lazy plan) — the shape
    * `plans_aux.lock` digest-pins now that [[survivors]] serves a
    * memoized checkpoint (the BitextMine pipelinePlans discipline: the
    * gate plans collapse to a leaf, so the funnel's own planner shape
    * needs its own lock entry). */
  private[graft] def survivorsPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val (exactRemoved, nearRemoved) = ConnectedComponents.removalTiers(s, dir)
    val pass = TextQueries.gopherFlags(Tables.parallel(s, dir, "documents"))
      .filter(col("pass")).select("doc_id")
    docs
      .join(exactRemoved, Seq("doc_id"), "left_anti")
      .join(nearRemoved, Seq("doc_id"), "left_anti")
      .join(pass, Seq("doc_id"), "left_semi")
  }

  /** The survivor relation: docs that keep their exact-content group,
    * keep their near-dup cluster, and pass the Gopher rules —
    * memoized and materialized (every consumer reads it ≥ 2 times). */
  def survivors(s: SparkSession, dir: String): DataFrame = survMemo(s, dir)

  // Memoized: FOUR gates consume the survivor relation (corpus_manifest,
  // manifest_delta, shard_plan, train_order).
  private[graft] val survMemo = Memo("documents") { (s, dir) =>
    survivorsPlan(s, dir).localCheckpoint(true)
  }

  /** Per-source manifest of an already-written corpus directory — the
    * read-back half, shared by the batch gate and the streaming-sink
    * spec (content columns are layout-independent; `n_files` reports
    * whatever the writer produced). */
  def manifestOf(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      // partition-directory recovery of `source` runs Spark's partition-
      // column TYPE INFERENCE: a numeric-looking source value ("01")
      // would come back as an int and change the group key vs the
      // oracle's string source. Pin the round-trip type explicitly.
      .withColumn("source", col("source").cast("string"))
      .withColumn("h", conv(substring(
        sha2(concat(col("doc_id"), lit("|"), col("text")), 256), 1, 15),
        16, 10).cast("long"))
      .withColumn("f", input_file_name())
      .groupBy("source")
      .agg(
        countDistinct(col("f")).as("n_files"),
        count(lit(1)).as("n_rows"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        expr("bit_xor(h)").as("content_xor"))

  /** Gate: write the survivor corpus (one sorted file per source), read
    * it back, and emit the per-source manifest. */
  def corpusManifest(s: SparkSession, dir: String): DataFrame = {
    val out = outDir(dir)
    survivors(s, dir)
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .write.mode("overwrite").partitionBy("source").parquet(out)
    manifestOf(s, out)
  }

  /** Manifest-shaped aggregation over an in-memory survivor relation
    * (no write) — the content columns of [[manifestOf]]. */
  def contentManifest(df: DataFrame): DataFrame =
    df.withColumn("h", conv(substring(
        sha2(concat(col("doc_id"), lit("|"), col("text")), 256), 1, 15),
        16, 10).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        expr("bit_xor(h)").as("content_xor"))

  /** Gate: INCREMENTAL manifest maintenance — the reason the manifest
    * columns were chosen the way they were: every one is a MONOID
    * (counts and chars add, id ranges merge by min/max, and the
    * order-independent sha-XOR checksum composes by XOR), so a corpus
    * append updates the stored manifest from the BATCH's manifest
    * alone — no full re-scan, ever. The query computes the standing
    * corpus' manifest and the new batch's manifest separately
    * (doc_id % BatchMod split, the engine-wide snapshot convention)
    * and emits their ALGEBRAIC MERGE; the oracle recomputes the full
    * manifest from scratch over all survivors. Hash-green means the
    * delta-merge law holds exactly — at 100 TB the manifest update
    * cost is ∝ batch, like [[graft.dedup.IncrementalClusters]] for
    * labels and `SnapshotDedup` for pairs. */
  def manifestDelta(s: SparkSession, dir: String): DataFrame = {
    val surv = survivors(s, dir) // memoized checkpoint — one funnel pass
    val batchMod = graft.dedup.SnapshotDedup.BatchMod
    val mOld = contentManifest(surv.filter(col("doc_id") % batchMod =!= 0))
    val mNew = contentManifest(surv.filter(col("doc_id") % batchMod === 0))
    mergeManifests(mOld, mNew)
  }

  /** The algebraic manifest merge — every column a monoid, so the
    * composition is associative and a RUNNING manifest can be folded
    * batch by batch ([[graft.streaming.StreamManifest]] does exactly
    * that per micro-batch). */
  def mergeManifests(mOld: DataFrame, mNew: DataFrame): DataFrame = {
    def pre(df: DataFrame, p: String) =
      df.columns.filter(_ != "source").foldLeft(df) { (d, c) =>
        d.withColumnRenamed(c, p + c) }
    pre(mOld, "o_").join(pre(mNew, "n_"), Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("o_n_rows"), lit(0L)) +
          coalesce(col("n_n_rows"), lit(0L))).as("n_rows"),
        least(col("o_min_doc_id"), col("n_min_doc_id"))
          .as("min_doc_id"), // least/greatest skip nulls
        greatest(col("o_max_doc_id"), col("n_max_doc_id"))
          .as("max_doc_id"),
        (coalesce(col("o_total_chars"), lit(0L)) +
          coalesce(col("n_total_chars"), lit(0L))).as("total_chars"),
        // XOR identity is 0: an absent side contributes nothing
        expr("coalesce(o_content_xor, 0L) ^ coalesce(n_content_xor, 0L)")
          .as("content_xor"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_manifest" -> corpusManifest,
    "manifest_delta" -> manifestDelta)

  /** Funnel-survivor CTE chain replayed in DuckDB — LSH pairs →
    * recursive CC → exact/near tiers (verbatim from the dedup_apply
    * oracle) ∩ Gopher pass (verbatim from the dedup_keep_best
    * oracle) — ending in `surv` = the survivor rows of `documents`.
    * Callers prefix `WITH RECURSIVE ${DedupQueries.lshPairsCte},`. */
  private[graft] def survCtesSql: String = {
    import graft.text.TextQueries._
    s"""edges AS (SELECT a_id AS src, b_id AS dst FROM lshpairs
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
      |surv AS (SELECT d.* FROM documents d
      |         WHERE d.doc_id NOT IN (SELECT doc_id FROM ex)
      |           AND d.doc_id NOT IN (SELECT doc_id FROM near)
      |           AND d.doc_id IN (SELECT doc_id FROM g))""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "corpus_manifest" ->
      (s"WITH RECURSIVE ${graft.dedup.DedupQueries.lshPairsCte},\n" +
        s"""$survCtesSql
          |SELECT source, 1::BIGINT AS n_files, count(*)::BIGINT AS n_rows,
          |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
          |  sum(length(text))::BIGINT AS total_chars,
          |  bit_xor(CAST('0x' || substr(sha256(doc_id || '|' || text), 1, 15)
          |    AS BIGINT))::BIGINT AS content_xor
          |FROM surv GROUP BY source""".stripMargin),
    // the delta-merge law: Spark merges old+batch manifests
    // algebraically; the oracle recomputes from scratch over ALL
    // survivors — hash equality proves every column is a monoid
    "manifest_delta" ->
      (s"WITH RECURSIVE ${graft.dedup.DedupQueries.lshPairsCte},\n" +
        s"""$survCtesSql
          |SELECT source, count(*)::BIGINT AS n_rows,
          |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
          |  sum(length(text))::BIGINT AS total_chars,
          |  bit_xor(CAST('0x' || substr(sha256(doc_id || '|' || text), 1, 15)
          |    AS BIGINT))::BIGINT AS content_xor
          |FROM surv GROUP BY source""".stripMargin))
}
