package graft.text

import graft.{Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-anonymity over quasi-identifiers (Sweeney 2002, "k-Anonymity: a
  * model for protecting privacy") — the governance readout the PII
  * family cannot give: [[TextQueries.piiScan]] finds explicit
  * identifiers (emails, phones); re-identification risk also lives in
  * COMBINATIONS of innocuous attributes. A document whose
  * quasi-identifier tuple is shared by fewer than K documents is
  * re-identifiable by linkage; the release rule is "every equivalence
  * class ≥ K".
  *
  * Quasi-identifier here: (lang, source, length bucket) — the
  * attributes this corpus would publish alongside text. The length
  * attribute is a fixed [[LenBucket]]-character-wide bucket (an
  * unbounded bucket COUNT, not deciles — the bucket index grows with
  * the longest document; "decile" was a round-10 misnomer). The audit
  * surface is deliberately the RAW documents table, not the post-filter
  * survivor corpus: the risk readout must be available BEFORE the write
  * funnel decides what survives (a sub-K class whose members the
  * quality filter happens to drop is still a finding the release review
  * wants to see), and [[graft.operators.ReleaseReport]] is the gate
  * that re-reads this risk against the survivor breakdown per source.
  *
  * The gate emits every equivalence class with its size and the
  * `at_risk` flag (size < [[KAnon]]) — the risk MASS (documents in
  * sub-K classes) is the first number a release review reads.
  *
  * [[kAnonGeneralize]] is the ACTION the audit exists for: production
  * responds to sub-K classes by COARSENING the quasi-identifier along a
  * fixed generalization ladder (widen the length bucket, then drop
  * attributes) until the documents left in sub-K classes — which must
  * be SUPPRESSED to publish — fit the suppression budget
  * ([[MaxSuppressNum]]/[[MaxSuppressDen]] of the corpus). The gate
  * emits the whole ladder with the minimal qualifying level flagged
  * `chosen`, so the review sees both the decision and the cost of every
  * alternative. All selection arithmetic is integer (cross-multiplied
  * budget test), so the choice is bit-identical cross-engine.
  *
  * Scale: one corpus scan per ladder level into a domain-bounded keyed
  * count — map-side partials, shuffle ∝ distinct classes, the
  * doc-profile family shape; the ladder readout itself is 5 rows. At
  * 100 TB the class domain is unchanged; only partials scale. */
object KAnonymity {

  /** Thrown when no ladder level satisfies the suppression budget — a
    * DEDICATED type (still an IllegalStateException for existing
    * callers) so a blocker report can catch exactly "remediation is
    * impossible" without also swallowing unrelated engine
    * IllegalStateExceptions (checkpoint failures, Spark internals) as
    * a budget verdict. */
  final class BudgetUnsatisfiableException(msg: String)
    extends IllegalStateException(msg)

  /** Release threshold (k = 5, the classic working value). */
  val KAnon = 5

  /** Length-bucket width in characters — the coarsened numeric
    * attribute (coarsening is HOW k-anonymity is achieved; the gate
    * audits the chosen coarsening). */
  val LenBucket = 100

  /** Ladder level 1+ widens the length bucket to this width. */
  val WideBucket = 500

  /** Suppression budget: generalize until ≤ Num/Den of the corpus
    * would need suppression (1 %). Integer cross-multiplication only —
    * no float enters the level choice. */
  val MaxSuppressNum = 1L
  val MaxSuppressDen = 100L

  /** The audit's class-count relation over any (lang, source, text)
    * docs relation — THE single statement of the quasi-identifier key,
    * shared by the batch gate, the streaming auditor
    * ([[graft.streaming.StreamKAnonymity]]) and the release gate
    * ([[graft.operators.ReleaseReport]]) so the key cannot drift
    * between the audit and its consumers. */
  def classCounts(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("source"),
        expr(s"length(text) div $LenBucket").as("len_bucket"))
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("class_size"))

  /** Gate: every quasi-identifier equivalence class with size and risk
    * flag (the audit; see the object doc for why the surface is the
    * raw documents table). */
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    classCounts(Tables.parallel(s, dir, "documents"))
      .select(col("lang"), col("source"), col("len_bucket"),
        col("class_size"),
        (col("class_size") < KAnon).as("at_risk"))

  /** The fixed generalization ladder as per-document key variants, most
    * → least specific (dropped attributes become NULL — no document has
    * a NULL lang/source, so there is no collision). Level 0 is the
    * audit key itself; each step strictly coarsens (wider bucket, then
    * dropped attributes), so suppressed mass is monotonically
    * non-increasing down the ladder — the property the minimal-level
    * choice relies on (proven in KAnonymitySpec). */
  private def ladderKeys: Column = {
    val noSrc = lit(null).cast("string")
    val noBucket = lit(null).cast("long")
    def k(lv: Int, lang: Column, source: Column, bucket: Column): Column =
      struct(lit(lv.toLong).as("level"), lang.as("k_lang"),
        source.as("k_source"), bucket.as("k_bucket"))
    array(
      k(0, col("lang"), col("source"), expr(s"len div $LenBucket")),
      k(1, col("lang"), col("source"), expr(s"len div $WideBucket")),
      k(2, col("lang"), noSrc, expr(s"len div $WideBucket")),
      k(3, col("lang"), noSrc, noBucket),
      k(4, lit(null).cast("string"), noSrc, noBucket))
  }

  /** Ladder class counts SPLIT by document source — the counting MONOID
    * the ONLINE remediation readout maintains
    * ([[graft.streaming.StreamRelease]]): rows keyed (level, class key,
    * source) add under union, and re-aggregating away `source` recovers
    * the class sizes — so both the budget-chosen level AND the
    * per-source suppressed mass derive from this ONE domain-bounded
    * relation (classes × levels × sources), never per-doc state. The
    * ladder keys are [[ladderKeys]] verbatim — the same statement the
    * batch gates explode. */
  def ladderClassCounts(docs: DataFrame): DataFrame =
    docs.select(col("source").as("doc_source"), col("lang"), col("source"),
        length(col("text")).cast("long").as("len"))
      .select(col("doc_source"), explode(ladderKeys).as("k"))
      .select(col("k.level").as("level"), col("k.k_lang").as("k_lang"),
        col("k.k_source").as("k_source"), col("k.k_bucket").as("k_bucket"),
        col("doc_source").as("source"))
      .groupBy("level", "k_lang", "k_source", "k_bucket", "source")
      .agg(count(lit(1)).as("n"))

  /** Monoid merge: ladder counts add by (level, class key, source). */
  def mergeLadder(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("level", "k_lang", "k_source", "k_bucket", "source")
      .agg(sum("n").as("n"))

  /** The per-source POST-remediation risk mass derived from the ladder
    * monoid ALONE: re-aggregate class sizes, pick the minimal
    * in-budget level (DEGRADING to the level-0 audit key when no level
    * fits — residue = raw risk, the [[graft.operators.ReleaseReport]]
    * law), and sum each source's documents left in sub-K classes
    * there. Agrees with the per-doc [[kAnonApply]] path by
    * construction (each doc lies in exactly one chosen-level class);
    * proven against the batch release gate in StreamReleaseSpec. */
  def remediatedBySource(counts: DataFrame): DataFrame = {
    val classes = counts
      .groupBy("level", "k_lang", "k_source", "k_bucket")
      .agg(sum("n").as("class_size"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val chosen = classes.groupBy("level").agg(
        sum(when(col("class_size") < KAnon, col("class_size"))
          .otherwise(0L)).as("suppressed"),
        sum(col("class_size")).as("n_total"))
      .withColumn("min_ok", min(when(
        col("suppressed") * MaxSuppressDen <=
          col("n_total") * MaxSuppressNum, col("level"))).over(w))
      .select(coalesce(col("min_ok"), lit(0L)).as("chosen"))
      .distinct()
    val subK = classes.filter(col("class_size") < KAnon)
      .select(col("level").as("c_level"), col("k_lang").as("c_lang"),
        col("k_source").as("c_source"), col("k_bucket").as("c_bucket"))
    counts
      .join(broadcast(chosen), col("level") === col("chosen"))
      .join(broadcast(subK),
        col("level") === col("c_level") &&
          col("k_lang") <=> col("c_lang") &&
          col("k_source") <=> col("c_source") &&
          col("k_bucket") <=> col("c_bucket"))
      .groupBy("source").agg(sum("n").as("n_risk_docs_remediated"))
  }

  /** Gate: the remediation readout — per ladder level, the class count,
    * sub-K class count, suppressed-document count (docs that remain in
    * sub-K classes at that level), the budget verdict, and the `chosen`
    * flag on the minimal level within the suppression budget. ONE
    * corpus scan: each doc explodes to its 5 ladder keys, map-side
    * partials ∝ classes × levels; the level rollup also carries
    * sum(class_size) = corpus size, so the budget test needs no second
    * scan; the min-qualifying-level window runs over the 5-row ladder
    * relation only. */
  def kAnonGeneralize(s: SparkSession, dir: String): DataFrame = {
    val classes = Tables.parallel(s, dir, "documents")
      .select(col("lang"), col("source"),
        length(col("text")).cast("long").as("len"))
      .select(explode(ladderKeys).as("k"))
      .groupBy("k.level", "k.k_lang", "k.k_source", "k.k_bucket")
      .agg(count(lit(1)).as("class_size"))
    val levels = classes.groupBy("level").agg(
      count(lit(1)).as("n_classes"),
      sum(when(col("class_size") < KAnon, 1L).otherwise(0L))
        .as("n_at_risk"),
      sum(when(col("class_size") < KAnon, col("class_size"))
        .otherwise(0L)).as("suppressed"),
      sum(col("class_size")).as("n_total"))
      .withColumn("within_budget",
        col("suppressed") * MaxSuppressDen <= col("n_total") * MaxSuppressNum)
    // 5-row single-partition window (bounded by the ladder length)
    val all5 = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    levels
      .withColumn("min_ok",
        min(when(col("within_budget"), col("level"))).over(all5))
      .select(col("level"), col("n_classes"), col("n_at_risk"),
        col("suppressed"), col("within_budget"),
        coalesce(col("level") === col("min_ok"), lit(false)).as("chosen"))
  }

  /** Each doc's 5 ladder keys, one row per (doc, level). */
  private def keyedDocs(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("len"))
      .select(col("doc_id"), explode(ladderKeys).as("k"))
      .select(col("doc_id"), col("k.level").as("level"),
        col("k.k_lang").as("k_lang"), col("k.k_source").as("k_source"),
        col("k.k_bucket").as("k_bucket"))

  /** The ladder-level CHOICE materialized: the class-count relation over
    * all 5 ladder levels (checkpointed — domain-bounded, never
    * corpus-sized) and the minimal level within the suppression budget.
    * FAILS LOUDLY (IllegalStateException) when no level qualifies —
    * reachable only for corpora smaller than [[KAnon]] docs, where even
    * the everything-in-one-class level 4 stays sub-K; silently emitting
    * an empty publishable relation there would be indistinguishable
    * from an empty corpus for a publisher. */
  private[graft] def chosenClasses(s: SparkSession,
                                   dir: String): (Long, DataFrame) =
    chosenMemo(s, dir)

  // Memoized: shared by the apply gate and the release report's
  // remediated-risk column.
  private[graft] val chosenMemo = Memo("documents") { (s, dir) =>
    val classes = keyedDocs(s, dir)
      .groupBy("level", "k_lang", "k_source", "k_bucket")
      .agg(count(lit(1)).as("class_size"))
      .localCheckpoint(true)
    val lvls = classes.groupBy("level").agg(
      sum(when(col("class_size") < KAnon, col("class_size"))
        .otherwise(0L)).as("suppressed"),
      sum(col("class_size")).as("n_total"))
      .filter(col("suppressed") * MaxSuppressDen <=
        col("n_total") * MaxSuppressNum)
      .agg(min("level").as("level"))
      .collect()
    val level = Option(lvls.head).filterNot(_.isNullAt(0))
      .map(_.getLong(0))
      .getOrElse(throw new BudgetUnsatisfiableException(
        s"k-anonymity generalization: no ladder level satisfies the " +
          s"$MaxSuppressNum/$MaxSuppressDen suppression budget " +
          s"(corpus smaller than K=$KAnon?) — nothing is publishable"))
    (level, classes)
  }

  /** Gate: the APPLICATION of the chosen generalization — one row per
    * document with its quasi-identifier class AT THE CHOSEN LEVEL
    * (dropped attributes NULL) and the suppression verdict (its class
    * is still sub-K there). This is the relation a publisher actually
    * executes: publish the generalized attributes, withhold the
    * suppressed rows; [[kAnonGeneralize]] proves the level choice,
    * this gate materializes its consequences per document. Scale: the
    * ladder rollup (one scan, the generalize shape) picks the level —
    * eagerly, so an unsatisfiable budget throws instead of emitting a
    * silently-empty publishable relation; a second scan joins each
    * doc's chosen-level key to the domain-bounded chosen-level class
    * sizes — output ∝ docs by design. */
  def kAnonApply(s: SparkSession, dir: String): DataFrame = {
    val (level, classes) = chosenClasses(s, dir)
    // dropped attributes are NULL at coarse levels — the class join
    // must be null-SAFE (<=>; the oracle mirrors with IS NOT DISTINCT
    // FROM). Inner join: every doc's chosen-level key has a class row
    // by construction (it contributed to the count).
    val cls = classes.filter(col("level") === level)
      .select(col("k_lang").as("c_lang"), col("k_source").as("c_source"),
        col("k_bucket").as("c_bucket"), col("class_size"))
    keyedDocs(s, dir)
      .filter(col("level") === level)
      .join(broadcast(cls),
        col("k_lang") <=> col("c_lang") &&
          col("k_source") <=> col("c_source") &&
          col("k_bucket") <=> col("c_bucket"))
      .select(col("doc_id"), col("level"), col("k_lang"),
        col("k_source"), col("k_bucket"),
        (col("class_size") < KAnon).as("suppressed"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_anonymity" -> kAnonymity,
    "k_anon_generalize" -> kAnonGeneralize,
    "k_anon_apply" -> kAnonApply)

  /** One ladder level's (n_classes, n_at_risk, suppressed) row in SQL. */
  private def levelSql(lv: Int, groupBy: String): String = {
    val inner =
      if (groupBy.isEmpty) "SELECT count(*) AS class_size FROM d"
      else s"SELECT count(*) AS class_size FROM d GROUP BY $groupBy"
    s"""l$lv AS (SELECT ${lv}::BIGINT AS level,
      |    count(*)::BIGINT AS n_classes,
      |    sum(CASE WHEN class_size < $KAnon THEN 1 ELSE 0 END)::BIGINT
      |      AS n_at_risk,
      |    sum(CASE WHEN class_size < $KAnon THEN class_size ELSE 0 END)
      |      ::BIGINT AS suppressed
      |  FROM ($inner))""".stripMargin
  }

  /** The WHOLE apply chain in SQL with CTE names prefixed `p`: per-doc
    * ladder keys (NULL = dropped attribute), class counts, the
    * budget-chosen level, and the per-doc chosen-level relation
    * `${p}applied(doc_id, level, k_lang, k_source, k_bucket,
    * suppressed)` — THE single statement of the remediation semantics,
    * shared by the `k_anon_apply` oracle (p = "") and the
    * release-report oracle's remediated-risk column (p = "ka") so the
    * two can never drift. */
  private[graft] def applyCtes(p: String): String =
    s"""${p}d AS (SELECT doc_id, lang, source, length(text)::BIGINT AS len
      |           FROM documents),
      |${p}keyed AS (
      |  SELECT doc_id, 0::BIGINT AS level, lang AS k_lang,
      |    source AS k_source, (len // $LenBucket)::BIGINT AS k_bucket
      |  FROM ${p}d
      |  UNION ALL SELECT doc_id, 1::BIGINT, lang, source,
      |    (len // $WideBucket)::BIGINT FROM ${p}d
      |  UNION ALL SELECT doc_id, 2::BIGINT, lang, NULL::VARCHAR,
      |    (len // $WideBucket)::BIGINT FROM ${p}d
      |  UNION ALL SELECT doc_id, 3::BIGINT, lang, NULL::VARCHAR,
      |    NULL::BIGINT FROM ${p}d
      |  UNION ALL SELECT doc_id, 4::BIGINT, NULL::VARCHAR, NULL::VARCHAR,
      |    NULL::BIGINT FROM ${p}d),
      |${p}classes AS (SELECT level, k_lang, k_source, k_bucket,
      |              count(*)::BIGINT AS class_size
      |            FROM ${p}keyed GROUP BY 1, 2, 3, 4),
      |${p}lv AS (SELECT level,
      |         sum(CASE WHEN class_size < $KAnon THEN class_size
      |             ELSE 0 END) AS suppressed,
      |         sum(class_size) AS n_total
      |       FROM ${p}classes GROUP BY 1),
      |${p}chosen AS (SELECT min(level) AS level FROM ${p}lv
      |           WHERE suppressed * $MaxSuppressDen
      |             <= n_total * $MaxSuppressNum),
      |${p}applied AS (SELECT k.doc_id, k.level, k.k_lang, k.k_source,
      |    k.k_bucket, (c.class_size < $KAnon) AS suppressed
      |  FROM ${p}keyed k
      |  JOIN ${p}chosen ch ON ch.level = k.level
      |  JOIN ${p}classes c ON c.level = k.level
      |    AND c.k_lang IS NOT DISTINCT FROM k.k_lang
      |    AND c.k_source IS NOT DISTINCT FROM k.k_source
      |    AND c.k_bucket IS NOT DISTINCT FROM k.k_bucket)""".stripMargin

  def oracles: Map[String, String] = Map(
    "k_anon_apply" ->
      s"""WITH ${applyCtes("")}
        |SELECT doc_id, level, k_lang, k_source, k_bucket, suppressed
        |FROM applied""".stripMargin,
    "k_anonymity" ->
      s"""SELECT lang, source,
        |  (length(text) // $LenBucket)::BIGINT AS len_bucket,
        |  count(*)::BIGINT AS class_size,
        |  count(*) < $KAnon AS at_risk
        |FROM documents
        |GROUP BY 1, 2, 3""".stripMargin,
    "k_anon_generalize" ->
      s"""WITH d AS (SELECT lang, source, length(text)::BIGINT AS len
        |           FROM documents),
        |${levelSql(0, s"lang, source, len // $LenBucket")},
        |${levelSql(1, s"lang, source, len // $WideBucket")},
        |${levelSql(2, s"lang, len // $WideBucket")},
        |${levelSql(3, "lang")},
        |${levelSql(4, "")},
        |alll AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1
        |         UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3
        |         UNION ALL SELECT * FROM l4),
        |tot AS (SELECT count(*)::BIGINT AS n_total FROM d),
        |wb AS (SELECT a.*,
        |         (a.suppressed * $MaxSuppressDen
        |            <= t.n_total * $MaxSuppressNum) AS within_budget
        |       FROM alll a, tot t),
        |mo AS (SELECT min(level) AS min_ok FROM wb WHERE within_budget)
        |SELECT w.level, w.n_classes, w.n_at_risk, w.suppressed,
        |  w.within_budget, coalesce(w.level = m.min_ok, FALSE) AS chosen
        |FROM wb w, mo m""".stripMargin)
}
