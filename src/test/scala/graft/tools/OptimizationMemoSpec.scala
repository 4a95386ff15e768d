package graft.tools

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 optimization guards: the new one-slot memos added this
  * round (k-core peel, exact neighborhood function, verified
  * containment pairs, recrawl delta) must (a) hand back the SAME
  * materialized relation on a repeat call — the whole point is that the
  * second gate pays nothing — and (b) rebuild after release, with
  * values identical across the rebuild (no state leaks through the
  * memo). Values themselves stay covered by the DuckDB hash gates; this
  * spec pins the sharing behavior those gates cannot see. */
class OptimizationMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.fixture("sf0.001")

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("kcore peel memo: shared relation, stable across release") {
    graft.sim.KCore.peelMemo.release()
    val a = graft.sim.KCore.kcoreDecomposition(spark, dir)
    val b = graft.sim.KCore.kcoreDecomposition(spark, dir)
    assert(a eq b, "second gate call must ride the memo")
    val rows = sortedRows(a)
    graft.sim.KCore.peelMemo.release()
    val c = graft.sim.KCore.kcoreDecomposition(spark, dir)
    assert(!(a eq c), "release must force a rebuild")
    assert(sortedRows(c) == rows, "rebuild must reproduce the peel")
  }

  test("exact-NF memo: graph_neighborhood and the ANF gate share it") {
    graft.sim.Neighborhood.exactMemo.release()
    val a = graft.SparkEntry.queries("graph_neighborhood")(spark, dir)
    val b = graft.SparkEntry.queries("graph_neighborhood")(spark, dir)
    assert(a eq b)
    // the ANF gate's exact columns equal the standalone gate's
    val anf = graft.SparkEntry.queries("graph_neighborhood_anf")(spark, dir)
      .select("radius", "n_pairs")
    assert(sortedRows(anf) == sortedRows(a.select("radius", "n_pairs")))
  }

  test("containment pairs memo: gate and ensemble clustering share it") {
    graft.dedup.PrefixJoin.pairsMemo.release()
    val a = graft.SparkEntry.queries("dedup_containment_indexed")(spark, dir)
    val b = graft.SparkEntry.queries("dedup_containment_indexed")(spark, dir)
    assert(a eq b, "second consumer must ride the memo")
    val rows = sortedRows(a)
    graft.dedup.PrefixJoin.pairsMemo.release()
    val c = graft.SparkEntry.queries("dedup_containment_indexed")(spark, dir)
    assert(!(a eq c))
    assert(sortedRows(c) == rows)
  }

  test("removal tiers memo: apply/by_source/funnel consumers share it") {
    graft.dedup.ConnectedComponents.tiersMemo.release()
    val (ex1, nr1) = graft.dedup.ConnectedComponents.removalTiers(spark, dir)
    val (ex2, nr2) = graft.dedup.ConnectedComponents.removalTiers(spark, dir)
    assert((ex1 eq ex2) && (nr1 eq nr2),
      "second consumer must ride the memo")
    val rows = (sortedRows(ex1), sortedRows(nr1))
    graft.dedup.ConnectedComponents.tiersMemo.release()
    val (ex3, nr3) = graft.dedup.ConnectedComponents.removalTiers(spark, dir)
    assert(!(ex1 eq ex3), "release must force a rebuild")
    assert((sortedRows(ex3), sortedRows(nr3)) == rows,
      "rebuild must reproduce both tiers")
  }

  test("survivors memo: manifest/shard/order consumers share it") {
    graft.sources.CorpusManifest.survMemo.release()
    val a = graft.sources.CorpusManifest.survivors(spark, dir)
    val b = graft.sources.CorpusManifest.survivors(spark, dir)
    assert(a eq b, "second consumer must ride the memo")
    val rows = sortedRows(a.select("doc_id"))
    graft.sources.CorpusManifest.survMemo.release()
    val c = graft.sources.CorpusManifest.survivors(spark, dir)
    assert(!(a eq c), "release must force a rebuild")
    assert(sortedRows(c.select("doc_id")) == rows,
      "rebuild must reproduce the survivor set")
    // the memoized relation equals the un-materialized funnel plan
    assert(sortedRows(graft.sources.CorpusManifest.survivorsPlan(spark, dir)
      .select("doc_id")) == rows,
      "memoized checkpoint must equal the aux-locked pipeline")
  }

  test("drop-audit memo: gate and release_report share the verdicts") {
    graft.sources.DropAudit.auditMemo.release()
    val a = graft.sources.DropAudit.dropAudit(spark, dir)
    val b = graft.sources.DropAudit.dropAudit(spark, dir)
    assert(a eq b, "second consumer must ride the memo")
    val rows = sortedRows(a)
    graft.sources.DropAudit.auditMemo.release()
    val c = graft.sources.DropAudit.dropAudit(spark, dir)
    assert(!(a eq c), "release must force a rebuild")
    assert(sortedRows(c) == rows, "rebuild must reproduce the audit")
    assert(sortedRows(graft.sources.DropAudit.dropAuditPlan(spark, dir))
      == rows, "memoized checkpoint must equal the aux-locked pipeline")
  }

  test("contam-pairs memo: decontaminate/filter_overlap/report share it") {
    graft.dedup.DedupQueries.contamMemo.release()
    val a = graft.dedup.DedupQueries.decontaminate(spark, dir)
    val b = graft.dedup.DedupQueries.decontaminate(spark, dir)
    assert(a eq b, "second consumer must ride the memo")
    val rows = sortedRows(a)
    graft.dedup.DedupQueries.contamMemo.release()
    val c = graft.dedup.DedupQueries.decontaminate(spark, dir)
    assert(!(a eq c), "release must force a rebuild")
    assert(sortedRows(c) == rows, "rebuild must reproduce the pairs")
    assert(sortedRows(graft.dedup.DedupQueries.decontaminatePlan(spark, dir))
      == rows, "memoized checkpoint must equal the aux-locked pipeline")
  }

  test("substring-grams memo: the three substring gates share it") {
    graft.dedup.SubstringDedup.gramMemo.release()
    val a = graft.SparkEntry.queries("dedup_substring")(spark, dir)
    val rows = sortedRows(a)
    // the excise gate rides the same memoized gram relation
    graft.SparkEntry.queries("dedup_substring_excise")(spark, dir).collect()
    graft.dedup.SubstringDedup.gramMemo.release()
    val c = graft.SparkEntry.queries("dedup_substring")(spark, dir)
    assert(sortedRows(c) == rows, "rebuild must reproduce the flags")
  }

  test("recrawl delta memo: crawl_schedule rides url_recrawl_delta") {
    graft.text.CrawlDedup.deltaMemo.release()
    val a = graft.text.CrawlDedup.urlRecrawlDelta(spark, dir)
    val b = graft.text.CrawlDedup.urlRecrawlDelta(spark, dir)
    assert(a eq b)
    val rows = sortedRows(a)
    graft.text.CrawlDedup.deltaMemo.release()
    val c = graft.text.CrawlDedup.urlRecrawlDelta(spark, dir)
    assert(!(a eq c))
    assert(sortedRows(c) == rows)
  }
}
