package graft.plans

import graft.SparkTestSession
import graft.operators.RelationalQueries
import graft.storm.{Enrich, StormQueries}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.CaseWhen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests — the scale guarantees the engine relies
  * on must be visible in the plan, not assumed: filter/column pushdown to
  * the parquet scan, broadcast joins for dimension tables, whole-stage
  * codegen over the enrichment chain (no UDF barriers), and the custom
  * extension surface. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q6: filters and column pruning reach the parquet scan") {
    val plan = RelationalQueries.q6Forecast(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:"), "no pushdown section in scan")
    assert(plan.contains("l_shipdate"), "shipdate filter not pushed")
    assert(plan.contains("GreaterThanOrEqual(l_discount"), "discount filter not pushed")
    // projection pruning: the scan must not read unused columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), "scan reads unneeded columns")
    assert(readSchema.contains("l_extendedprice"))
  }

  test("q3: dimension joins broadcast, no sort-merge join") {
    val plan = RelationalQueries.q3RevenueByNation(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "dimension join fell back to sort-merge")
  }

  test("storm enrichment stays inside whole-stage codegen with no UDFs") {
    // AQE defers stage compilation, hiding codegen markers pre-execution —
    // disable it for this plan-shape check only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try StormQueries.stormEnrich(spark, sf).queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // whole-stage codegen renders as "*(n)" stage markers in the simple plan
    assert(plan.contains("*(1)"), "no whole-stage codegen stage")
    assert(!plan.contains("ScalaUDF"), "UDF barrier in the enrichment chain")
    assert(!plan.contains("BatchEvalPython"))
  }

  test("q13: rank filter pushes down to partial+final WindowGroupLimit") {
    // top-k-per-group must not fully sort/window every row: Spark's
    // InferWindowGroupLimit turns the rn <= 3 filter into a bounded
    // per-partition top-k before the shuffle — the plan shape that holds
    // at any group cardinality.
    val plan = RelationalQueries.q13TopEventsPerType(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), "rank filter not pushed down")
    assert(plan.contains("Partial"), "no partial (map-side) group limit")
  }

  test("train_split is a pure projection: no exchange, no aggregate") {
    // the split must stay shuffle-free — at 100 TB a split that shuffles
    // costs a full-corpus exchange for what is a per-row hash
    val plan = graft.text.Sampling.trainSplit(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"split plan shuffles:\n$plan")
    assert(!plan.contains("Aggregate"), s"split plan aggregates:\n$plan")
  }

  test("frame sampling fans out inside the partition, no generator shuffle") {
    val plan = graft.multimodal.Multimodal
      .mediaFrameSample(spark, sf).queryExecution.executedPlan.toString
    // audit only the stage ABOVE the memoized media cache: execution
    // reads the InMemoryTableScan — the Exchange printed inside the
    // InMemoryRelation subtree is the cached build plan (Tables.parallel's
    // deliberate round-robin spread), paid once at materialization.
    // Without the cache boundary, allow that one spread exchange.
    val audited = plan.linesIterator
      .takeWhile(l => !l.contains("InMemoryRelation")).toSeq
    val exchanges = audited.count(_.contains("Exchange"))
    assert(exchanges <= (if (audited.length < plan.linesIterator.length) 0 else 1),
      s"unexpected shuffles in frame sampling:\n$plan")
  }

  test("decontaminate broadcasts the eval side, never shuffles the corpus for it") {
    // the gate serves a memoized checkpoint (round 14) — audit the
    // UN-materialized pipeline, the plan that actually runs (and the
    // one plans_aux.lock pins as decontaminate_pipeline)
    val plan = graft.dedup.DedupQueries.decontaminatePlan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle for the eval join:\n$plan")
  }

  test("bloom prefilter: filter words and eval set broadcast, corpus never shuffled for them") {
    val plan = graft.dedup.Bloom.decontamBloom(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bloom side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled to meet the broadcast side:\n$plan")
  }

  test("fuzzy join stays an equi-join on block keys, never a nested loop") {
    val plan = graft.operators.FuzzyJoin
      .fuzzyNamePairs(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"blocking failed — quadratic join shape:\n$plan")
  }

  test("funnel: step filter is pushed to the parquet scan") {
    val plan = graft.operators.Funnel.funnelStages(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("In(event_type"),
      s"step filter not pushed to scan:\n$pushed")
  }

  test("kmv aggregates map-side: partial sketch before the exchange") {
    val plan = graft.functions.Kmv.kmvDistinct(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"custom aggregate not object-hash planned:\n$plan")
    // must name the UDAF itself — countDistinct's own partial stage would
    // satisfy a bare "partial" and make the check vacuous
    assert(plan.contains("partial_kmvagg"),
      s"no map-side partial KMV aggregation:\n$plan")
  }

  test("document-frequency rollups partial-aggregate; no hot-key windows") {
    // verdict r3 #6: df must come from groupBy (map-side combine) + join
    // back, never count().over(partitionBy(<zipf-hot key>)) — the window
    // form shuffles every exploded row by a hot key with no partials
    for ((name, df) <- Seq(
      "cross_doc_ngrams" -> graft.dedup.DedupQueries.crossDocNgrams(spark, sf),
      "term_rarity_topk" -> graft.text.TextQueries.termRarityTopk(spark, sf))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("partial_count"),
        s"$name: df aggregation is not map-side partial:\n$plan")
      val windowSpecs = plan.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(windowSpecs.forall(_.contains("doc_id")),
        s"$name: window partitioned by a non-doc key:\n${windowSpecs.mkString("\n")}")
    }
  }

  test("batched ANN broadcasts the query batch and bounds the rank window") {
    val plan = graft.sim.SimilarityQueries.annBatchTopk(spark, sf)
      .queryExecution.executedPlan.toString
    // the B-query batch replicates via broadcast (one corpus scan serves
    // the whole batch), and the per-query top-k is a partial group limit
    // before any shuffle — never a full sort of B×N scored pairs
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed to a group limit:\n$plan")
  }

  test("no query plans an unintended cartesian product") {
    // broadcast single-row crossJoins compile to BroadcastNestedLoopJoin,
    // which is fine; a CartesianProduct would shuffle |A|x|B| rows.
    for ((name, fn) <- PlanDigest.planQueries()) {
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product")
    }
  }

  test("extensions: go_fmt_g callable from SQL; enum-normalize collapses") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      // SQL-reachable custom expressions (same values as the DataFrame path)
      val out = s2.sql(
        "SELECT go_fmt_g(125.0) AS g, go_fmt_g(1.25) AS f, " +
          "go_fmt_f(81.35, 1) AS p, array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head()
      assert(out.getString(0) == "125")
      assert(out.getString(1) == "1.25")
      // binary of 81.35 is 81.3499…: binary-exact rounding (Go/C) gives
      // "81.3" where shortest-repr HALF_UP (Java Formatter) gives "81.4" —
      // a value that actually discriminates the two behaviors
      assert(out.getString(2) == "81.3")
      assert(out.getDouble(3) == 11.0)
      assert(s2.sql("SELECT jaro_winkler_sim('martha', 'marhta') AS jw")
        .head().getDouble(0) == 0.9611111111111111)

      // idempotent enum normalization collapses to one CaseWhen (use a
      // parquet-backed column so ConvertToLocalRelation can't pre-evaluate)
      import s2.implicits._
      val df = s2.read.parquet(s"$sf/region.parquet")
        .select(Enrich.normalizeEventType(
          Enrich.normalizeEventType(col("r_name"))).as("n"))
      val caseWhens = df.queryExecution.optimizedPlan.expressions
        .flatMap(_.collect { case c: CaseWhen => c })
      assert(caseWhens.size == 1,
        s"expected collapsed CaseWhen, got ${caseWhens.size}")
      assert(df.as[String].collect().forall(_ == "")) // region names not enums
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("embed_pca apply is a zero-shuffle literal projection") {
    // the claim the operator's scale row rests on: after training, the
    // per-vector projection must ride the scan — no exchange, no agg
    val plan = graft.sim.EmbedPca.embedPca(spark, sf)
      .queryExecution.executedPlan.toString
    // Tables.parallel's RoundRobin REPARTITION (the local single-row-
    // group workaround, skipped on real multi-file corpora) is allowed;
    // any KEYED exchange would be a genuine shuffle
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"pca apply shuffles:\n$plan")
    assert(!plan.contains("Aggregate"), s"pca apply aggregates:\n$plan")
  }

  test("cdc_chunks: decode fans out in-partition; one aggregation chain only") {
    val plan = graft.multimodal.CdcChunks.cdcChunks(spark, sf)
      .queryExecution.executedPlan.toString
    // group-count + single-row rollup: exactly the hash-agg exchanges,
    // nothing else (no join, no generator shuffle)
    assert(!plan.contains("Join"), s"cdc plans a join:\n$plan")
    assert(plan.contains("HashAggregate"), "missing the group-count")
  }

  test("attribution join stays the bucketed equi-join, ranks bounded per purchase") {
    val plan = graft.operators.Attribution.attributionWeights(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"attribution fell back to a non-equi join:\n$plan")
    assert(plan.contains("Window"), "rank/count windows missing")
  }

  test("pretokenize: explode stays in-partition, count partial-aggregates, top-k heap-cut") {
    val plan = graft.text.Pretokenize
      .pretokenizeCounts(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k not heap-cut:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"token count not map-side partial:\n$plan")
  }

  test("html_extract is a pure projection: no exchange beyond the spread, no join, no aggregate") {
    val plan = graft.text.HtmlExtract.htmlExtract(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"extraction plans a join:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"extraction plans an aggregate:\n$plan")
    // the only allowed exchange is Tables.parallel's round-robin spread
    // of the single-row-group fixture (self-disabling on real inputs)
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"unexpected exchanges ($exchanges):\n$plan")
  }

  test("url_canonical_pairs: the doc-id slice pushes to the parquet scan") {
    val plan = graft.text.UrlCanonical.urlCanonicalPairs(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:"), "no pushdown section")
    assert(plan.contains("LessThan(doc_id,40)"),
      s"doc_id slice not pushed to the scan:\n$plan")
  }

  test("url_canonical aggregates partially before its single distinct group") {
    val plan = graft.text.UrlCanonical.urlCanonical(spark, sf)
      .queryExecution.executedPlan.toString
    // one Expand would mean RewriteDistinctAggregates multi-group form
    // came back (the nondeterministic-plan regression fixed in r9)
    assert(!plan.contains("Expand"),
      s"multi-distinct Expand reappeared:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"pre-combine not map-side partial:\n$plan")
  }

  test("dedup_clusters_delta: every join is hash/broadcast equi, never nested-loop") {
    val plan = graft.dedup.IncrementalClusters
      .dedupClustersDelta(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"delta merge fell back to a non-equi join:\n$plan")
  }

  test("manifest_delta merges two sources-bounded aggregates with one outer join") {
    val plan = graft.sources.CorpusManifest.manifestDelta(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter") || plan.contains("full_outer") ||
      plan.contains("FullOuterJoin") || plan.contains("Join FullOuter"),
      s"merge is not the full-outer manifest join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"manifest merge planned a cartesian:\n$plan")
  }

  // ---------------------------------------------------- round-10 audits

  test("url_mirror_sets: ONE distinct aggregate, no Expand, equi joins only") {
    val plan = graft.text.CrawlDedup.urlMirrorSets(spark, sf)
      .queryExecution.executedPlan.toString
    // the r9 lesson as a standing rule: a second countDistinct would
    // bring back RewriteDistinctAggregates' Expand and a bistable digest
    assert(!plan.contains("Expand"),
      s"multi-distinct Expand in mirror rollup:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"label join fell back to non-equi:\n$plan")
  }

  test("url_recrawl_delta: two snapshot scans, target equi-join, no window") {
    val plan = graft.text.CrawlDedup.urlRecrawlDelta(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"snapshot compare fell back to non-equi:\n$plan")
    // the per-target compare is a hash aggregate merge, never a
    // corpus-wide window (which would repartition by a hot key)
    assert(!plan.contains("Window"),
      s"recrawl delta planned a window:\n$plan")
  }

  test("ivf_model_roundtrip: reloaded-model probe is a k-bounded TakeOrdered") {
    val plan = graft.sim.IvfModel.ivfModelRoundtrip(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"probe re-rank is not a bounded top-k:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"query vector not broadcast:\n$plan")
  }

  test("bpe_model_roundtrip: reloaded merges apply without UDF barriers") {
    val plan = graft.text.BpeModel.bpeModelRoundtrip(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"merge application left codegen:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"encode planned a cartesian:\n$plan")
  }

  test("bitext mining pipeline: every window is a WindowGroupLimit; " +
    "penalties join broadcast") {
    // the gate itself serves a memoized checkpoint — audit the pipeline
    // it materializes (the pre-checkpoint construction)
    val plan = graft.sim.BitextMine.forwardBest(
        graft.sim.BitextMine.docVecs(spark, sf))
      .queryExecution.executedPlan.toString
    // the margin pipeline's three windows (x-pen top-k, forward argmax,
    // backward argmax) must all carry the partial group-limit — a bare
    // Window would shuffle the full |batch| × |candidates| pair relation
    // per group instead of ≤ k rows per group per partition
    assert(plan.contains("WindowGroupLimit"),
      s"no partial group limit in the margin pipeline:\n$plan")
    val windows = plan.linesIterator.count(l =>
      l.contains("Window ") || l.trim.startsWith("Window"))
    val limits = plan.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(limits >= windows,
      s"a window lost its group-limit ($windows windows, $limits limits):\n$plan")
    // x_pen (batch × langs rows) and the backward-best relation join back
    // by broadcast — never a shuffle of the pair relation
    assert(!plan.contains("SortMergeJoin"),
      s"penalty join fell back to sort-merge:\n$plan")
  }

  test("shard_plan: block windows only — no source-sized window partition") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.sources.ShardPlan.shardPlan(spark, sf)
        .queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // both windows must be keyed on blk (offsets: per-source over the
    // BLOCK relation; placement: per-(source, blk) over ≤ BlockDocs
    // rows) — a window partitioned on source alone over the doc relation
    // is the naive cumsum hot key the two-level design exists to avoid
    val windowSpecs = plan.linesIterator.filter(l =>
      l.contains("windowspecdefinition")).toSeq
    assert(windowSpecs.nonEmpty, s"no window in the plan:\n$plan")
    windowSpecs.foreach { w =>
      assert(w.contains("blk"),
        s"window not block-keyed (source-sized partition):\n$w")
    }
    // block offsets ride a broadcast back to the doc relation
    assert(plan.contains("BroadcastHashJoin"),
      s"offset join not broadcast:\n$plan")
  }
}
