package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests for the headline queries: the shapes
  * that decide 100 TB behavior (pushdown reaching the parquet scan,
  * broadcast for dimensions, no accidental cartesian products, codegen
  * coverage) are asserted here so a future edit can't silently regress
  * them into a working-but-wrong-at-scale plan.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** Collect across AQE boundaries (AdaptiveSparkPlanExec and the
    * QueryStageExec wrappers both hold their subtree out-of-band, not as
    * children, so a plain collect stops at them). */
  private def collectAll[A](p: SparkPlan)(pf: PartialFunction[SparkPlan, A]): Seq[A] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    val self = if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil
    val below = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)(pf)
      case q: QueryStageExec => collectAll(q.plan)(pf)
      case other => other.children.flatMap(collectAll(_)(pf))
    }
    self ++ below
  }

  test("q1_agg: filter is pushed to the parquet scan, not re-checked row-by-row") {
    val f = formatted("q1_agg")
    assert(f.contains("PushedFilters"), f)
    assert(f.contains("LessThanOrEqual(l_shipdate"), f)
    // partial aggregation before the exchange (map-side combine)
    assert(f.contains("HashAggregate"), f)
  }

  test("q1_agg: column pruning — the scan reads only referenced columns") {
    val f = formatted("q1_agg")
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_comment"), readSchema)
    assert(!readSchema.contains("l_partkey"), readSchema)
  }

  test("q3_shipping: dimension joins broadcast; no cartesian product") {
    val p = plan("q3_shipping")
    assert(collectAll(p) { case b: BroadcastExchangeExec => b }.nonEmpty,
      "expected at least one broadcast exchange for the filtered dimension side")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty)
  }

  test("headline queries avoid cartesian products (q_cross excepted)") {
    for (name <- Seq("q1_agg", "q_join_inner", "q_src_join_hetero",
        "q_dedup_minhash_lsh", "q_ann_lsh_bucket", "q_dedup_embedding")) {
      val cart = collectAll(plan(name)) { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"$name has a cartesian product")
    }
  }

  test("scan-heavy queries run inside whole-stage codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    for (name <- Seq("q_scan_project", "q_filter_ops", "q1_agg",
        "q_curation_redact", "q_embed_quantize", "q_text_quality")) {
      // AQE finalizes stages (and codegen wrapping) only on execution —
      // and only for the QueryExecution the action ran on
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val spans = collectAll(df.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w
      }
      assert(spans.nonEmpty, s"$name lost codegen:\n${df.queryExecution.executedPlan}")
    }
  }

  test("q_window_ntile: no single-partition global window exchange") {
    val f = formatted("q_window_ntile")
    // the two-pass global rank must not plan a SinglePartition exchange
    // feeding a Window operator (the classic all-rows-to-one-task shape)
    assert(!f.contains("Exchange SinglePartition"), f)
  }

  test("q_terms: top-N is a TakeOrderedAndProject, not a global sort") {
    val f = formatted("q_terms")
    assert(f.contains("TakeOrderedAndProject"), f)
  }

  test("one-pass curation projections shuffle only for the presentation sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for (name <- Seq("q_curation_redact", "q_curation_repetition",
        "q_embed_quantize", "q_text_quality")) {
      val ex = collectAll(plan(name)) { case s: ShuffleExchangeExec => s }
      assert(ex.size <= 1,
        s"$name should be a narrow projection + one sort exchange, got ${ex.size}")
    }
  }

  test("q_curation_decontam: eval index broadcasts; corpus side never sort-merge joins") {
    val p = plan("q_curation_decontam")
    assert(collectAll(p) { case b: BroadcastExchangeExec => b }.nonEmpty,
      "expected the eval shingle index to broadcast")
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    assert(collectAll(p) { case j: SortMergeJoinExec => j }.isEmpty,
      "corpus-side join must not shuffle into a sort-merge join")
  }

  test("mixing/packing run the two-pass prefix sum, not a per-group window") {
    // production mix/pack materialize the prefix sum through an eager
    // checkpoint (cache-lifecycle contract) whose scan hides the inner
    // plan — assert the shape on the lazy variant of the same builder
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_tokens"))
    val lazyPlan = graft.operators.GroupedPrefixSum
      .runningSum(docs, Seq("lang"), Seq(col("doc_id")), col("n_tokens"),
        "running", eager = false)
    val f = lazyPlan.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the partition-local window keys on the physical partition id —
    // a revert to Window.partitionBy(lang) loses the _pid column
    assert(f.contains("_pid"), s"prefix sum lost the two-pass shape:\n$f")
    assert(!f.contains("Exchange SinglePartition"), f)
    spark.sharedState.cacheManager.clearCache()
    // and the production queries consume the checkpointed result: the
    // final plans scan an RDD, with no per-group single-task window
    for (name <- Seq("q_curation_mix", "q_curation_pack")) {
      val p = formatted(name)
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        s"$name no longer reads the eager prefix-sum checkpoint:\n$p")
      assert(!p.contains("Exchange SinglePartition"), s"$name:\n$p")
    }
  }

  test("q_skew_join: salted path is a shuffled hash join on (key, salt), no broadcast") {
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val p = plan("q_skew_join")
    // the operator targets the broadcast-ineligible case: the dim side
    // must shuffle-hash-join on (key, salt), never broadcast — a revert
    // to broadcast would make the gate prove nothing about skew handling
    val shj = collectAll(p) { case j: ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, s"no shuffled hash join:\n$p")
    assert(shj.head.leftKeys.mkString(",").contains("_salt"),
      s"join keys lost the salt: ${shj.head.leftKeys.mkString(",")}")
    val bcast = collectAll(p) { case b: BroadcastExchangeExec => b }
    assert(bcast.isEmpty, s"dim side broadcast despite salting:\n$p")
  }

  test("decontamination scan evaluates the shingle-hash projection once per row") {
    // InferFiltersFromGenerate under a non-outer explode re-evaluates the
    // generator expression in a pre-Generate filter — 3× the hash stage
    val f = formatted("q_curation_decontam")
    val hashed = f.linesIterator.count(_.contains("shingle_hashes"))
    assert(hashed <= 2, s"shingle_hashes appears $hashed times (eval + corpus side):\n$f")
  }

  test("golden plan: co-bucketed connector tables join with NO Exchange (SPJ)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    graft.sources.FedData.ensure(spark, sfDir)
    val eng = new graft.engine.GraftEngine(spark)
    val p = new java.io.File(sys.props("user.dir"), "target/graft-test/spj-src").getPath
    eng.sql(s"""CREATE SOURCE spj WITH { "type": "csv", "path": "$p" }""")
    spark.sql("DROP TABLE IF EXISTS graft.spj.facts")
    spark.sql("DROP TABLE IF EXISTS graft.spj.dims")
    spark.sql("CREATE TABLE graft.spj.facts (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('keys' = 'k', 'buckets' = '4')")
    spark.sql("CREATE TABLE graft.spj.dims (k BIGINT, name STRING) " +
      "TBLPROPERTIES ('keys' = 'k', 'buckets' = '4')")
    spark.sql("INSERT INTO graft.spj.facts SELECT id AS k, id * 1.5 AS v " +
      "FROM range(0, 400)")
    spark.sql("INSERT INTO graft.spj.dims SELECT id AS k, concat('n', id) AS name " +
      "FROM range(0, 400)")
    val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val joined = spark.table("graft.spj.facts")
        .join(spark.table("graft.spj.dims"), "k")
      val exec = joined.queryExecution.executedPlan
      val shuffles = collectAll(exec) { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"co-bucketed join still shuffles:\n${joined.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)}")
      // and the join is CORRECT: every key matches exactly once
      assert(joined.count() == 400)
      assert(joined.filter(org.apache.spark.sql.functions.col("k") === 137).collect()
        .map(r => (r.getDouble(1), r.getString(2))).toSeq == Seq((205.5, "n137")))
      // without the conf the same tables scan with full per-file parallelism
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val plain = spark.table("graft.spj.facts")
        .join(spark.table("graft.spj.dims"), "k")
      assert(plain.count() == 400)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS graft.spj.facts")
      spark.sql("DROP TABLE IF EXISTS graft.spj.dims")
      eng.sql("DROP SOURCE spj")
    }
  }

  test("connector scans report sidecar row counts to the planner") {
    graft.sources.FedData.ensure(spark, sfDir)
    val scan = spark.table("graft.kv.customer_kv").queryExecution.optimizedPlan
      .collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.get
    val est = scan.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(est.numRows().isPresent, "numRows missing from connector statistics")
    assert(est.numRows().getAsLong ==
      graft.core.Tables.load(spark, sfDir, "customer").count())
  }

  test("q_embed_covariance: moment shuffle is partial-aggregated; marginals broadcast") {
    val f = formatted("q_embed_covariance")
    // map-side combine must reduce the D²-per-row pair explode to
    // K·D·partitions metadata BEFORE the exchange (two HashAggregates
    // around each Exchange), and both marginal joins must broadcast
    assert(f.contains("BroadcastHashJoin"), f)
    assert(!f.contains("SortMergeJoin"),
      "marginal joins must broadcast, not sort-merge")
    val p = plan("q_embed_covariance")
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aggs = collectAll(p) { case h: HashAggregateExec => h }
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    // every aggregation exchange is fed by a map-side partial aggregate:
    // more HashAggregate operators than shuffles (partial+final pairs)
    assert(aggs.size > shuffles.size,
      s"expected partial+final pairs, got ${aggs.size} aggs / ${shuffles.size} shuffles")
  }

  test("q_text_bm25: query-term filter precedes the shuffle; top-k is TakeOrdered") {
    val f = formatted("q_text_bm25")
    assert(f.contains("TakeOrderedAndProject"), f)
    assert(f.contains("BroadcastHashJoin"),
      "per-term df table must broadcast")
    // the isin(query terms) filter must sit under Generate (the explode),
    // i.e. before any aggregation exchange — assert no sort-merge join
    // and that a Filter mentions one of the literal terms
    assert(f.contains("spark") && !f.contains("SortMergeJoin"), f)
  }

  test("q_dedup_semantic: cell self-join is an equi-join, no cartesian product") {
    val p = plan("q_dedup_semantic")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty,
      "within-cell pair generation must join on cl, not cross-join")
    // and the per-cell top-3 must not collapse to a single partition
    val f = formatted("q_dedup_semantic")
    assert(!f.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), f)
  }

  test("q_text_cms: counters broadcast; exact arm is TakeOrdered; aggs partial") {
    val f = formatted("q_text_cms")
    assert(f.contains("TakeOrderedAndProject"),
      "top-20 exact arm must be TakeOrdered, not a global sort")
    assert(f.contains("BroadcastHashJoin") && !f.contains("SortMergeJoin"),
      "the 256-cell counter table must broadcast onto the candidates")
    val p = plan("q_text_cms")
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aggs = collectAll(p) { case h: HashAggregateExec => h }
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(aggs.size > shuffles.size,
      s"counter/exact aggregations must combine map-side: ${aggs.size} aggs / ${shuffles.size} shuffles")
  }

  test("q_dedup_blocks: block rollups are partial-aggregated; no cartesian") {
    val p = plan("q_dedup_blocks")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty)
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aggs = collectAll(p) { case h: HashAggregateExec => h }
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(aggs.size > shuffles.size,
      s"block-df and per-doc aggs must combine map-side: ${aggs.size} aggs / ${shuffles.size} shuffles")
  }

  test("q_grouping_sets: four sets compile to ONE Expand and one agg shuffle") {
    val p = plan("q_grouping_sets")
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    assert(collectAll(p) { case e: ExpandExec => e }.size == 1,
      "grouping sets must share one Expand, not re-scan per set")
    // one aggregation exchange + the presentation sort — never per-set
    assert(collectAll(p) { case s: ShuffleExchangeExec => s }.size <= 2)
  }

  test("q_pivot: explicit value list pivots with a single scan") {
    val p = plan("q_pivot")
    import org.apache.spark.sql.execution.FileSourceScanExec
    assert(collectAll(p) { case s: FileSourceScanExec => s }.size == 1,
      "an explicit pivot value list must not add a collect-distinct scan")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q_scalar_subquery: correlated count decorrelates to an aggregate join") {
    val f = formatted("q_scalar_subquery")
    assert(f.contains("BroadcastHashJoin") || f.contains("SortMergeJoin"),
      "the per-order count must run as ONE aggregate join, not per-row subqueries")
    val p = plan("q_scalar_subquery")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q_dedup_spans: no cartesian; gram flag join is an equi-join on h") {
    val p = plan("q_dedup_spans")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty)
    // the interval sweep must window per doc_id (bounded state), never
    // over a global singleton partition: every physical Window node needs
    // a non-empty partition spec that references doc_id
    val windows = collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "span merge lost its window node")
    windows.foreach { w =>
      assert(w.partitionSpec.exists(_.references.exists(_.name == "doc_id")),
        s"span merge window lost its per-doc partitioning: ${w.partitionSpec}")
    }
    val f = formatted("q_dedup_spans")
    assert(f.contains("hashpartitioning(doc_id"),
      "span merge must partition by doc_id:\n" + f.take(4000))
  }

  test("q_exists_subquery: EXISTS/NOT EXISTS decorrelate to semi/anti joins") {
    val f = formatted("q_exists_subquery")
    assert(f.contains("LeftSemi"),
      "correlated EXISTS must decorrelate to a left-semi join")
    assert(f.contains("LeftAnti"),
      "correlated NOT EXISTS must decorrelate to a left-anti join")
    val p = plan("q_exists_subquery")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q_embed_pca: the projection pass reuses the persisted quantized frame") {
    val f = formatted("q_embed_pca")
    // the returned plan is the broadcast-component projection over the
    // cached quantized corpus — no join, no corpus shuffle beyond the
    // presentation sort
    assert(f.contains("InMemoryTableScan"), f)
    assert(!f.contains("SortMergeJoin") && !f.contains("BroadcastHashJoin"), f)
  }

  test("q_curation_dsir: one cached bigram pass feeds both models; top-50 is TakeOrdered") {
    val f = formatted("q_curation_dsir")
    assert(f.contains("TakeOrderedAndProject"),
      "top-50 selection must be TakeOrdered, not a global sort")
    assert(f.contains("InMemoryTableScan"),
      "the per-doc bigram table must be computed once and reused by both models")
    val p = plan("q_curation_dsir")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q5_local_supplier: dims broadcast, no cartesian, agg is partial+final") {
    val f = formatted("q5_local_supplier")
    assert(f.contains("BroadcastHashJoin"), f)
    val p = plan("q5_local_supplier")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty,
      "the local-supplier correlation must ride the equi-join, not a cross")
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val aggs = collectAll(p) { case h: HashAggregateExec => h }
    assert(aggs.size >= 2, "revenue agg must have a map-side partial")
  }

  test("q_dedup_fuzzy_names: blocked domain self-join broadcasts, no cartesian") {
    val f = formatted("q_dedup_fuzzy_names")
    assert(f.contains("BroadcastHashJoin") && !f.contains("SortMergeJoin"),
      "the distinct-value domain must broadcast for the blocked self-join")
    val p = plan("q_dedup_fuzzy_names")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty,
      "fuzzy matching must pair within blocks only")
  }

  test("q_graph_pagerank: rounds checkpointed to a leaf; top-k is TakeOrdered") {
    val f = formatted("q_graph_pagerank")
    // per-round eager localCheckpoint (the GraphX discipline): the final
    // plan reads the round-8 rank leaf, so no multi-round lineage ever
    // reaches Catalyst — planning stays O(1) in the iteration count
    assert(f.contains("ExistingRDD"), f)
    assert(f.contains("TakeOrderedAndProject"),
      "top-20 must be TakeOrdered, not a global sort")
    val p = plan("q_graph_pagerank")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q_events_funnel: three chained windows ride ONE user_id exchange, no joins") {
    val p = plan("q_events_funnel")
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.size == 3, s"three funnel steps = three window passes: $windows")
    val userShuffles = collectAll(p) {
      case s: ShuffleExchangeExec if s.outputPartitioning.toString.contains("user_id") => s
    }
    assert(userShuffles.size == 1,
      s"the chained windows and the per-user reduce must share one user_id " +
        s"exchange, found ${userShuffles.size}")
    val f = formatted("q_events_funnel")
    assert(!f.contains("Join"), "the funnel must not plan self-joins")
  }

  test("q_cdc_scd2: fingerprint-first — md5 reduces below the single full outer join") {
    val f = formatted("q_cdc_scd2")
    assert(f.contains("FullOuter"), f)
    val p = plan("q_cdc_scd2")
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    val joins = collectAll(p) {
      case j: SortMergeJoinExec => j: Any
      case j: ShuffledHashJoinExec => j: Any
    }
    assert(joins.size == 1, s"one snapshot join only, found ${joins.size}")
    // the md5 projection must sit BELOW the join (thin fingerprint streams
    // shuffle, never the payload): every join-side output is key + hash
    val widths = joins.head match {
      case j: SortMergeJoinExec => Seq(j.left.output.size, j.right.output.size)
      case j: ShuffledHashJoinExec => Seq(j.left.output.size, j.right.output.size)
    }
    assert(widths.forall(_ == 2), s"join inputs must be (key, md5) pairs: $widths")
  }

  test("q_embed_probe: scoring reuses the cached frame; confusion agg is partial") {
    val f = formatted("q_embed_probe")
    // trained weights enter as a literal array — the scoring pass is a
    // projection + 4-group rollup over the persisted quantized corpus,
    // with no join and map-side partial aggregation before the exchange
    assert(f.contains("InMemoryTableScan"), f)
    assert(!f.contains("SortMergeJoin") && !f.contains("BroadcastHashJoin"), f)
    val p = plan("q_embed_probe")
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aggs = collectAll(p) { case h: HashAggregateExec => h }
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    // one partial+final pair around one agg exchange; the only other
    // shuffle is the presentation sort's range partitioning
    assert(aggs.size == 2 && shuffles.size <= 2,
      s"confusion rollup must combine map-side: ${aggs.size} aggs / ${shuffles.size} shuffles")
  }

  test("q_media_phash_neardup: bucket-cap window keys the band join; no cartesian") {
    val p = plan("q_media_phash_neardup")
    import org.apache.spark.sql.execution.window.WindowExec
    // the degenerate-bucket cap is IN THE PLAN (a count window on the
    // join key), not just documented — the r12 keywords lesson
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.exists(_.partitionSpec.map(_.references.map(_.name).mkString)
      .mkString.contains("band")),
      s"expected the bucket-cap window partitioned on the band key:\n$p")
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty,
      "band candidate generation must never plan a cartesian product")
    // decode runs once: the persisted projection feeds every branch
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    assert(collectAll(p) { case s: InMemoryTableScanExec => s }.nonEmpty,
      "the decoded (media_id, phash) projection must be cached, not replanned")
  }

  test("pipeline gates run the fix_text hygiene stage IN the plan") {
    // stage-0 encoding hygiene must be part of the one composed plan,
    // not a separate pass: the native fix_text expression shows up in
    // the projection feeding every downstream text signal
    for (name <- Seq("q_pipeline_curate", "q_pipeline_privacy")) {
      assert(formatted(name).contains("fix_text"),
        s"$name must thread fix_text ahead of its text stages")
    }
  }

  test("q_audio_fp_neardup: banded join is capped and cached like the image recipe") {
    val p = plan("q_audio_fp_neardup")
    import org.apache.spark.sql.execution.window.WindowExec
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.exists(_.partitionSpec.map(_.references.map(_.name).mkString)
      .mkString.contains("band")),
      s"expected the bucket-cap window partitioned on the band key:\n$p")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty,
      "band candidate generation must never plan a cartesian product")
    // synth + WAV decode + Goertzel run once: the persisted (media_id,
    // phash) projection feeds both self-join sides
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    assert(collectAll(p) { case s: InMemoryTableScanExec => s }.nonEmpty,
      "the decoded (media_id, phash) projection must be cached, not replanned")
  }

  test("q_video_phash_neardup: slot-keyed banded join, capped, cached, no cartesian") {
    val p = plan("q_video_phash_neardup")
    import org.apache.spark.sql.execution.window.WindowExec
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.exists { w =>
      val keys = w.partitionSpec.map(_.references.map(_.name).mkString).mkString
      keys.contains("band") && keys.contains("slot")
    }, s"expected the bucket-cap window partitioned on (slot, j, band):\n$p")
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty,
      "band candidate generation must never plan a cartesian product")
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    assert(collectAll(p) { case s: InMemoryTableScanExec => s }.nonEmpty,
      "the per-slot frame-hash projection must be cached, not replanned")
  }

  test("q_text_keywords: unhinted term join (AQE governs); min-df prune below the build side") {
    val df = SparkEntry.queries("q_text_keywords")(spark, sfDir)
    // the vocabulary join must carry NO user strategy hint: AQE
    // broadcasts when the measured pruned-df table is small and degrades
    // to a shuffled join instead of OOMing when it is not — an explicit
    // broadcast() would disable that size check (r13 polish item)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val termJoins = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "term")) => j
    }
    assert(termJoins.nonEmpty, "expected the tf-to-df equi-join on term")
    assert(termJoins.forall(j => j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty),
      s"the term join must not pin a strategy hint: ${termJoins.map(_.hint)}")
    // materialize so AQE finalizes its stage decisions, then check it
    // CHOSE broadcast at this scale (the pruned vocabulary measures
    // small) with the min-df FilterExec below the build-side exchange:
    // what ships is the PRUNED vocabulary, not the raw distinct-token
    // table whose hapax tail is unbounded at corpus scale
    df.collect()
    val p = df.queryExecution.executedPlan
    val bcasts = collectAll(p) { case b: BroadcastExchangeExec => b }
    assert(bcasts.nonEmpty,
      "AQE should choose broadcast for the measured-small pruned vocabulary")
    import org.apache.spark.sql.execution.FilterExec
    val prunedBcast = bcasts.exists { b =>
      collectAll(b) {
        case f: FilterExec if f.condition.sql.contains(">= 2") &&
          f.condition.references.exists(_.name == "df") => f
      }.nonEmpty
    }
    assert(prunedBcast,
      s"min-df filter must sit below the build-side exchange:\n${formatted("q_text_keywords")}")
    // tf comes from the one-pass native expression, not the interpreted
    // O(distinct×tokens) higher-order-function shape
    assert(formatted("q_text_keywords").contains("term_freqs"),
      "per-row tf must use the native term_freqs expression")
  }

  /** The DSv2 join-pushdown flag is HARNESS session config (Verify/Bench
    * builders); specs set/restore it at runtime because suites share one
    * JVM-wide session. */
  private def withJoinPushdown[A](body: => A): A = {
    val key = "spark.sql.optimizer.datasourceV2JoinPushdown"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("q_src_join_lookup: the join leaves the engine — one $lookup pipeline") {
    withJoinPushdown {
      val df = SparkEntry.queries("q_src_join_lookup")(spark, sfDir)
      assert(df.collect().length > 0, "gate must be non-empty at sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"the join must be pushed off the engine:\n$plan")
      val cmd = graft.sources.LoopbackMongoServer.lastAggregate.get()
      assert(cmd.contains("$lookup") && cmd.contains("$unwind"),
        s"the join must ship as one lookup pipeline: $cmd")
      assert(cmd.indexOf("$match") < cmd.indexOf("$lookup"),
        s"the left WHERE + null guard must precede the lookup: $cmd")
    }
  }

  test("q_src_join_lookup_left: LEFT OUTER leaves the engine, preserving unwind") {
    withJoinPushdown {
      val df = SparkEntry.queries("q_src_join_lookup_left")(spark, sfDir)
      val got = df.collect()
      assert(got.length > 0, "gate must be non-empty at sf0.001")
      // (null-extension itself is scale-dependent here — at sf0.001 every
      // sampled customer has orders; MongoSourceSpec plants null keys and
      // proves LEFT semantics, and the sf0.01 DuckDB oracle re-proves it)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"the join must be pushed off the engine:\n$plan")
      val cmd = graft.sources.LoopbackMongoServer.lastAggregate.get()
      assert(cmd.contains("preserveNullAndEmptyArrays"),
        s"LEFT OUTER must unwind preserving: $cmd")
    }
  }

  test("q_src_join_lookup_right: the right table drives; no engine Join") {
    withJoinPushdown {
      val df = SparkEntry.queries("q_src_join_lookup_right")(spark, sfDir)
      assert(df.collect().length > 0, "gate must be non-empty at sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"the join must be pushed off the engine:\n$plan")
      val cmd = graft.sources.LoopbackMongoServer.lastAggregate.get()
      assert(cmd.contains("preserveNullAndEmptyArrays") &&
        cmd.contains("orders_mongo"),
        s"the preserved side must drive and look up into orders: $cmd")
    }
  }

  test("q_src_join_agg: fact⨝dim→aggregate is one pipeline, no engine operators") {
    withJoinPushdown {
      val df = SparkEntry.queries("q_src_join_agg")(spark, sfDir)
      assert(df.collect().length > 0, "gate must be non-empty at sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("HashAggregate") &&
        !plan.contains("SortAggregate"),
        s"join AND aggregate must both leave the engine:\n$plan")
      val cmd = graft.sources.LoopbackMongoServer.lastAggregate.get()
      assert(cmd.indexOf("$lookup") >= 0 && cmd.indexOf("$group") > cmd.indexOf("$lookup"),
        s"the $$group must follow the $$lookup: $cmd")
    }
  }

  test("q_src_join_bq: the join renders as ONE warehouse statement") {
    withJoinPushdown {
      val df = SparkEntry.queries("q_src_join_bq")(spark, sfDir)
      assert(df.collect().length > 0, "gate must be non-empty at sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"the join must be pushed off the engine:\n$plan")
      val sql = graft.sources.LoopbackRestServer.lastBqSql.get()
      assert(sql.contains("JOIN customer_bqw t1 ON t0.o_custkey = t1.c_custkey"),
        s"the join must ship as one statement: $sql")
      assert(sql.contains("t0.o_totalprice > 400000.0"),
        s"the left WHERE must re-render under its alias: $sql")
    }
  }

  test("q_src_join_bq_left: LEFT OUTER ships with the right filter in ON") {
    withJoinPushdown {
      val df = SparkEntry.queries("q_src_join_bq_left")(spark, sfDir)
      val got = df.collect()
      assert(got.length > 0, "gate must be non-empty at sf0.001")
      assert(got.exists(_.isNullAt(2)),
        "some customer must survive null-extended (LEFT semantics)")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"the join must be pushed off the engine:\n$plan")
      val sql = graft.sources.LoopbackRestServer.lastBqSql.get()
      assert(sql.contains("LEFT JOIN"), sql)
      assert(sql.matches("(?s).*ON [^W]*o_totalprice > 450000.*"),
        s"the null-extended side's filter must ride ON, not WHERE: $sql")
    }
  }

  test("q_src_cql_dynfilter: dim keys flow back into the CQL scan as partition-key IN") {
    val df = SparkEntry.queries("q_src_cql_dynfilter")(spark, sfDir)
    assert(df.collect().length > 0, "gate must be non-empty at sf0.001")
    val cql = graft.sources.LoopbackCqlServer.lastCql.get()
    assert(cql.contains(" IN ("),
      s"the broadcast dim's keys must reach the wire as IN: $cql")
    assert(!cql.contains("token("),
      s"an IN-pinned read must not token-fan-out: $cql")
  }

  test("q_src_bt_dynfilter: dim keys flow back into the BigTable scan as rowKeys") {
    val df = SparkEntry.queries("q_src_bt_dynfilter")(spark, sfDir)
    assert(df.collect().length > 0, "gate must be non-empty at sf0.001")
    val req = graft.sources.LoopbackRestServer.lastBtQuery.get()
    assert(req.contains("rowKeys"),
      s"the broadcast dim's keys must reach the wire as a rowKeys batch: $req")
  }

  test("q_src_bq_dynfilter: dim keys flow back into the BQ statement as SQL IN") {
    val df = SparkEntry.queries("q_src_bq_dynfilter")(spark, sfDir)
    assert(df.collect().length > 0, "gate must be non-empty at sf0.001")
    val sql = graft.sources.LoopbackRestServer.lastBqSql.get()
    assert(sql.contains(" IN ("),
      s"the broadcast dim's keys must re-render as IN: $sql")
  }

  test("q_src_join_dynfilter: dim keys flow back into the Mongo scan as $in") {
    val df = SparkEntry.queries("q_src_join_dynfilter")(spark, sfDir)
    val n = df.collect().length
    assert(n > 0, "gate must be non-empty at sf0.001")
    // the physical plan carries the dynamic-pruning runtime filter on the
    // wire scan, and the find that actually shipped ANDs the $in
    assert(formatted("q_src_join_dynfilter").contains("dynamicpruning"),
      s"runtime filter missing:\n${formatted("q_src_join_dynfilter")}")
    val find = graft.sources.LoopbackMongoServer.lastFind.get()
    assert(find.contains("$in"),
      s"the broadcast dim's keys must reach the wire as \\$$in: $find")
  }
}
