package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Max
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/** Physical-plan invariants for headline queries — the shapes that
  * must survive a 100× scale-up, pinned so a refactor can't silently
  * trade them away: filters reaching the parquet scan, unused columns
  * pruned out of ReadSchema, fixed-size dims broadcast, global top-k
  * planned as TakeOrderedAndProject (no full sort), and Spark's own
  * window-group-limit kicking in on the rank-filter idiom. */
class PlanInvariantsSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("pricing summary: shipdate filter is pushed to the parquet scan") {
    val plan = formatted(SparkEntry.queries("tpch_pricing_summary")(spark, sf))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.replaceAll("\\s+", " ")
      .matches(".*PushedFilters: \\[[^\\]]*LessThanOrEqual\\(l_shipdate.*"), plan)
  }

  test("pricing summary: unused lineitem columns are pruned from ReadSchema") {
    val plan = formatted(SparkEntry.queries("tpch_pricing_summary")(spark, sf))
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.nonEmpty, plan)
    for (unused <- Seq("l_orderkey", "l_partkey", "l_suppkey"))
      assert(!readSchema.contains(unused), readSchema)
  }

  test("revenue by nation: the fixed-size nation dim joins by broadcast") {
    val plan = formatted(SparkEntry.queries("tpch_revenue_by_nation")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("nation volume: both roles of the nation dim broadcast, no extra shuffle") {
    val plan = formatted(SparkEntry.queries("tpch_nation_volume")(spark, sf))
    // supplier + nation(supp role) + nation(cust role) = 3 broadcasts
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    // only the two fact-side equi-joins and the final agg/sort shuffle
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("band join: grid-cell bucketing yields a hash equi-join, never a nested loop") {
    val plan = formatted(SparkEntry.queries("fraud_value_band_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q21: correlated EXISTS/NOT EXISTS decorrelate to semi/anti hash joins") {
    val plan = formatted(SparkEntry.queries("tpch_sql_q21")(spark, sf))
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("disjunctive join filter: per-side OR implications push to BOTH scans") {
    val plan = SparkEntry.queries("tpch_disjunctive_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("PushedFilters")).toSeq
    // part scan: the brand/size disjunction reached the reader
    assert(scans.exists(l => l.contains("p_brand") && l.contains("Or(")), plan)
    // lineitem scan: the quantity-range disjunction reached the reader
    assert(scans.exists(l => l.contains("l_quantity") && l.contains("Or(")), plan)
  }

  test("global top-k plans TakeOrderedAndProject, not a full sort") {
    val plan = formatted(SparkEntry.queries("tpch_topk_orders")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("rank-filter window engages Spark's WindowGroupLimit pre-filter") {
    // Spark's own plan: an earlier suite may have attached
    // WindowTopKRewrite, which plans this idiom as TopKPerKey instead
    val plan = withoutRules(graft.plans.WindowTopKRewrite)(
      formatted(SparkEntry.queries("tpch_window_top_orders")(spark, sf)))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("dim filter sits on the dim scan before the join (Q5 region)") {
    val plan = formatted(SparkEntry.queries("tpch_local_supplier_revenue")(spark, sf))
    assert(plan.replaceAll("\\s+", " ")
      .matches(".*PushedFilters: \\[[^\\]]*EqualTo\\(r_name,ASIA.*"), plan)
  }

  test("scored events stay inside whole-stage codegen (no UDF break)") {
    val df = SparkEntry.queries("fraud_scored_events")(spark, sf)
    df.collect() // AQE finalizes THIS plan's codegen spans only on execution
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefix marks codegen stages; the scoring projection must
    // carry one, and nothing may fall back to an interpreted UDF.
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("fraud scoring reads k with the JSON kernel, Spark's parse only as its fallback; scoring stays codegen'd") {
    import graft.functions.JsonNumberAt
    import org.apache.spark.sql.catalyst.expressions.{Alias, Coalesce, Expression, JsonToStructs}
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // JSON parses outside the fallback arm of a kernel-first coalesce
    def bare(e: Expression): Int = e match {
      case Coalesce((_: JsonNumberAt) +: _) => 0
      case j: JsonToStructs                 => 1 + bare(j.child)
      case _                                => e.children.map(bare).sum
    }
    def guarded(e: Expression): Int = e.collect {
      case c @ Coalesce((_: JsonNumberAt) +: rest) if rest.exists(_.exists(_.isInstanceOf[JsonToStructs])) => c
    }.size
    // the operators one codegen stage fuses (InputAdapter starts the next)
    def fused(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case _               => p.children.flatMap(fused)
    })
    object Aqe extends AdaptiveSparkPlanHelper
    for (name <- Seq("fraud_timeseries_minute", "fraud_daily_metrics", "fraud_scored_events")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val optimized = df.queryExecution.optimizedPlan
      val exprs = optimized.collectWithSubqueries { case p => p.expressions }.flatten
      assert(exprs.map(bare).sum == 0, s"$name parses props outside the kernel's fallback:\n$optimized")
      assert(exprs.map(guarded).sum > 0, s"$name does not read k with the kernel:\n$optimized")
      df.collect() // AQE settles the codegen stages on execution
      // the projection that scores the kernel's `k` (the one reading it
      // holds Spark's parse, a CodegenFallback, so it runs outside a stage)
      val executed = df.queryExecution.executedPlan
      val kernelK = Aqe.collect(executed) { case p: ProjectExec => p.projectList }.flatten
        .collect { case a: Alias if a.exists(_.isInstanceOf[JsonNumberAt]) => a.exprId }.toSet
      def scores(p: SparkPlan): Boolean =
        p.isInstanceOf[ProjectExec] && p.references.exists(a => kernelK(a.exprId))
      val scoring = Aqe.collect(executed) { case p if scores(p) => p }
      val inStage = Aqe.collect(executed) { case w: WholeStageCodegenExec => w }
        .flatMap(w => fused(w.child)).filter(scores)
      assert(kernelK.nonEmpty && scoring.nonEmpty && scoring.forall(p => inStage.exists(_ eq p)),
        s"$name scoring projection left whole-stage codegen:\n$executed")
    }
  }

  /** The `max` aggregates over a parquet relation in `df`'s optimized
    * plan, subqueries included: the scan-answered window anchor. */
  private def maxOverParquet(df: DataFrame): Seq[LogicalPlan] =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[Max])) &&
          a.exists {
            case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
            case _                  => false
          } => a
    }

  private val anchoredPanels =
    Seq("fraud_hourly_stats", "fraud_rate_bound_1h", "fraud_freshness_15m", "fraud_dq_report")

  test("trailing-window anchors come from parquet footers: no max(ts) scan, two fewer jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    GraftSession.attach(spark)
    def jobs(name: String): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
      }
      Bridge.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(l)
      try { SparkEntry.queries(name)(spark, sf).collect(); Bridge.drainListenerBus(spark); n.get }
      finally spark.sparkContext.removeSparkListener(l)
    }
    for (name <- anchoredPanels) {
      val df = SparkEntry.queries(name)(spark, sf)
      assert(maxOverParquet(df).isEmpty, s"$name:\n${df.queryExecution.optimizedPlan}")
      val fromFooters = jobs(name)
      val fromScan = withoutRules(graft.plans.FooterMinMax)(jobs(name))
      assert(fromScan - fromFooters == 2, s"$name: $fromScan jobs with the scan, $fromFooters with footers")
    }
  }

  test("trailing-window fraud panels filter on ts before any JSON parse, never a nested loop") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    def parses(p: LogicalPlan): Boolean =
      p.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs]))
    def tsFilter(p: LogicalPlan): Boolean = p match {
      case Filter(cond, _) => cond.references.exists(_.name == "ts")
      case _               => false
    }
    def check(name: String, scores: Boolean, footers: Boolean): Unit = {
      val df = SparkEntry.queries(name)(spark, sf)
      val optimized = df.queryExecution.optimizedPlan
      assert(maxOverParquet(df).isEmpty == footers, s"$name (footers=$footers):\n$optimized")
      val plan = formatted(df)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name:\n$plan")
      // the window predicate must sit below every from_json, subquery
      // plans included: no payload outside the window is parsed
      val parsing = optimized.collectWithSubqueries { case p if parses(p) => p }
      assert(parsing.nonEmpty == scores, s"$name:\n$optimized")
      parsing.foreach(p =>
        assert(p.children.exists(_.exists(tsFilter)), s"$name parses JSON below the window:\n$p"))
    }
    // both anchor shapes: a literal folded from parquet footers, and the
    // scan's max(ts) subquery (INT96 or stats-less inputs, DST zones)
    GraftSession.attach(spark)
    for ((name, scores) <- anchoredPanels.zip(Seq(true, true, false, true))) {
      check(name, scores, footers = true)
      withoutRules(graft.plans.FooterMinMax)(check(name, scores, footers = false))
    }
  }

  test("sequence packing sub-shards the per-source running sum (bounded window tasks)") {
    // the prefix sum must partition on (source, graft_sub) — a bare
    // per-source window would sort one dominant source's whole doc
    // list in a single task at scale. The extra exchanges the
    // two-level device introduces are all BOUNDED: the two 1-row max
    // anchors, the ≤16·|sources| partial-aggregated totals, its
    // per-source ≤16-row offset window, final agg + presentation
    // sort. Only the local window's exchange carries corpus rows.
    // mix_pack gets one more: the epoch-mix expansion's own agg
    for ((q, maxEx) <- Seq("text_pack_sequences" -> 7, "text_mix_pack" -> 8)) {
      val plan = formatted(SparkEntry.queries(q)(spark, sf))
      assert(plan.contains(", graft_sub"), s"$q lost the sub-shard:\n$plan")
      assert(!plan.matches("(?s).*windowspecdefinition\\(source#\\d+, doc_id#.*"),
        s"$q: bare per-source window:\n$plan")
      assert("""[+:]- Exchange""".r.findAllIn(plan).size <= maxEx, s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      // the only nested loops are the broadcast 1-row max anchors
      assert("""\) BroadcastNestedLoopJoin""".r.findAllIn(plan).size <= 2, s"$q:\n$plan")
    }
  }

  test("no emission-family query windows on bare source (the 100 TB skew contract)") {
    // every pack/emit/shuffle offset derives from sourcePrefixSum's
    // doc_id-range sub-shard; a refactor reintroducing
    // Window.partitionBy(source).orderBy(doc_id) would serialize a
    // dominant source into one window task
    for (q <- Seq("text_pack_offsets", "text_emit_doc_bounds",
      "text_curation_emit", "text_curation_emit_ids",
      "text_curation_shuffle", "text_curation_pack", "text_shuffle_order")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sf))
      assert(!plan.matches("(?s).*windowspecdefinition\\(source#\\d+, doc_id#.*"),
        s"$q: bare per-source window:\n$plan")
    }
  }

  test("shuffle order ranks inside content shards; the data never single-partitions") {
    // the per-sequence rank window must exchange on the md5-prefix
    // shard (hashpartitioning), the global sort must be a RANGE
    // exchange, and the only SinglePartition exchange allowed is the
    // 16-row shard-offset prefix sum — never the sequence stream
    // (the offsets side is recognizable as the one under the
    // partial_count aggregate)
    val plan = formatted(SparkEntry.queries("text_shuffle_order")(spark, sf))
    assert(plan.contains("hashpartitioning(shard"), plan)
    assert(plan.contains("rangepartitioning(ord"), plan)
    val singles = """Exchange SinglePartition""".r.findAllIn(plan).size
    assert(singles <= 1, s"$singles single-partition exchanges:\n$plan")
  }

  test("curricula rank inside bounded score buckets; the corpus never single-partitions") {
    // the difficulty rank must exchange on (bucket, band) — the coarse
    // score bucket AND the range sub-band, so no whole bucket lands in
    // one task — and the step numbering on the md5-prefix shard (both
    // hash); the only SinglePartition exchanges allowed are the three
    // BOUNDED frames — the 1-row count anchor and the two prefix-sum
    // offset windows (bucket×band alphabet, shard alphabet) — never
    // the corpus
    // the text schedules are memoized behind a lineage CUT
    // (localCheckpoint — the consumer-facing plan is a bounded RDD
    // scan by design), so the rank device's shape is pinned on the
    // PRE-checkpoint build plan; the trimodal schedule still exposes
    // its build plan through the persisted memo
    val curriculumPlans: Seq[(String, DataFrame)] = Seq(
      "text_curriculum_order" ->
        queries.Curation.curriculumScheduleCompute(spark, sf)._1,
      "text_curriculum_composite" ->
        queries.Curation.compositeScheduleCompute(spark, sf)._1,
      "mm_trimodal_curriculum" ->
        SparkEntry.queries("mm_trimodal_curriculum")(spark, sf))
    for ((q, df) <- curriculumPlans) {
      val plan = formatted(df)
      assert("hashpartitioning\\(bucket#\\d+L?, qr_band#\\d+L?, qr_tie".r
        .findFirstIn(plan).nonEmpty,
        s"$q: rank exchange must hash on (bucket, qr_band, qr_tie):\n$plan")
      assert(plan.contains("hashpartitioning(shard"), s"$q:\n$plan")
      assert(plan.contains("rangepartitioning(ord"), s"$q:\n$plan")
      // bounded frames only: the 1-row count anchor, the 1-row tie
      // anchor, and the two prefix-sum offset windows
      val singles = """Exchange SinglePartition""".r.findAllIn(plan).size
      assert(singles <= 4, s"$q: $singles single-partition exchanges:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("packing-efficiency reports aggregate on the bounded shard key, never a cartesian") {
    // doc/record-level arithmetic + one map-side-combinable groupBy on
    // the shard/source alphabet; the presentation sort is a range
    // exchange over a bounded report
    // (the memoized positioned lineage contains broadcast 1-row
    // anchor cross joins — bounded by construction — so only a true
    // CartesianProduct is forbidden)
    for ((q, key) <- Seq("mm_pack_efficiency" -> "shard",
      "text_pack_efficiency" -> "source")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sf))
      assert(plan.contains(s"hashpartitioning($key"), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("image dedup candidates come from the band equi-join, never a nested loop") {
    val plan = formatted(SparkEntry.queries("mm_image_dedup")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("video dedup candidates come from the band equi-join, never a nested loop") {
    val plan = formatted(SparkEntry.queries("mm_video_dedup")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("tokenized-ID emission: no UDF break, no cartesian, symbol join stays hash/broadcast") {
    val plan = formatted(SparkEntry.queries("text_curation_emit_ids")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    // the only nested loops are the sub-sharded prefix sum's
    // broadcast 1-row max anchors (one per branch)
    assert("""\) BroadcastNestedLoopJoin""".r.findAllIn(plan).size <= 2, plan)
  }

  test("interleaved mm emission: no UDF break, no bare-shard window, bounded anchors") {
    val plan = formatted(SparkEntry.queries("mm_curation_emit_ids")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    // the per-shard offsets ride the (shard, graft_sub) two-level
    // prefix sum — a bare per-shard running sum would serialize a
    // shard's whole interleaved stream into one window task
    assert(!plan.matches("(?s).*windowspecdefinition\\(source#\\d+, doc_id#.*")
      && !plan.matches("(?s).*windowspecdefinition\\(shard#\\d+, doc_id#.*"),
      s"bare per-shard window:\n$plan")
    // nested loops are only the broadcast 1-row anchors (the align
    // gate's corpus count + the prefix sum's max-id anchors)
    assert(!plan.contains(") NestedLoopJoin"), plan)
  }

  test("video alignment: six embedding lookups stay equi-joins; only the 1-row anchor nests") {
    val plan = formatted(SparkEntry.queries("mm_video_align")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // one BroadcastNestedLoopJoin node — the broadcast 1-row
    // corpus-count anchor — appears once in the TREE section (the
    // '+-'-prefixed spelling; the detail section prints the node
    // again without that prefix, so the tree regex counts nodes, not
    // text occurrences)
    assert("""\+\- BroadcastNestedLoopJoin""".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("audio alignment: four embedding lookups stay equi-joins; only the 1-row anchor nests") {
    val plan = formatted(SparkEntry.queries("mm_audio_align")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // one BroadcastNestedLoopJoin node — the broadcast 1-row
    // corpus-count anchor — appears once in the TREE section
    assert("""\+\- BroadcastNestedLoopJoin""".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("trimodal emission: no UDF break, no bare-shard window, no cartesian") {
    val plan = formatted(SparkEntry.queries("mm_trimodal_emit_ids")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    // record offsets ride the (shard, graft_sub) two-level prefix sum
    assert(!plan.matches("(?s).*windowspecdefinition\\(source#\\d+, doc_id#.*")
      && !plan.matches("(?s).*windowspecdefinition\\(shard#\\d+, doc_id#.*"),
      s"bare per-shard window:\n$plan")
    assert(!plan.contains(") NestedLoopJoin"), plan)
  }

  test("split leakage audit: id-keyed equi-joins over the memoized pair list, no cartesian") {
    val plan = formatted(SparkEntry.queries("text_split_leakage")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("NestedLoopJoin"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("cross-modal leakage audit: id-keyed equi-joins over the memoized pair lists, no cartesian") {
    val plan = formatted(SparkEntry.queries("mm_split_leakage")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("NestedLoopJoin"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("joint dedup unions the four memoized pair lists: no new corpus pass, no cartesian") {
    // the final frame sits above the CC's lineage-cut label frame, so
    // the pin runs on the EDGE UNION the CC consumes: all four pair
    // lists must come from persisted memos (InMemoryTableScan — no
    // fingerprint or shingle pass re-runs) with no cartesian anywhere
    import graft.multimodal.Multimodal
    val pairs = Multimodal.imagePairs(spark, sf).select(col("d1"), col("d2"))
      .unionByName(Multimodal.audioPairs(spark, sf).select(col("d1"), col("d2")))
      .unionByName(Multimodal.videoPairs(spark, sf).select(col("d1"), col("d2")))
      .unionByName(graft.queries.TextOps.nearDupPairs05(spark, sf)
        .select(col("d1"), col("d2")))
      .distinct()
    val plan = formatted(pairs)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("InMemoryTableScan"), plan)
    val out = formatted(SparkEntry.queries("mm_joint_dedup")(spark, sf))
    assert(!out.contains("CartesianProduct"), out)
  }

  test("audio decode is a pure map: no exchange before the presentation sort") {
    // decode + per-channel stats must stay one shuffle-free pass; the
    // only exchange allowed is the final ORDER BY's range exchange
    val plan = formatted(SparkEntry.queries("mm_audio_decode")(spark, sf))
    assert("""[+:]- Exchange""".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("caption alignment: equi-join embedding lookups; only the 1-row anchor nests") {
    // both encoder-embedding lookups must be hash equi-joins on the
    // reference id (never a cartesian pairing); the single permitted
    // nested-loop is the broadcast 1-row corpus-count anchor
    val plan = formatted(SparkEntry.queries("mm_caption_align")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // formatted plans list each node twice (tree + detail) — count
    // the numbered detail headers
    assert("""\) BroadcastNestedLoopJoin""".r.findAllIn(plan).size <= 1, plan)
  }

  test("curation emit: no UDF break, no cartesian through the composed stack") {
    // the end-to-end emission composes every stage; whatever the
    // stack's shape, nothing may fall back to an interpreted UDF or
    // a cartesian product on the way to the window aggregation
    val plan = formatted(SparkEntry.queries("text_curation_emit")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("data card is a free rollup: reuses the cached decision record, no join above it") {
    // the datasheet must ride the pass that already produced the
    // decisions — a join or second corpus scan above the cached
    // record would mean the card re-derives the pipeline
    val plan = formatted(SparkEntry.queries("text_data_card")(spark, sf))
    // the decision record is memoized behind a lineage cut
    // (localCheckpoint of the marked frame → the card reads a bounded
    // RDD scan); with either cache representation, nothing above the
    // cached record may join or re-scan the corpus
    assert(plan.contains("Scan ExistingRDD") || plan.contains("InMemoryTableScan"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Scan parquet"), plan) // no second corpus scan
    // agg + presentation sort only (count the formatted-mode node
    // headers — each operator prints once in the tree AND once in the
    // details section)
    assert("""\(\d+\) Exchange""".r.findAllIn(plan).size <= 2, plan)
  }

  test("fertility report joins the vocab-bounded encoded table by broadcast") {
    // the corpus word stream stays shuffle-free until the source
    // rollup: the |vocab|-bounded BPE-encoded side broadcasts, never
    // a sort-merge on the word key
    val plan = formatted(SparkEntry.queries("text_bpe_fertility")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("containment dedup candidate generation never goes cartesian") {
    val plan = formatted(SparkEntry.queries("text_dedup_containment")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("heavy-hitters recount is candidate-first: candidate join below the exact aggregate") {
    // the candidate broadcast join must sit BELOW the vocab-keyed
    // aggregate, so only ≤ 64 candidate tokens ever shuffle — the
    // sketch's whole reason to exist at 100 TB. The regression shape
    // (aggregate the full vocab, join after) would put a grouped
    // aggregate INSIDE the join's subtree.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec        => flatten(q.plan)
      case other                    => other.children.flatMap(flatten)
    })
    val df = SparkEntry.queries("text_top_tokens_sketch")(spark, sf)
    df.collect() // finalize the adaptive plan
    val all = flatten(df.queryExecution.executedPlan)
    def groupedSum(a: HashAggregateExec): Boolean =
      a.groupingExpressions.nonEmpty &&
        a.aggregateExpressions.exists(_.aggregateFunction.prettyName == "sum")
    val joins = all.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "no broadcast candidate join planned:\n" + all.head)
    // candidate-first: some grouped sum aggregate has the join beneath it…
    assert(all.exists {
      case a: HashAggregateExec if groupedSum(a) =>
        flatten(a.child).exists(_.isInstanceOf[BroadcastHashJoinExec])
      case _ => false
    }, "recount aggregate has no candidate join below it:\n" + all.head)
    // …and no broadcast join consumes an already-aggregated vocab
    joins.foreach { j =>
      assert(!flatten(j).tail.exists {
        case a: HashAggregateExec => groupedSum(a)
        case _ => false
      }, s"vocab aggregated before the candidate join:\n$j")
    }
  }

  test("split assignment shuffles only for the presentation sort") {
    // the hash-split is a pure projection: one range exchange for the
    // ORDER BY, no hash exchange anywhere (nothing to aggregate or join)
    val plan = formatted(SparkEntry.queries("text_split_assign")(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert("""[+:]- Exchange""".r.findAllIn(plan).size <= 1, plan)
  }

  test("source mix joins per-source rates back by broadcast") {
    // rates derive from a tiny per-source count frame; the corpus-side
    // join must be broadcast (never a corpus shuffle on source)
    val plan = formatted(SparkEntry.queries("text_source_mix")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("epoch mix and chunk windows are pure maps: no hash exchange, no join") {
    // both grow/shrink the corpus row-wise (explode) from per-row
    // arithmetic alone — any Exchange hashpartitioning or join in the
    // plan means someone turned a map into a shuffle
    for (q <- Seq("text_mix_epochs", "text_chunk_windows")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Exchange hashpartitioning"), s"$q:\n$plan")
      assert(!plan.contains("Join"), s"$q:\n$plan")
      assert("""[+:]- Exchange""".r.findAllIn(plan).size <= 1, s"$q:\n$plan")
    }
  }

  test("lm score joins the vocab by broadcast while it fits the size gate") {
    // at test SF the vocab passes TextOps.maybeBroadcast's bound, so
    // the hint applies; the degradation past the bound is pinned in
    // ScaleTechniquesSpec ("broadcast gate degrades...").
    // lmScores is memoized behind a lineage cut (localCheckpoint), so
    // the join strategy is pinned on the PRE-checkpoint build plan.
    val plan = formatted(queries.Curation.lmScoresCompute(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("line dedup: gated broadcast mark-join, no cartesian, fp-keyed aggregation") {
    // the boilerplate set fits the gate at test SF (hint applies); the
    // cross-doc count must stay ONE fingerprint-keyed aggregate — a
    // Cartesian or a non-broadcast join here would mean the candidate
    // structure degraded to all-pairs
    val plan = formatted(SparkEntry.queries("text_dedup_lines")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("span dedup: gated broadcast mark-join, no cartesian") {
    // same candidate discipline as line dedup at sliding-window
    // granularity: the duplicated-window set rides the size gate and
    // nothing in the plan may degrade to all-pairs
    val plan = formatted(SparkEntry.queries("text_dedup_spans")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("k-means assignment is a literal-centroid map: no join before the update aggregate") {
    // the certificate's final report runs assignment as pure
    // row-local argmax over literal centroids — a join against a
    // centroid table here would mean the coarse stage shuffles the
    // corpus once per round
    val plan = formatted(SparkEntry.queries("sim_kmeans_cert")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("graft_cosine"), plan)
  }

  test("prototypicality prune: 8-row cutoff frame broadcasts, no cartesian") {
    // the rank selection must ride the (cluster, cos) histogram — the
    // cutoff frame is K rows and joins back by broadcast; a cartesian
    // or a non-broadcast cutoff join would mean the histogram device
    // degraded to all-pairs or a corpus-wide sort path
    val plan = formatted(SparkEntry.queries("sim_prototypes_prune")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("SemDeDup pairs only within a cluster: equi-join on the blocking key") {
    // the pairwise stage must be an equi-join on the cluster id
    // (bounded by the largest cluster), never a cross product
    val plan = formatted(SparkEntry.queries("sim_semdedup")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("fuzzy matching candidates come from the deletion-key equi-join, not all pairs") {
    // SymSpell's whole point: distance-1 pairs collide on a deletion
    // key, so the plan must never fall back to a vocab x vocab
    // nested loop with a Levenshtein residual
    val plan = formatted(SparkEntry.queries("text_fuzzy_pairs")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("DAU/WAU plans as equi-keyed aggregates: the window explode leaves no range join") {
    val plan = formatted(SparkEntry.queries("fraud_active_users_7d")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
