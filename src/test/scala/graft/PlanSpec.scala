package graft

import graft.queries.Relational

/** Plan-shape assertions: the properties that matter at 100 TB must be
  * visible in the physical plan at any scale — filters reaching the
  * parquet scan, pruned read schemas, broadcast joins for small dims,
  * whole-stage codegen on the hot paths.
  */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("0.001")).queryExecution.executedPlan.toString

  test("q03 filter is pushed to the parquet scan") {
    val p = plan("q03_filter")
    assert(p.contains("PushedFilters:") && p.contains("l_returnflag"),
      s"expected pushed filters in:\n$p")
  }

  test("q01 scan prunes to the single needed column") {
    val p = plan("q01_scan")
    assert(p.contains("ReadSchema") && p.contains("l_orderkey") &&
      !p.contains("l_comment") && !p.contains("l_extendedprice"),
      s"expected pruned ReadSchema in:\n$p")
  }

  test("q05 dims join as broadcasts, no shuffle of customer") {
    val p = plan("q05_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join in:\n$p")
  }

  test("q12 agg is partial (map-side) then final") {
    val p = plan("q12_agg_hash")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), s"expected partial aggregation in:\n$p")
  }

  test("q20 top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q20_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q34 native word_shape stays inside whole-stage codegen") {
    // AQE reports "0 WholeStageCodegen subtrees" before execution —
    // disable it for static plan introspection only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val cg = try {
      SparkEntry.queries("q34_udf_word_shape")(spark, sf("0.001")).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(cg.contains("WholeStageCodegen"), cg.take(2000))
    // the generated code must call the static kernel directly (no
    // interpreted fallback for the expression)
    assert(cg.contains("graft.functions.WordShape.shape"), cg.take(2000))
  }

  test("q10 as-of join plans as window over union, not a range join") {
    val p = plan("q10_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must not fall back to a nested-loop range join:\n$p")
  }

  test("q07/q08 plan as semi/anti joins") {
    assert(plan("q07_join_semi").contains("LeftSemi"))
    assert(plan("q08_join_anti").contains("LeftAnti"))
  }

  test("q52 cube is one Expand + partial/final agg, one shuffle") {
    val p = plan("q52_cube")
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), s"expected partial aggregation in:\n$p")
    // one exchange for the agg + one for the final orderBy — the four
    // grouping sets must NOT multiply shuffles
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"cube should not add per-grouping-set shuffles:\n$p")
  }

  test("q51 contamination shuffles 8-byte gram hashes, not gram text") {
    val p = plan("q51_span_contamination")
    // the exchanges must be on the hashed gram column, and no shuffle
    // may carry the raw gram string
    val shufflePart = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(shufflePart.contains("gh#") || shufflePart.contains("doc_id#"),
      s"expected gh/doc_id shuffle keys:\n$p")
    assert(!shufflePart.contains("gram#"),
      s"gram text must be hashed before any exchange:\n$shufflePart")
  }

  test("q56 sliding window expands map-side: one shuffle on (window,type)") {
    val p = plan("q56_window_sliding")
    assert(p.contains("Expand") || p.contains("explode"),
      s"window slide should expand rows map-side:\n$p")
    assert(p.contains("partial_"), s"expected partial aggregation in:\n$p")
  }

  test("q64 pii_scan kernel is evaluated once and stays in codegen") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val cg = try {
      SparkEntry.queries("q64_pii_redaction")(spark, sf("0.001")).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(cg.contains("graft.functions.PiiScan.scan"), cg.take(2000))
    // the projection boundary keeps the struct kernel single-evaluation
    // even though three fields are consumed
    val calls = "PiiScan\\.scan".r.findAllIn(cg).size
    assert(calls <= 2, s"pii_scan evaluated $calls times (warm+code paths expected <= 2)")
  }

  test("q66 balanced sample never sorts a whole stratum") {
    val p = plan("q66_balanced_sample")
    // distributed selection: the only window runs per (stratum, bucket);
    // a window partitioned by the stratum alone would be the class-count
    // parallelism ceiling this operator exists to avoid
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition"))
      .mkString("\n")
    assert(windowLines.nonEmpty && windowLines.contains("_hb#"),
      s"window must partition by (stratum, bucket), not the stratum alone:\n$windowLines")
  }

  test("q69 vocabulary top-N is TakeOrdered with partial aggregation") {
    val p = plan("q69_vocabulary")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N vocabulary must not globally sort the token table:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial agg in:\n$p")
  }

  test("q74 span removal shuffles the exploded positions by gram hash once") {
    val p = plan("q74_span_removal")
    // the window min/max formulation: ONE hashpartitioning exchange on
    // the gram hash; the aggregate+semi-join alternative plans two
    val ghExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning(gh#")).size
    assert(ghExchanges == 1,
      s"expected exactly one gh exchange, got $ghExchanges in:\n$p")
  }

  test("q78 inverted index: bounded collect, no window sort pass") {
    val p = plan("q78_inverted_index")
    assert(p.contains("collect_min_k"), s"expected the bounded aggregate in:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"posting-cap must not need a window rank pass:\n$p")
    assert(p.contains("partial_collect_min_k") || p.contains("partial_"),
      s"expected map-side partial (bounded) buffers in:\n$p")
  }

  test("q88b approx profile aggregates without Expand; exact q88 needs it") {
    // the profile report itself is a driver-side unpivot
    // (LocalTableScan); the cost lives in the inner aggregate job —
    // pin THAT plan's shape for the two distinct strategies
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count_distinct}
    val orders = Tables(spark, sf("0.001")).orders
    val exact = orders
      .agg(count_distinct(col("o_orderkey")), count_distinct(col("o_custkey")))
      .queryExecution.executedPlan.toString
    assert(exact.contains("Expand"),
      s"exact multi-distinct is the Expand cost q88b removes:\n$exact")
    val approx = orders
      .agg(approx_count_distinct(col("o_orderkey")),
        approx_count_distinct(col("o_custkey")))
      .queryExecution.executedPlan.toString
    assert(!approx.contains("Expand"),
      s"approx profile must not multiply rows:\n$approx")
    assert(approx.contains("partial_"), approx)
  }

  test("q30 sessionize: lag + running-sum windows share one exchange and sort") {
    val p = plan("q30_sessionize")
    // the two dependent windows (boundary lag, session-id running sum)
    // use the same (user_id; ts, event_id) spec, so the second reuses
    // the first's exchange+sort: exactly ONE hashpartitioning exchange
    // on user_id; the only other exchange is the report orderBy's range
    // partitioning
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(hashEx == 1, s"expected one user_id exchange, got $hashEx in:\n$p")
    val windowSorts = p.linesIterator.count(l =>
      l.contains("Sort [user_id") && l.contains("ts"))
    assert(windowSorts == 1, s"both windows must share one sort:\n$p")
    assert(p.contains("partial_count"), s"expected map-side partial agg in:\n$p")
  }

  test("q83 PQ ANN top-k is the bounded aggregate, never a Q·N window sort") {
    val p = plan("q83_pq_ann")
    assert(p.contains("collect_min_k_by"), s"expected the bounded pair aggregate in:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"per-query top-k must not shuffle all scored rows through a window:\n$p")
  }

  test("q85 IVF-PQ: bounded aggregates for candidates AND re-rank, no window") {
    val p = plan("q85_ivf_pq")
    assert(p.contains("collect_min_k_by"), s"expected the bounded pair aggregate in:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"two-stage ANN must never sort scored rows through a window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"refine pool must join as the broadcast build side:\n$p")
  }

  test("q50b batch IVF top-k is the bounded aggregate, never a Q·N window sort") {
    val p = plan("q50b_ann_ivf_batch")
    assert(p.contains("collect_min_k_by"), s"expected the bounded pair aggregate in:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"per-query top-k must not shuffle all scored rows through a window:\n$p")
  }

  test("q86 sequence packing never plans a single-partition exchange") {
    val p = plan("q86_sequence_pack")
    // the pack walk is per-shard flatMapGroups: its exchanges are the
    // shard hash partitioning (+ the prefix-sum range partitioning and
    // report sort) — never Exchange SinglePartition, which would drag
    // the whole corpus through one task
    assert(!p.contains("Exchange SinglePartition"),
      s"pack walk must stay per-shard parallel:\n$p")
    // groupByKey extracts the shard key as value#N — the walk must sit
    // on a hash exchange of that key, not a global collapse
    assert(p.contains("MapGroups") && p.contains("hashpartitioning(value"),
      s"expected the per-shard MapGroups over a hash exchange in:\n$p")
  }

  test("q67 group split is a pure projection, no shuffle before the report sort") {
    val p = plan("q67_group_split")
    // one exchange is the final orderBy; the fold assignment itself must
    // not shuffle or aggregate
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"group split should only exchange for the report sort:\n$p")
    assert(!p.contains("HashAggregate"), s"group split needs no aggregation:\n$p")
  }

  test("single-pass documentPipeline: at most 2 exchanges after ingest") {
    // the round-5 restructure derives segmentation, all five view folds,
    // id assignment and TEI inside ONE groupByKey(doc_id) pass — the
    // plan may shuffle the token table once into that pass (plus the
    // p04 report sort); five view branches each re-windowing the tokens
    // showed up here as ~14 exchanges before the fold-form labelers
    val tokens = graft.sources.AltoReader.tokens(
      {
        import spark.implicits._
        Seq((0L, new PipelineSpec().altoXml)).toDS()
      }).toDF()
    val p = graft.pipeline.Processor.documentTei(tokens)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"documentTei should be one token shuffle (+report sort), found $exchanges:\n${p.take(4000)}")
  }

  /** A token table in the `alto-tokens` hub's shape
    * (`PipelineOps.tokenTable`): hash-partitioned by `doc_id`, sorted by
    * position within each partition, cached and materialized. (Until
    * its first job, an adaptively planned cache reports no output
    * partitioning, and its consumers plan an exchange — window
    * functions included.) */
  private def tokenHub(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val xml = new PipelineSpec().altoXml
    val hub = graft.sources.AltoReader.tokens((0L until 3L).map((_, xml)).toDS())
      .toDF()
      .repartition(org.apache.spark.sql.functions.col("doc_id"))
      .sortWithinPartitions("doc_id", "page_idx", "block_idx", "line_idx",
        "token_idx")
      .cache()
    hub.count()
    hub
  }

  /** Shuffle exchanges of `df`'s physical plan above its cached inputs
    * (the scan of a cached frame is a leaf, so the exchange that built
    * the cache is not counted). */
  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeLike => e }.size
  }

  test("rule labelers fold a doc-clustered token hub without an exchange") {
    val hub = tokenHub()
    try {
      Seq(new graft.pipeline.RuleLabeler(),
          new graft.pipeline.SegmentationRuleLabeler(),
          new graft.pipeline.BodyRuleLabeler(),
          new graft.pipeline.ReferenceSegmenterRuleLabeler()).foreach { l =>
        val labeled = l.label(hub)
        val p = labeled.queryExecution.executedPlan.toString
        assert(p.contains("MapGroups"), s"expected the per-document fold in:\n$p")
        assert(shuffles(labeled) == 0, s"hub is already clustered by doc_id:\n$p")
      }
    } finally hub.unpersist()
  }

  test("single-pass documentPipeline: no exchange before the fold on a " +
      "doc-clustered token hub") {
    val hub = tokenHub()
    try {
      Seq(graft.pipeline.Processor.documentTei(hub),
          graft.pipeline.Processor.documentPipeline(hub).toDF()).foreach { df =>
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("MapGroups"), s"expected the per-document fold in:\n$p")
        assert(shuffles(df) == 0, s"hub is already clustered by doc_id:\n$p")
      }
    } finally hub.unpersist()
  }

  test("a fresh alto-tokens hub, never actioned by its caller, feeds " +
      "RuleLabeler and documentTei with no exchange") {
    Graft.releaseCaches(spark, includeShared = true)
    try {
      val hub = graft.queries.PipelineOps.tokenTable(spark, sf("0.001"))
      Seq(new graft.pipeline.RuleLabeler().label(hub),
          graft.pipeline.Processor.documentTei(hub)).foreach { df =>
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("MapGroups"), s"expected the per-document fold in:\n$p")
        assert(shuffles(df) == 0, s"the hub is already clustered by doc_id:\n$p")
      }
    } finally Graft.releaseCaches(spark, includeShared = true)
  }

  test("q115 source cap is the bounded aggregate, never a per-source window sort") {
    val p = plan("q115_source_cap")
    assert(p.contains("collect_min_k_by"),
      s"expected the bounded pair aggregate in:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"domain cap must not sort the corpus through a per-source window:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial buffers in:\n$p")
  }

  test("q112 backoff surprisal: broadcast model, no window, no cartesian") {
    val p = plan("q112_backoff_surprisal")
    // the reference-slice LM ships to the candidate grams — the
    // 5-per-token explode must not shuffle through a sort-merge join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Window"), s"no per-position window expected:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q113 salted join: equi hash join, never a nested loop") {
    val p = plan("q113_salted_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"salted join must stay an equi join:\n${p.take(3000)}")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q118 source overlap: projection joins read only (doc_id, source) " +
      "and the corpus is never a forced broadcast build") {
    val df = SparkEntry.queries("q118_source_overlap")(spark, sf("0.001"))
    val p = df.queryExecution.executedPlan.toString
    // column pruning reached the scan: every ReadSchema carrying the
    // source column reads nothing wider than (doc_id, source) — the
    // corpus projection joins never drag text through an exchange
    val srcSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
      .filter(_.contains("source:"))
    assert(srcSchemas.nonEmpty, s"expected a (doc_id, source) scan in:\n$p")
    srcSchemas.foreach(s => assert(!s.contains("text:"),
      s"corpus projection scan reads text: $s"))
    // no broadcast HINT anywhere: the corpus side must never be a
    // FORCED build (a pair list can be huge too — AQE picks the build
    // side from runtime stats per scale, edge side at corpus scale)
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
          j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) => j
    }
    assert(hinted.isEmpty, s"unexpected forced broadcast:\n$hinted")
  }

  test("q121 segment dedup: the keeper window's exchange carries only " +
      "(gh, doc_id, seg_idx) — segment text never shuffles") {
    // AQE off so the physical tree exposes raw ShuffleExchangeExec
    // nodes to traversal (AdaptiveSparkPlanExec is a leaf to collect)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q121_segment_dedup")(spark, sf("0.001"))
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
      def integral(t: DataType): Boolean = t match {
        case LongType | IntegerType => true
        case s: StructType => s.fields.forall(f => integral(f.dataType))
        case _ => false
      }
      val ghExchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "gh") => e
      }
      assert(ghExchanges.nonEmpty, "expected the keeper-window exchange on gh")
      for (e <- ghExchanges; a <- e.output)
        assert(integral(a.dataType),
          s"window exchange carries ${a.name}: ${a.dataType} — " +
            "only fixed-width hashes and ids may shuffle")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q36c/q44c serve from persisted state: exactly ONE sign pass (the " +
      "delivery) in the plan, keeper + member tables read from parquet") {
    // VERDICT r14 #2: the corpus must never be re-signed in-query —
    // the signing kernels may appear once (the ~1/7 delivery), and the
    // intra-corpus side must come from the persisted state scans.
    def count(p: String, needle: String): Int =
      p.sliding(needle.length).count(_ == needle)
    val p36 = plan("q36c_exact_signature_pairs")
    assert(count(p36, "min_hash(") == 1,
      s"expected ONE min_hash (delivery only) in:\n$p36")
    assert(count(p36, "shingle_hash_distinct_text(") == 1, p36)
    assert(p36.contains("graft-q36c-idx"), s"state scans missing:\n$p36")
    // the member scan prunes the 512-byte signature column: only
    // (doc_id, setd) feeds the intra-corpus pair join
    assert(p36.contains("ReadSchema: struct<doc_id:bigint,setd:string>"),
      s"member scan must prune to (doc_id, setd):\n$p36")
    val p44 = plan("q44c_exact_fingerprint_pairs")
    assert(count(p44, "winnow_min(") == 1,
      s"expected ONE winnow_min (delivery only) in:\n$p44")
    assert(p44.contains("graft-q44c-idx"), s"state scans missing:\n$p44")
    assert(p44.contains("ReadSchema: struct<doc_id:bigint,tokd:string>"),
      s"member scan must prune to (doc_id, tokd):\n$p44")
  }

  test("ingest doc_id assignment has no single-partition exchange") {
    // xxhash64(path) replaces the old row_number-over-global-window id:
    // a Window.orderBy(path) with no partition spec plans as
    // Exchange SinglePartition — the whole corpus through ONE task.
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-ingest")
    try {
      val xml = new PipelineSpec().altoXml
      java.nio.file.Files.write(dir.resolve("a.xml"), xml.getBytes)
      val df = graft.sources.AltoReader.readDirectory(spark, dir.toString)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("SinglePartition"),
        s"ingest plan funnels through one partition:\n$p")
      assert(!p.contains("Window"), s"ingest plan should not need a window:\n$p")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("every capped pair site under its cap: ONE exchange on the site's " +
      "key into the bucket kernel; no capped collect, generator or lambda " +
      "before the pair aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{GenerateExec, MapGroupsExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.{Curation, Dedup, Multimodal}
    val docs = (0L until 40L).map(i =>
      (i, s"shared words for every doc number ${i % 7} with tail ${i % 3}"))
      .toDF("doc_id", "text")
    val junk = Array.fill[Byte](80)(7)
    val videos = Seq(20L, 21L).map(i =>
      Multimodal.MediaRow(i, "video/mp4", junk.clone(), Map.empty)).toDS()
    val delivery = Seq((1L, "a b"), (2L, "a b"), (2L, "b c")).toDF("did", "gram")
    val sizes = Seq((1L, 2L), (2L, 3L)).toDF("did", "dng")
    // (site, its pairs under the cap, the site's bucket key in exchange order)
    val sites: Seq[(String, () => DataFrame, Seq[String])] = Seq(
      ("minHashLshPairs", () => Dedup.minHashLshPairs(docs, maxBucket = 100000L),
        Seq("bkey", "band")),
      ("simHashPairs / hamming64Pairs",
        () => Dedup.simHashPairs(docs, maxBucket = 100000L), Seq("cval", "chunk")),
      ("ngramJaccardPairs", () => Dedup.ngramJaccardPairs(docs, maxDocFreq = 50L),
        Seq("gram")),
      ("winnowingOverlapPairs", () => Dedup.winnowingOverlapPairs(docs), Seq("fph")),
      ("incrementalNearDupKeepers within-delivery pairs",
        () => Curation.deliveryNearDupPairs(delivery, sizes, 0.2, 20L), Seq("gram")),
      ("videoNearDupPairs", () => Multimodal.videoNearDupPairs(videos), Seq("fhash")))
    // the plan from the root to `target`, both included
    def pathTo(p: SparkPlan, target: SparkPlan): Option[List[SparkPlan]] =
      if (p eq target) Some(List(target))
      else p.children.iterator.map(pathTo(_, target)).collectFirst {
        case Some(path) => p :: path }
    // the nodes below `p` down to, not into, the nearest exchanges
    def downToExchanges(p: SparkPlan): Seq[SparkPlan] = p match {
      case e: ShuffleExchangeExec => Seq(e)
      case o => o +: o.children.flatMap(downToExchanges)
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try sites.foreach { case (site, pairs, key) =>
      val plan = try pairs().queryExecution.executedPlan
        finally CacheRegistry.release(spark)
      val mapGroups = plan.collect { case m: MapGroupsExec => m }
      assert(mapGroups.size == 1, s"$site: expected one bucket kernel:\n$plan")
      val below = downToExchanges(mapGroups.head.child)
      val exchanges = below.collect { case e: ShuffleExchangeExec => e }
      val keys = exchanges.map(_.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map(_.references.head.name)
        case other => Seq(other.toString)
      })
      assert(keys == Seq(key),
        s"$site: expected ONE exchange on $key below the kernel, got $keys:\n$plan")
      // the pair aggregate and everything between it and the exchange
      val spine = pathTo(plan, mapGroups.head).get ++ below
      val offenders = spine.filter(n => n.isInstanceOf[ObjectHashAggregateExec] ||
        n.isInstanceOf[GenerateExec] ||
        n.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction])))
      assert(offenders.isEmpty, s"$site: ${offenders.map(_.nodeName)}:\n$plan")
      assert(plan.collect { case a: ObjectHashAggregateExec => a }.isEmpty,
        s"$site: unexpected ObjectHashAggregate:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
