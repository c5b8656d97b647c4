package graft

/** Plan-shape regression guard: the properties PLANS.md documents,
  * pinned as assertions so a lost pushdown, a lost broadcast, or a
  * lost operator rewrite fails the suite instead of silently costing
  * 100× at scale. */
class PlanShapeSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  test("q1_agg pushes the date filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
  }

  test("q5_region_revenue broadcasts every dimension") {
    val p = plan("q5_region_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
    assert(!p.contains("SortMergeJoin"), "a dimension join fell back to sort-merge")
  }

  test("top-k window idiom rewrites to the bounded-heap operator across queries") {
    // (q_window_rank keeps its plain window by design: a running-sum
    // window sits between the rank and its filter, so the rewrite
    // precondition — Filter directly over the rank window — fails)
    // q_stream_dedup_batch is the k=1 (first-seen) form of the idiom
    for (q <- Seq("q_tfidf", "q_stratified_sample", "q_stream_dedup_batch"))
      assert(plan(q).contains("TopKPerKey"), s"$q lost the TopKPerKey rewrite")
  }

  test("ranking memo-persists the tf matrix: every branch reads the cache, no rescan") {
    graft.ops.Release.sweep(spark) // drop any memo a prior test created
    // node-typed counts, not string counts: the InMemoryRelation DUMP
    // embeds its own build-plan FileScan, which a regex would miscount
    val sp = SparkEntry.queries("q_tfidf")(spark, sfDir).queryExecution.sparkPlan
    val fileScans = sp.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.size
    val memScans = sp.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s }.size
    assert(fileScans == 0 && memScans >= 2,
      s"tf and df branches must both read the persisted tf matrix " +
        s"(got $fileScans file scans, $memScans cache scans):\n${sp.toString.take(2000)}")
    graft.ops.Release.sweep(spark)
  }

  test("q_bm25 takes the global top-k without a full sort") {
    assert(plan("q_bm25").contains("TakeOrderedAndProject"))
  }

  test("q_topk_orders is a TakeOrdered, not a global sort") {
    assert(plan("q_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("scrub and token map stages read only the columns they use") {
    val p = plan("q_pii_scrub")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p.take(2000))
  }

  test("q_quality_model is a shuffle-free map stage plus only the output sort") {
    val p = plan("q_quality_model")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected only the orderBy range exchange, got $exchanges:\n${p.take(2000)}")
    assert(!p.contains("Join"), "a join crept into a pure map stage")
  }

  test("q_frame_sample never joins or aggregates — pure generate over the scan") {
    val p = plan("q_frame_sample")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p.take(2000))
    assert(p.contains("Generate explode"), "frame decimation should be a generator")
  }

  test("q_dedup_blocks carries exactly its two wide shuffles plus the output sort") {
    val p = plan("q_dedup_blocks")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"window + reassembly = 2 hash exchanges, got $hashEx")
  }

  test("q_profile computes every metric in one aggregation over one scan") {
    val p = plan("q_profile")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"profile must not rescan per metric, got $scans scans")
  }

  test("q_embed_quantize broadcasts the 64-row stats, never shuffles the corpus") {
    val p = plan("q_embed_quantize")
    assert(p.contains("BroadcastHashJoin"), "per-dimension stats should broadcast")
    assert(!p.contains("SortMergeJoin"), "stats join fell back to sort-merge")
  }

  test("q_quality_deciles: bounded histogram thresholds, one corpus scan, no percentile state") {
    graft.ops.Release.sweep(spark)
    val qe = SparkEntry.queries("q_quality_deciles")(spark, sfDir).queryExecution
    val p = qe.executedPlan.toString
    // the round-6 killer: percentile_disc partials buffer an
    // O(corpus-distinct-values) map into one final task
    assert(!p.contains("percentile_disc") && !p.contains("ObjectHashAggregate"),
      s"thresholds must come from the bounded count histogram:\n${p.take(2000)}")
    val sp = qe.sparkPlan
    val fileScans = sp.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.size
    val memScans = sp.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s }.size
    assert(fileScans == 0 && memScans >= 2,
      s"histogram and paint branches must both read the scored memo " +
        s"(got $fileScans file scans, $memScans cache scans):\n${sp.toString.take(2000)}")
    graft.ops.Release.sweep(spark)
  }

  test("q_dsir_weights paints the top-k flag with a broadcast join") {
    graft.ops.Release.sweep(spark)
    val p = plan("q_dsir_weights")
    // model join + topk paint join, both broadcast; neither may fall
    // back to a corpus-wide shuffle join
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 2 && !p.contains("SortMergeJoin"),
      s"model and topk paint joins must both broadcast (got $broadcasts):\n${p.take(2000)}")
    graft.ops.Release.sweep(spark)
  }

  test("q_attribution keeps the interval as a residual on one keyed join") {
    val p = plan("q_attribution")
    val joins = "Join".r.findAllIn(p).size
    assert(joins <= 2, s"one purchase-click join expected, got $joins join nodes")
  }

  test("an ingest micro-batch decision reads the signature lake at most twice") {
    import spark.implicits._
    graft.ops.Release.sweep(spark)
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    def good(t: String) = Seq(
      s"the cat ${t}aa big house", s"and dog ${t}bb warm garden",
      s"of bird ${t}cc tall market", s"to fish ${t}dd wide basket",
      s"a goat ${t}ee ripe apple", s"in lamb ${t}ff sweet pear",
      s"is wolf ${t}gg fresh plum").mkString(" ")
    val lakeDir = java.nio.file.Files.createTempDirectory("graft-plan-lake")
      .resolve("sigs").toString
    graft.sources.Sinks.appendSignatures(
      Seq((100L, good("lke"))).toDF("doc_id", "text"), lakeDir)
    val batch = Seq((1L, good("one")), (2L, good("lke")), (3L, "tiny doc"))
      .toDF("doc_id", "text")
    // the known side exactly as ingestStreamAppend builds it
    val known = graft.sources.Sinks.readSignatures(spark, lakeDir)
      .join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
    val eval = Seq((200L, good("evl"))).toDF("doc_id", "text")
    val sp = graft.streaming.Streams.ingestBatch(batch, known, eval, 10L, stops)
      .queryExecution.sparkPlan
    val lakeName = new java.io.File(lakeDir).getName
    val lakeScans = sp.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == lakeName) => s
    }.size
    info(s"$lakeScans lake scans in one decision")
    // one read for the band join's signatures, one for the id guard
    assert(lakeScans >= 1 && lakeScans <= 2,
      s"$lakeScans lake scans in one decision:\n${sp.toString.take(3000)}")
    graft.ops.Release.sweep(spark)
  }

  test("an append micro-batch decision reads the lake once, unshuffled, from the features") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.streaming.Streams
    graft.ops.Release.sweep(spark)
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    def good(t: String) = Seq(
      s"the cat ${t}aa big house", s"and dog ${t}bb warm garden",
      s"of bird ${t}cc tall market", s"to fish ${t}dd wide basket",
      s"a goat ${t}ee ripe apple", s"in lamb ${t}ff sweet pear",
      s"is wolf ${t}gg fresh plum").mkString(" ")
    val lakeDir = java.nio.file.Files.createTempDirectory("graft-plan-lake1")
      .resolve("sigs").toString
    graft.sources.Sinks.appendSignatures(
      Seq((100L, good("lke"))).toDF("doc_id", "text"), lakeDir)
    val batch = Seq((1L, good("one")), (2L, good("lke")), (3L, "tiny doc"))
      .toDF("doc_id", "text")
    val eval = Seq((200L, good("evl"))).toDF("doc_id", "text")
    // the decision exactly as ingestStreamAppend runs it: over the
    // materialized features
    val (feats, ck) = graft.ops.Checkpoints.tracked(
      Streams.ingestFeatures(batch, Streams.contaminatedCol(eval), 10L, stops),
      eager = true)
    try {
      val decision = Streams.appendDecision(feats, lakeDir)
      assert(decision.collect().map(_.getLong(0)).toSeq == Seq(1L))
      val plan = decision.queryExecution.executedPlan
      def kids(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)
      val lakeName = new java.io.File(lakeDir).getName
      def isLake(p: SparkPlan) = p match {
        case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.getName == lakeName)
        case _ => false
      }
      // every root-to-scan path of the executed plan, stage boundaries included
      def paths(p: SparkPlan): Seq[List[SparkPlan]] =
        if (isLake(p)) Seq(List(p)) else kids(p).flatMap(paths).map(p :: _)
      val lakePaths = paths(plan)
      assert(lakePaths.size == 1,
        s"${lakePaths.size} lake scans in one decision:\n${plan.toString.take(4000)}")
      def isBandJoin(p: SparkPlan) = p match {
        case j: BaseJoinExec =>
          (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "band_hash"))
        case _ => false
      }
      val fromJoin = lakePaths.head.dropWhile(!isBandJoin(_))
      assert(fromJoin.nonEmpty, s"the lake feeds no band join:\n${plan.toString.take(4000)}")
      val moved = fromJoin.filter(n => n.isInstanceOf[Exchange] || n.isInstanceOf[QueryStageExec])
      assert(moved.isEmpty,
        s"lake rows cross ${moved.map(_.nodeName)} before the band join:\n${plan.toString.take(4000)}")
      // the gates ran in the feature pass: no filter here reads the text
      val textFilters = all(plan).collect {
        case f: FilterExec if f.condition.references.exists(_.name == "text") => f
      }
      assert(textFilters.isEmpty, s"the decision re-evaluates a gate: $textFilters")
    } finally graft.ops.Checkpoints.release(ck)
    graft.ops.Release.sweep(spark)
  }

  test("q_dedup_minhash rescores on the band join: no join keyed on doc_id") {
    graft.ops.Release.sweep(spark)
    val sp = SparkEntry.queries("q_dedup_minhash")(spark, sfDir).queryExecution.sparkPlan
    val keys = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
    }
    assert(keys.nonEmpty, s"no join in the plan:\n${sp.toString.take(3000)}")
    assert(keys.flatten.forall(!_.endsWith("doc_id")),
      s"join keys $keys:\n${sp.toString.take(3000)}")
    graft.ops.Release.sweep(spark)
  }
}
