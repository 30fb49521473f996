package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Registry-wide physical-plan lint: every registered query is planned
  * (not run) at sf0.001 and swept for the two patterns that are
  * invisible at test scale and fatal at 100 TB —
  *
  *  - a non-broadcast cartesian join (both sides row-grained, row-count
  *    product blow-up). BroadcastNestedLoopJoin is deliberately NOT
  *    flagged: every registry use is `crossJoin(broadcast(agg))` of a
  *    1-row/bounded aggregate (the scalar-broadcast pattern), and the
  *    broadcast itself bounds that side or the job fails loudly;
  *  - a Window with an EMPTY partition spec (every row funnels through
  *    one reducer task).
  *
  * Ops that are justified carry an explicit whitelist entry with the
  * reason; anything new that trips the sweep fails the build until it
  * is either re-planned or consciously whitelisted. This is the
  * regression fence for the scale-shape claims the per-op scaladocs
  * make.
  */
class PlanGuardSpec extends SparkSpec {

  /** Unpartitioned windows that are fine because they run over
    * KEY-GRAINED frames (manifests / aggregates whose cardinality is
    * bounded by construction), never over row-grained data. */
  private val windowWhitelist: Map[String, String] = Map(
    "ext_compaction_plan" ->
      "offset window over the shard manifest (64 rows by construction)",
    "ext_length_histogram" ->
      "cumulative fraction over the bucket histogram (buckets, not rows)",
    "ext_dedup_threshold_sweep" ->
      "cumulative pair counts over the threshold grid (21 rows)",
    "q_gap_fill_daily" ->
      "lag over the daily calendar spine (one row per day)",
    "q_open_orders_daily" ->
      ("cumulative concurrency over the day-grain interval-boundary " +
        "spine (one row per calendar day)"),
    "ext_pack_offsets" ->
      "prefix-sum over per-partition totals (one row per partition)",
    "q_band_join_nearby_events" ->
      ("BandAgg's prefix-sum over per-partition totals (one row per " +
        "partition, the packOffsets shape)"),
    "q_band_join_skewed" ->
      ("BandAgg's prefix-sum over per-partition totals (one row per " +
        "partition, the packOffsets shape)"),
    "ext_pack_binpack" ->
      "prefix-count over per-partition totals (one row per partition)",
    "ext_pack_fill_report" ->
      "binPack's prefix-count over per-partition totals (one row each)",
    "ext_token_budget_select" ->
      "prefix-sum over per-partition totals (one row per partition)",
    "ext_tokenize_ids" ->
      "rank over the bounded-heap top-vocabSize vocabulary",
    "ext_classifier_auc" ->
      "cumulative negatives over the score-bin histogram (<= 1000 rows)",
    "ext_stratified_sample" ->
      "remainder ranking over the per-stratum size aggregate (G rows)",
    "q_abc_pareto" ->
      "prefix-sum over per-partition totals (one row per partition)",
    "ext_negative_sampling_table" ->
      ("paretoCumShare's prefix-sum over per-partition totals (one row " +
        "per partition)"),
    "ext_negative_sample_draws" ->
      ("the same prefix-sum window, inherited through the shared " +
        "sampling-table construction"),
    "ext_zipf_fit" ->
      "rank over the bounded top-N vocabulary (TakeOrdered upstream)",
    "ext_unimax_mix" ->
      ("waterfill sort/prefix/count windows over the per-source supply " +
        "aggregate (source cardinality, tens of rows)"),
    "q_churn_kaplan_meier" ->
      ("risk-set suffix sum + survival running product over the " +
        "lifetime-day grain (bounded by the observation window)"),
    "q_abc_xyz" ->
      ("paretoCumShare's prefix-sum over per-partition totals (one row " +
        "per partition), inherited for the ABC axis"),
    "ext_ks_test" ->
      ("two-series CDF prefix-sum over per-partition totals (one row " +
        "per partition, the packOffsets shape)"),
    "ext_wasserstein_drift" ->
      ("the ext_ks_test CDF prefix-sum plus the successor-first-value " +
        "lead, both over per-partition totals (one row per partition)"),
    "ext_mann_whitney" ->
      ("rank-mass prefix-sum over per-partition totals (one row per " +
        "partition, the packOffsets shape shared with ext_ks_test)"),
    "ext_feature_quantile_bins" ->
      ("distDiscPercentiles' prefix-sum over per-partition totals " +
        "(one row per partition, the packOffsets shape)"),
    "q_customer_value_migration" ->
      ("distDiscPercentiles' prefix-sum over per-partition totals, " +
        "inherited for both halves' quartile edges"),
    "q_spend_quartile_assign" ->
      ("distDiscPercentiles' prefix-sum over per-partition totals " +
        "(one row per partition, the packOffsets shape)"),
    "q_rfm_segments" ->
      ("distDiscPercentiles' prefix-sum over per-partition totals, " +
        "inherited per RFM axis"),
    "ext_score_percentile_bins" ->
      ("percentileBins' distDiscPercentiles prefix-sum over " +
        "per-partition totals"),
    "ext_preference_pairs" ->
      "percentileBins' distDiscPercentiles prefix-sum, inherited",
    "ext_bradley_terry" ->
      "percentileBins' distDiscPercentiles prefix-sum, inherited",
    "ext_curriculum_order" ->
      "percentileBins' distDiscPercentiles prefix-sum, inherited",
    "ext_feature_ecdf" ->
      ("ecdf's prefix-sum over per-partition totals (one row per " +
        "partition, the packOffsets shape)"))

  /** BroadcastNestedLoopJoins whose broadcast side is row-grained (no
    * aggregate/limit between the scan and the broadcast) but justified:
    * a QUERY BATCH bounded by the op's calling contract (a handful of
    * probe vectors selected by predicate), not by plan shape. At scale
    * the batch size is the caller's knob; the corpus side always
    * streams. Everything else that broadcasts an unbounded side fails
    * the lint — that exact shape shipped ext_bitext_margin_pairs'
    * corpus-sized broadcast in r5 (fixed to LSH candidates in r6). */
  private val bnlJoinWhitelist: Map[String, String] = Map(
    "ext_sim_bruteforce_topk" ->
      "broadcasts the bounded query batch (vec_id < 8 by contract)",
    "ext_sim_eval_metrics" ->
      "broadcasts the bounded query batch (vec_id < 8 by contract)",
    "ext_sim_hard_negatives" ->
      "broadcasts the bounded query batch (vec_id < 4 by contract)",
    "ext_sim_semihard_negatives" ->
      "broadcasts the bounded query batch (vec_id < 8 by contract)",
    "ext_sim_int8_topk" ->
      "broadcasts the bounded query batch (vec_id < 8 by contract)",
    "ext_sim_pq_topk" ->
      "broadcasts the bounded query batch (vec_id < 8 by contract)",
    "ext_hybrid_rrf_topk" ->
      "broadcasts the single semantic query vector (vec_id = 7)",
    "ext_rp_recall" ->
      ("broadcasts the bounded query batch twice (exact + reduced side, " +
        "vec_id < 8 by contract)"),
    "ext_mmr_rerank" ->
      "broadcasts the bounded query batch (vec_id < 8 by contract)",
    "ext_ndcg_at_k" ->
      "broadcasts the bounded query batch (vec_id < 8 by contract)")

  /** A broadcast side is row-bounded when every scan-to-root path passes
    * an aggregate, limit, or driver-side top-k — the shapes that shrink
    * cardinality to a key domain / constant before the broadcast. A
    * leaf scan with no such bound above it broadcasts corpus-sized
    * data. */
  private def rowBounded(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec |
         _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec |
         _: org.apache.spark.sql.execution.aggregate.SortAggregateExec |
         _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec |
         _: org.apache.spark.sql.execution.CollectLimitExec |
         _: org.apache.spark.sql.execution.GlobalLimitExec |
         _: org.apache.spark.sql.execution.LocalLimitExec => true
    // a CACHED subtree is as bounded as the plan that produced it — an
    // InMemoryTableScan over a persisted aggregate must not read as a
    // corpus-sized leaf (tripped first on ext_t_closeness's persisted
    // value-marginal broadcast)
    case imts: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      rowBounded(imts.relation.cachedPlan)
    // ...and the cached plan itself arrives wrapped in an AQE leaf
    case aqe: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      rowBounded(aqe.inputPlan)
    case leaf if leaf.children.isEmpty => false
    case other => other.children.forall(rowBounded)
  }

  /** ONE registry sweep shared by the plan-shape lint and the
    * cache-release lint below (r15): building all 353 queries at
    * sf0.001 — which executes their construction-time stats actions
    * (Transform's fused stats pass, the iterative loops' checkpoints) —
    * was this suite's entire wall clock, and it ran TWICE, once per
    * test; it was the longest pole of the whole parallel-grouped test
    * run. Both lints now read one sweep. Sequential by necessity: the
    * leak check asserts the SESSION-WIDE CacheManager is empty after
    * each query's release, which concurrent construction would
    * false-positive. */
  private case class SweepRow(name: String, planOffenses: Seq[String],
      leaked: Boolean, buildPlanMs: Long)
  private lazy val sweep: Seq[SweepRow] = {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.all.map { q =>
      val t0 = System.nanoTime()
      val plan =
        try q.run(spark, sf).queryExecution.sparkPlan
        finally graft.ops.CacheScope.releaseAll()
      val buildPlanMs = (System.nanoTime() - t0) / 1000000
      val leaked =
        !org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark)
      org.apache.spark.sql.graftbridge.Bridge.clearCache(spark)
      val offenses = Seq.newBuilder[String]
      if (plan.collect { case c: CartesianProductExec => c }.nonEmpty)
        offenses += s"${q.name}: CartesianProduct"
      val badWin = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (badWin.nonEmpty && !windowWhitelist.contains(q.name))
        offenses += s"${q.name}: unpartitioned Window"
      val badBnl = plan.collect {
        case j: BroadcastNestedLoopJoinExec =>
          val broadcastSide = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
            case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
          }
          (j, broadcastSide)
      }.filterNot { case (_, side) => rowBounded(side) }
      if (badBnl.nonEmpty && !bnlJoinWhitelist.contains(q.name))
        offenses += s"${q.name}: BroadcastNestedLoopJoin over a " +
          "row-grained broadcast side"
      SweepRow(q.name, offenses.result(), leaked, buildPlanMs)
    }
    // build+plan wall time per query, then the slowest ten: where the
    // sweep (and any query's planning) spends its time
    rows.foreach(r => println(f"sweep ${r.name}%-40s ${r.buildPlanMs}%8d ms"))
    println("sweep slowest 10 (build+plan ms):")
    rows.sortBy(-_.buildPlanMs).take(10).foreach(r =>
      println(f"  ${r.name}%-40s ${r.buildPlanMs}%8d"))
    rows
  }

  test("no registered query plans a cartesian join, a row-grained " +
      "unpartitioned window, or a corpus-sized nested-loop broadcast") {
    val offenders = sweep.flatMap(_.planOffenses)
    assert(offenders.isEmpty,
      s"scale-killer plan shapes:\n${offenders.mkString("\n")}")
  }

  test("q_band_join_skewed stays pair-free on the band-aggregate path") {
    // the skew-hardening claim is structural: the hot instant must never
    // materialize its cross product — the plan must carry BandAgg's
    // range-partitioned prefix machinery (__kind marker) and NO join
    // keyed on a time bucket (the pair-producing r13 path salted that
    // join; the r14 aggregate removed it — OpsSpec pins value
    // equivalence of BandAgg against the brute-force pair form)
    val q = Registry.all.find(_.name == "q_band_join_skewed").get
    val plan = q.run(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan.toString
    graft.ops.CacheScope.releaseAll()
    assert(plan.contains("__kind"),
      "band-aggregate prefix path no longer engages for the skewed query")
    assert(!plan.contains("__bucket"),
      "the pair-producing bucket join is back in the skewed band query")
  }

  test("ext_source_topics ranks via the bounded heap, not a vocab window") {
    // the per-source topic ranking must NOT plan a row_number window
    // over the (source, term) frame: a dominant source's distinct-term
    // vocabulary would funnel through one task's sort at web scale. The
    // scale-safe plan is the grouped TopKStrAgg (map-side ≤k per
    // (source, partition)) — assert the window is gone AND the heap
    // aggregate is present.
    val q = Registry.all.find(_.name == "ext_source_topics").get
    val plan = q.run(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    graft.ops.CacheScope.releaseAll()
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "ext_source_topics plans a Window — the vocab-sort scale-killer " +
        "the TopKStrAgg swap removed")
    assert(plan.toString.contains("topkstragg"),
      "ext_source_topics no longer ranks with the grouped TopKStrAgg heap")
  }

  test("AQE splits a runtime-skewed sort-merge join (the no-salt fallback)") {
    // the OTHER half of the skew story: when a hot key is only known at
    // runtime, AQE's skew-join split — not salting — is the mitigation.
    // This pins that the engine's sessions actually get that behavior:
    // a key with ~100x the median partition size, thresholds lowered to
    // test scale, must execute as SortMergeJoin(isSkewJoin=true).
    import org.apache.spark.sql.functions.{col, lit, when}
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    // 50k left rows, 90% on key 7; right side uniform over 100 keys
    val left = s.range(0, 50000).select(
      when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 100)
        .as("k"), col("id").as("lv"))
    val right = s.range(0, 100).select(col("id").as("k"),
      (col("id") * 2).as("rv"))
    val joined = left.join(right, "k")
    // execute THIS queryExecution (collect, not count: count builds a
    // separate QueryExecution and the adaptive plan here would never
    // finalize)
    assert(joined.collect().length == 50000)
    // string match, not node collect: the final adaptive plan nests the
    // join inside QueryStageExec wrappers, which are leaf nodes to
    // collect() — the rendered plan is the reliable surface
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), plan.take(500))
    assert(plan.contains("SortMergeJoin(skew=true)") &&
      plan.contains("AQEShuffleRead skewed"),
      "AQE no longer splits the deliberately skewed join — " +
        s"runtime skew mitigation is off:\n${plan.take(1500)}")
  }

  test("oracle lint: every tokenizing trim uses the char-set form") {
    // DuckDB's one-arg trim() strips SPACES only while the Spark
    // tokenizer/normalizer side uses ScalarFns.strip (all \s) — a
    // space-only trim in an oracle is the cross-engine-divergence bug
    // class the round-6 sweep fixed (and the review then caught three
    // missed sites: PSI's doubled-text branch, fpSql, the langid
    // normalizer). This lint walks EVERY registered oracle: each trim(
    // argument must carry the chr(9)..chr(13) char-set unless it is the
    // documented space-only pairing `length(trim(x))` (which mirrors
    // Spark functions.trim exactly) or an l/rtrim.
    Registry.oracleSql.foreach { case (name, sql) =>
      var i = sql.indexOf("trim(")
      while (i >= 0) {
        val prev = if (i > 0) sql.charAt(i - 1) else ' '
        if (prev != 'l' && prev != 'r') {
          var depth = 1
          var j = i + 5
          while (depth > 0 && j < sql.length) {
            if (sql.charAt(j) == '(') depth += 1
            else if (sql.charAt(j) == ')') depth -= 1
            j += 1
          }
          val arg = sql.substring(i, j)
          val spaceOnlyOk =
            sql.substring(math.max(0, i - 7), i).endsWith("length(")
          assert(arg.contains("chr(9)") || spaceOnlyOk,
            s"[$name] space-only trim in oracle SQL (diverges from the " +
              s"Spark side's all-whitespace strip): ${arg.take(80)}")
        }
        i = sql.indexOf("trim(", i + 1)
      }
    }
  }

  test("events ts range filter reaches the parquet scan as a pushed filter") {
    // The events loader normalizes ts on top of the scan (nanos rebuild
    // or NTZ→LTZ cast, Tables.scala). At 100 TB, time-range pruning on
    // the events table is THE critical scan optimization — this pins
    // that Catalyst still rewrites a ts predicate onto the scan column
    // (verified for the NTZ path: UnwrapCastInBinaryComparison), so a
    // future loader change that breaks pushdown fails here, not in a
    // production profile.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, lit}
    val df = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("ts") > lit("2024-06-01").cast("timestamp"))
    val pushed = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(_.contains("GreaterThan(ts")),
      s"ts range predicate no longer pushes to the events parquet scan: " +
        s"PushedFilters=$pushed")
  }

  test("no registered query leaks a cached plan after CacheScope release") {
    // the round-1 bench pathology (persist-and-never-unpersist slowly
    // evicting the executor store) made structural: after building each
    // query and releasing its CacheScope, the session-wide CacheManager
    // must be empty again — checked per query by the shared sweep above
    val leakers = sweep.filter(_.leaked).map(_.name)
    assert(leakers.isEmpty,
      s"queries leaving cached plans behind:\n${leakers.mkString("\n")}")
  }
}
