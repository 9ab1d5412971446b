package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression guards on the two headline plan shapes (the cheap
  * mirror of `BucketedJoinSpec`'s zero-Exchange assert): c8's
  * dictionary join must stay a broadcast hash join — the 100 TB fact
  * side never shuffles for the join — and q1's shipdate predicate
  * must reach the parquet scan as a pushed filter over a pruned
  * column set. A silent fallback to a shuffled join or a full-schema
  * scan is exactly the regression that stays invisible at test scale
  * and dominates at 100 TB. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** Runs `df`, then walks its final adaptive plan: `FileScan` nodes
    * per source (the scanned path's last segment, e.g.
    * `documents.parquet`) and the number of `ReusedExchange` nodes. A
    * reused exchange is not walked again, so a subplan that exchange
    * reuse shares counts its scans once. */
  private def scansPerSource(df: org.apache.spark.sql.DataFrame): (Map[String, Int], Int) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => Seq(r)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan)
    val scans = nodes.collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.getName).mkString(",") }
    (scans.groupBy(identity).map { case (k, v) => k -> v.size },
      nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  test("sites without staging read each source once: exchange reuse shares the subplan") {
    // One input per build-time intermediate whose scratch-Parquet
    // staging was deleted: its consumers sit in one plan, and without
    // the stage they must still scan each source exactly once, the
    // repeated subplan served by a ReusedExchange. A second FileScan of
    // a source here means the stage paid and should come back.
    for ((site, df) <- Seq(
        "simhashPairVerdict (l13)" -> (() => SparkEntry.queries("l13_simhash_neardup")(spark, sf)),
        "simhashPairVerdict (l13b)" -> (() => SparkEntry.queries("l13b_simhash_verdict")(spark, sf)),
        "lshCandidatesOf (l4 bands)" -> (() => ops.LlmText.lshCandidates(spark, sf)))) {
      val (scans, reused) = scansPerSource(df())
      assert(scans == Map("documents.parquet" -> 1), s"$site scans per source: $scans")
      assert(reused >= 1, s"$site: expected a ReusedExchange in the final plan")
    }
  }

  test("c8 dictionary join plans as BroadcastHashJoin (fact never shuffles)") {
    val df = SparkEntry.queries("c8_broadcast_dict_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join, plan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"dim join must not shuffle the fact side, plan:\n$plan")
  }

  test("l27 quantization is a pure narrow map (scan→project; only the presentation sort exchanges)") {
    val df = SparkEntry.queries("l27_embedding_quantize")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected at most the orderBy's range exchange, plan:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"),
      s"quantization must stay a per-row map, plan:\n$plan")
  }

  test("c14 join hints select their physical operators (join_algorithm mapping)") {
    def planOf(hint: String): String =
      ops.Joins.c14JoinWithHint(spark, sf, hint).queryExecution.executedPlan.toString
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"), "shuffle_hash hint ignored")
    assert(planOf("merge").contains("SortMergeJoin"), "merge hint ignored")
    assert(planOf("broadcast").contains("BroadcastHashJoin"), "broadcast hint ignored")
  }

  test("c15 interval join plans as a hash equi-join on band, not a nested loop") {
    val df = SparkEntry.queries("c15_banded_range_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the interval⋈events core must be a hash join keyed on the band;
    // the only acceptable nested loop would be a dim-sized cross —
    // an NLJ against the event stream is the shape this op exists to avoid
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"expected an equi join on band, plan:\n$plan")
  }

  test("q3 top-10 plans as TakeOrderedAndProject (no global sort materializes)") {
    val df = SparkEntry.queries("q3_shipping_priority")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-K operator, plan:\n$plan")
  }

  test("l30 semantic decontamination broadcasts the eval set (corpus never shuffles for the probe)") {
    val df = SparkEntry.queries("l30_semantic_decontaminate")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"eval set must broadcast, plan:\n$plan")
  }

  test("c6 asof join plans join-free (union + carry-forward window, no pair blow-up)") {
    val df = SparkEntry.queries("c6_asof_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected carry-forward window, plan:\n$plan")
    // no join operator of any kind: the pair blow-up stage must not exist
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
      !plan.contains("ShuffledHashJoin") && !plan.contains("NestedLoopJoin"),
      s"asof must be the union+window rewrite, not a range join, plan:\n$plan")
  }

  test("e6 funnel keeps bounded per-group state (no collect_list event buffer)") {
    val df = SparkEntry.queries("e6_window_funnel")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString + "\n" +
      df.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"),
      s"funnel must not buffer per-user event history, plan:\n$plan")
  }

  test("l37 verify stage joins only on candidate ids (no all-pairs product against the corpus)") {
    val df = ops.LlmPipeline.verifiedPairs(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"Jaccard verify must stay candidate-sized (equi joins only), plan:\n$plan")
  }

  test("l37 exact-rep map is a partial-agg shape, not a per-key window (viral-dup skew)") {
    // VERDICT r17 #4: Window.partitionBy(h) puts every copy of a viral
    // exact-duplicate on one task; groupBy(h).agg(min) gets map-side
    // partial aggregation. Pin: at least one partial HashAggregate and
    // zero WindowExec in the rep-map plan.
    val df = ops.LlmPipeline.exactRepMap(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"rep map must not use a per-key window, plan:\n$plan")
    assert(plan.contains("HashAggregate") && plan.contains("partial_min"),
      s"expected partial-aggregating min per hash, plan:\n$plan")
  }

  test("k10 read-back prunes yyyymm directories (PartitionFilters + fewer files touched)") {
    import org.apache.spark.sql.functions._
    // running the query performs the partitioned write and returns the
    // pruned read-back — the engine's own layout, not testdata's
    SparkEntry.queries("k10_partitioned_write")(spark, sf).collect()
    val out = graft.Engine.scratch(spark, sf, "k10_parts")
    val all = spark.read.parquet(out)
    val pruned = all.filter(col("yyyymm").between(199701, 199703))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("yyyymm"),
      s"yyyymm filter must prune at the directory level, plan:\n$plan")
    // proof the pruning is effective, not just declared: the pruned scan
    // touches strictly fewer concrete files than the full table holds
    val filesAll = all.select(input_file_name()).distinct().count()
    val filesPruned = pruned.select(input_file_name()).distinct().count()
    assert(filesPruned > 0 && filesPruned < filesAll,
      s"expected a strict subset of files: pruned=$filesPruned all=$filesAll")
  }

  test("q5 join spine: date filter pushed to orders scan, fact never cartesian, dims broadcast") {
    val df = SparkEntry.queries("q5_local_supplier")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast, plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no unkeyed join anywhere in the spine, plan:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"),
      s"order-date range must reach the orders scan, plan:\n$plan")
    // only the final aggregate + presentation sort may shuffle at test SF
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"fact side should not shuffle for dim joins here, plan:\n$plan")
  }

  test("d6 exact quantiles plan is rank-select: no collect-all percentile buffer") {
    val df = SparkEntry.queries("d6_quantiles")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the builtin `percentile` aggregate is the collect-every-value
    // buffer that cannot survive 3 groups × 100 TB — it must not appear
    assert(!plan.contains("percentile"),
      s"builtin percentile buffer must not appear, plan:\n$plan")
    // the rank-select shape: monotone bucket kernel + per-bucket
    // row_number + broadcast of the tiny candidate/target tables
    assert(plan.contains("sortable_double_bits"), s"bucket kernel missing, plan:\n$plan")
    assert(plan.contains("row_number"), s"rank window missing, plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate/target tables must broadcast, plan:\n$plan")
  }

  test("q1 scan shows pushed shipdate filter and pruned ReadSchema") {
    val df = ops.Basics.q1PricingSummary(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"shipdate filter must reach the scan, plan:\n$plan")
    // pruning proof: unused wide columns never leave the reader
    assert(!plan.contains("l_comment"),
      s"scan must not read unprojected columns, plan:\n$plan")
  }

  test("l10's demo-pair stage broadcasts the bounded side (no raw-scan cartesian)") {
    // A bare CartesianProduct schedules |left splits| × |right splits|
    // TASKS — ~1 s on a single-file table, 350-414 s of scheduling on
    // sf100's 4,000-file layout (round-12 find). The bounded side must
    // broadcast so the shape is BNLJ at |left splits| tasks. (l18's
    // identical demoComponents fix can't be pinned here: its CC
    // fixpoint materializes, so the final plan starts from an
    // ExistingRDD and the pair stage is upstream of it.)
    val plan = SparkEntry.queries("l10_ngram_jaccard")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "l10 must not plan a raw-scan cartesian (task count multiplies on " +
        s"SPLITS, not rows), plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"l10 expected BNLJ over the broadcast bounded side, plan:\n$plan")
  }

  test("l44's pair stage co-partitions on the cluster key (no cartesian, no BNLJ)") {
    // SemDeDup's whole scale argument is Σ n_c² pairs via an EQUI-join
    // on the cluster id — if Catalyst ever plans the self-join as a
    // cartesian/BNLJ the op degrades to n² over the full corpus.
    val plan = SparkEntry.queries("l44_semantic_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"l44 pair stage must equi-join on cluster, plan:\n$plan")
  }

  test("l45 DSIR scoring joins broadcast the bounded model (corpus never shuffles for it)") {
    // The scale contract of both DSIR variants: the model is a bounded
    // table (1024 hash buckets / top-64 vocab bigrams) that BROADCASTS
    // into the corpus-sized scoring join — a shuffled join here would
    // exchange the full exploded bigram stream per scoring pass.
    for (q <- Seq("l45_dsir_weights", "l45b_dsir_verdict")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$q expected a broadcast scoring join, plan:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q must not plan a cartesian, plan:\n$plan")
    }
  }

  test("l48 first-occurrence prune runs map-side (partial WindowGroupLimit before the exchange)") {
    // The keep-first rule compiles to rn=1 over (PARTITION BY chunk),
    // which Catalyst turns into WindowGroupLimit with a PARTIAL
    // instance BELOW the chunk exchange: each map task forwards at
    // most one candidate row per local chunk, so the shuffle carries
    // ~distinct-chunks rows, not the full chunk stream — the property
    // that keeps the op linear at 100 TB. Pin both instances.
    val df = SparkEntry.queries("l48_exact_substr_dedup")(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    val n = "WindowGroupLimit".r.findAllIn(plan).size
    assert(n >= 2, s"expected partial+final WindowGroupLimit, found $n:\n$plan")
    import org.apache.spark.sql.execution.window.WindowExec
    val global = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "l48 must not plan an unpartitioned window")
  }

  test("h8d ARRAY JOIN text keeps the pushed scan filter under the Generate") {
    // The dialect rewrite must not block pushdown: the WHERE written
    // AFTER the ARRAY JOIN clause still reaches the parquet scan.
    val df = SparkEntry.queries("h8d_array_join_sql")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), s"expected explode Generate:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(p_partkey), LessThanOrEqual(p_partkey,200)]"),
      s"p_partkey filter must reach the scan:\n$plan")
  }

  test("d34/d35/e15 plan no global windows (every WindowExec is partitioned)") {
    // The r13 forms ran Window.orderBy with no partition — a
    // single-task sort of an input that GROWS with the data (distinct
    // event values / the per-customer rollup). The r14 staged
    // range-exchange forms must keep every window partitioned (__pid);
    // this pin makes the bench log's `WindowExec: No Partition
    // Defined` warning an executable assert instead of a log grep.
    // queryExecution.sparkPlan (pre-AQE) so collect() traverses the
    // whole tree rather than stopping at the adaptive wrapper.
    import org.apache.spark.sql.execution.window.WindowExec
    // d36 joins the list in r15: its rank machinery must stay on the
    // staged __pid windows; e17's windows must stay per-user.
    // l46 joins in r16: groupedNtile's windows must stay partitioned
    // by (lang, __pid), never a bare per-language partition.
    for (q <- Seq("d34_mann_whitney", "d35_ks_test", "e15_rfm_segmentation",
        "d36_spearman", "e17_sessions_gap", "l46_ccnet_buckets")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val global = df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty,
        s"$q plans ${global.size} unpartitioned WindowExec node(s) — " +
          "a single-task sort at scale")
    }
  }
}
