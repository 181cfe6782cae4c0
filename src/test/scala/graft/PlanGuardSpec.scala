package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{FileSourceScanExec, GlobalLimitExec, LocalLimitExec, LocalTableScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Registry-wide plan-quality gate, one loop over `SparkEntry.registry`:
  *
  *  1. no CartesianProduct (the all-pairs shape that sinks at scale);
  *  2. no external eval (BatchEvalPython / ArrowEvalPython) — everything
  *     stays on the JVM codegen path;
  *  3. a BroadcastNestedLoopJoin (the allowed non-equi form) must
  *     broadcast a STRUCTURALLY bounded side — an aggregate, a limit, a
  *     literal table, or a catalog-tiny dim scan — never a data-sized
  *     input, which would OOM the driver at 100 TB;
  *  4. a shuffle join (SortMergeJoin / ShuffledHashJoin) must never have a
  *     side consisting solely of catalog-tiny dim scans (region, nation) —
  *     those are broadcast-or-bust.
  *
  * Streaming queries (the t-family, including t19's RocksDB
  * transformWithState) are excluded: their `build` EXECUTES the stream
  * (OpsSmokeSpec covers them end-to-end) and the returned sink table's
  * plan is just a memory scan, so auditing it would assert nothing about
  * the streaming topology.
  */
class PlanGuardSpec extends SparkSpec {

  private val skipped = Set(
    "t3_stream_alert_filter", "t5_stream_latest_state",
    "t6_foreachbatch_overwrite", "t11_stream_windowed_agg", "t11_throughput",
    "t12_stream_dedup", "t13_stream_table_mirror",
    "t14_stream_stream_join", "t15_stream_merge_upsert",
    "t16_stream_session_window", "t17_stream_append_eviction",
    "t18_stream_outer_join", "t19_transform_with_state",
    "t20_stream_dedup_within_watermark", "t21_stream_static_enrich")

  test("x9_tfidf_topterm: document frequency is never a term-partitioned window") {
    // A Window.partitionBy(term) has no map-side partials and AQE cannot
    // split it: every (doc, term) row of a stopword lands in one task at
    // corpus scale. The plan must keep term-keyed work in HashAggregate
    // (partial+final) and only window by doc_id for the per-doc argmax.
    val plan = SparkEntry.queries("x9_tfidf_topterm")(spark, sf)
      .queryExecution.executedPlan.toString
    // windowspecdefinition's first argument is the partition key; `w` (the
    // term column) must never be it.
    assert(!plan.matches("(?s).*windowspecdefinition\\(w#.*"),
      s"x9 windows by term — skew-unsplittable at scale:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"x9 lost its partial-aggregated df side:\n$plan")
  }

  test("x26_span_dedup: first-occurrence election is a hash agg + join, not a span window") {
    // same skew argument as x9: a window partitioned by span hash would
    // funnel every occurrence of a boilerplate span into one task. The
    // election must stay HashAggregate(min(struct)) + shuffle join.
    val plan = SparkEntry.queries("x26_span_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.matches("(?s).*windowspecdefinition\\(h#.*"),
      s"x26 windows by span hash — skew-unsplittable at scale:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"x26 lost its partial-aggregated election:\n$plan")
  }

  test("GraphOps rounds: neighborhood minima are hash aggs, never node-partitioned windows") {
    // same skew argument as x9/x26, applied to the connected-components
    // closure: a window partitioned by node has no map-side partials and
    // AQE cannot split it, so a mega duplicate component (one boilerplate
    // cluster = 20% of a web corpus) funnels every edge of the component
    // through ONE task per round, ~2*log(n) times. The round must keep the
    // neighborhood minimum in HashAggregate (partial+final) and join it
    // back (AQE-skew-splittable).
    import SparkSpec.spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    for ((name, round) <- Seq(
        "largeStar" -> graft.operators.GraphOps.largeStar(edges),
        "smallStar" -> graft.operators.GraphOps.smallStar(edges))) {
      val plan = round.queryExecution.executedPlan.toString
      assert(!plan.contains("windowspecdefinition"),
        s"GraphOps.$name windows by node — skew-unsplittable at scale:\n$plan")
      assert(plan.contains("HashAggregate"),
        s"GraphOps.$name lost its partial-aggregated neighborhood min:\n$plan")
    }
  }

  test("x74_domain_cap: election threshold is a sketch aggregate, never a " +
    "domain-partitioned window") {
    // the row_number()-per-domain formulation would funnel a mega-domain
    // through one task; the plan must keep the bottom-cap election in a
    // (partial+final) aggregate and apply it with an equi-join.
    val plan = SparkEntry.queries("x74_domain_cap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"),
      s"x74 windows by domain — skew-unsplittable at scale:\n$plan")
    assert(plan.contains("graft_bottom_k"),
      s"x74 lost its bottom-cap sketch election:\n$plan")
  }

  test("x27_triangle_count: every join is a hash/sort-merge equi-join") {
    // the wedge and closing joins must stay equi-joins on computed keys;
    // a nested-loop form would re-introduce the all-pairs shape the
    // degree orientation exists to avoid.
    val plan = SparkEntry.queries("x27_triangle_count")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"x27 fell back to nested-loop join:\n$plan")
  }

  private val tinyDimFiles = Set("region.parquet", "nation.parquet")

  private def isTinyDimScan(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec =>
      tinyDimFiles.exists(t => f.metadata.get("Location").exists(_.contains(t)))
    case _ => false
  }

  /** A broadcast side that cannot grow with the data: an aggregation
    * (cardinality = group count of a keyed/global agg used as a scalar or
    * bounded set), a literal table, or a catalog-tiny dim. Anything else
    * broadcast under a nested loop is a scale hazard.
    */
  private def structurallyBounded(p: SparkPlan): Boolean =
    (p.collectFirst {
      case a: HashAggregateExec => a
      case a: ObjectHashAggregateExec => a
      case a: SortAggregateExec => a
      case l: LocalTableScanExec => l
      case l: GlobalLimitExec => l
      case l: LocalLimitExec => l
      case l: TakeOrderedAndProjectExec => l // the K-row centroid sample
      case r: RangeExec => r // literal spine (e.g. d8's 10-row threshold grid)
    }).isDefined || p.collectLeaves().forall(isTinyDimScan)

  /** ANN queries broadcast the QUERY-VECTOR side under the non-equi
    * similarity join. That side is bounded by API contract (the
    * Graft.ann* scaladoc: "queries are broadcast — keep that side
    * small"; here a 10-vector `vec_id < 10` slice), not by plan
    * structure, so the structural check cannot see it. Listed explicitly
    * rather than loosening the check to accept any filtered scan — that
    * would gut the gate.
    */
  private val contractBoundedBroadcast = Set(
    "v1_ann_bruteforce_topk", "v2_ann_ivf_topk", "v3_embedding_neardup",
    "v4_ann_kmeans_topk", "v10_ann_recall_eval",
    // MIPS family: same broadcast-the-query-side contract as v1/v2
    "v13_mips_topk", "v14_mips_ivf_recall",
    // two-stage rerank: stage 1 broadcasts the (slim, prefix-only) query
    // side under the candidate-generation join — same contract as v1
    "v15_rerank_two_stage",
    // hard-negative mining broadcasts the query side under the
    // label-mismatch non-equi join — same contract as v1
    "v19_hard_negatives",
    // MRL recall runs one v1-shape arm per prefix dim — same contract
    "v21_mrl_recall",
    // binary-Hamming candidate gen broadcasts the PACKED query side (two
    // longs per query vector) under the non-equi join — same contract
    "v22_binary_hamming_topk",
    // probes curve runs one v1-shape ground-truth arm + per-probe IVF arms
    // over the same broadcast query side — same contract
    "v24_recall_vs_probes",
    // int8 serving broadcasts the QUANTIZED query side (codes + one
    // scale per query vector) under the non-equi join — same contract
    "v25_int8_ann_topk",
    // filtered recall's exact arm is bruteForceTopK over the filtered
    // corpus with the same broadcast query side — same contract as v10
    "v35_ann_filtered_recall",
    // OOD scoring broadcasts the 16-row k-means centroid set under the
    // assignment join — the v4 contract (the checkpoint pin hides the
    // LIMIT from the structural check, hence the contract entry)
    "v28_ood_centroid_score",
    // MMR candidate generation broadcasts the query side under the v1
    // non-equi join; the greedy stages then broadcast per-query selection
    // rows (≤ 1 row per query) — same contract as v1/v15
    "v30_mmr_diversify",
    // JL recall: ground-truth arm is v1-shape; the projected arm
    // broadcasts the PROJECTED query side (32 longs per query vector)
    // under the same non-equi join — same contract as v1/v21
    "v32_jl_projection_recall",
    // nDCG/MRR eval: both arms are v1/v2-shape searches over the same
    // broadcast 10-vector query side — same contract as v10
    "v33_ndcg_mrr_eval",
    // serving recall monitor: the exact-truth arm is bruteForceTopK over
    // the demo query set (vec_id < 5) — same contract as v10/v33
    "serve_vec_recall")

  for (q <- SparkEntry.registry if !skipped(q.name)) {
    test(s"${q.name}: no cartesian product, no external eval, bounded broadcasts") {
      val df = q.build(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans an all-pairs cartesian:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ArrowEvalPython"),
        s"${q.name} leaves the JVM:\n$plan")
      // tree-walk the pre-AQE physical plan for the structural invariants
      val phys = df.queryExecution.sparkPlan
      phys.foreach {
        case b: BroadcastNestedLoopJoinExec =>
          val bcast = b.buildSide match {
            case BuildLeft => b.left
            case BuildRight => b.right
          }
          assert(structurallyBounded(bcast) || contractBoundedBroadcast(q.name),
            s"${q.name} nested-loop-broadcasts a data-sized side:\n$bcast")
        case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec) =>
          j.children.foreach { side =>
            val leaves = side.collectLeaves()
            assert(!(leaves.nonEmpty && leaves.forall(isTinyDimScan)),
              s"${q.name} shuffle-joins a catalog-tiny dim (broadcast it):\n$j")
          }
        case _ => ()
      }
    }
  }
}
