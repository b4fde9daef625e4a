package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanCount

/** File-scan budgets for headline queries — the CI guard for the
  * re-evaluation defect class (SCALING §8b): a lazily-composed subplan
  * consumed N times re-reads its sources N times, which at 100 TB is N
  * corpus passes. Every budget below is the MEASURED scan count of the
  * statically planned tree at the spec sf (see [[PlanCount.allNodes]]:
  * scan multiplicity is decided at planning; AQE runtime reuse can only
  * shrink it, so the static count is the honest upper bound and the
  * queries never need executing here). Multi-table joins legitimately
  * scan once per table (q5_join_multi: 6 tables, 6 scans), single-pass
  * rewrites scan once total (the round-8/9 dedup work), and the
  * known-breadth pipelines carry their audited count. A failure means a
  * plan change added a corpus pass; either restore the single evaluation
  * or re-audit and raise the budget deliberately (with the SCALING note
  * to match).
  *
  * Checkpoint-based operators (kmeans, bpe, clusters) are absent: their
  * scans run during checkpoint materialization, outside the plan this
  * spec walks, so a count here would measure nothing.
  */
class ScanBudgetSpec extends AnyFunSuite {
  import TestSpark._

  private val budgets: Seq[(String, Int)] = Seq(
    // single-scan: one pass over one table, the strongest shape
    "q1_agg" -> 1,
    "q2_scan_filter" -> 1,
    "q6_forecast_revenue" -> 1,
    "q_sort_limit" -> 1,
    "q_window_rank" -> 1,
    "q_grouping_sets" -> 1,
    "q_text_quality" -> 1,
    "q_pipeline_sample" -> 1,
    // the single-pass dedup rewrites (SCALING §7/§8a): one scan each —
    // the self-join spellings they replaced scanned twice
    "q_dedup_exact" -> 1,
    "q_dedup_minhash_pairs" -> 1,
    "q_dedup_simhash_pairs60" -> 1,
    "q_dedup_substring_spans" -> 1,
    // wide (two-base) keying adds a second rolling pass, NOT a second
    // scan: both hash arrays ride one projection of the one corpus read
    "q_dedup_substring_spans_wide" -> 1,
    "q_dedup_substring_spans_stride1" -> 1,
    // one scan per joined table / audited branch breadth
    "q_op_asof_join" -> 2,
    "q_op_range_join" -> 2,
    "q_pipeline_tokenize_pack" -> 2,
    "q3_join_topk" -> 3,
    "q_text_tfidf" -> 3,
    // the stored-index near-dup queries: the RETURNED plan (the query
    // half — the builds inside run eagerly, before this walk) reads the
    // 2 index tables + the batch side 4x (the batch is a 2-table union
    // whose signature subplan evaluates twice, the adjudicated trade in
    // the incrementalNearDups scaladoc). Crucially ZERO of these scans
    // is a corpus-text read — the operator's core scale claim, pinned.
    "q_dedup_minhash_index" -> 6,
    "q_dedup_minhash_index_bloom" -> 6,
    // the broadcast-sketch spelling must not change the scan shape: same
    // 6 reads, still zero corpus-text scans (the sketch rides a broadcast
    // handle, not a plan subtree)
    "q_dedup_minhash_index_bloom_bc" -> 6,
    "q_dedup_minhash_index_bloom_maintained" -> 6,
    // index-vs-index: exactly the 4 stored tables (2 band + 2 sig), zero
    // text scans on EITHER corpus — the operator's whole point
    "q_dedup_minhash_cross_index" -> 4,
    // persisted BM25 index query: postings scanned once per tf reference
    // (df branch + score join) plus once for the stored-postings qterm
    // derivation, doclens once per dl reference (totals + the tf JOIN dl
    // that supplies each document's length, whose df branch re-evaluates
    // it) — all INDEX tables; zero corpus-text scans, the operator's core
    // claim
    "q_op_bm25_index" -> 7,
    // hybrid-from-indexes capstone: the BM25 arm's index scans (as above)
    // + the ANN arm's stored cent/codebook/codes + the one-row probe read
    // — every scan an index table or the probe; corpus text and raw
    // corpus vectors never appear (rerank = 0 keeps them out of the plan)
    "q_pipeline_hybrid_rrf_indexed" -> 13,
    "q_dedup_minhash_index_append" -> 6,
    "q_dedup_minhash_index_compact" -> 6,
    // the materialized aggregate state: the RETURNED plan is ONE read of
    // the delta table (dedupe + merge happen in-plan) — the lifecycle
    // writes run eagerly inside the calls; the fact table is never in the
    // returned plan at all, the operator's whole point
    "q_op_agg_state" -> 1,
    "q_op_agg_state_compact" -> 1,
    "q_op_agg_state_retract" -> 1,
    // the cluster-state queries RETURN the persisted assignment — one
    // parquet read of dir/clusters, zero corpus-text scans (the CC work
    // runs eagerly inside the lifecycle calls, checkpoint-materialized
    // like kmeans/bpe — see the header note); pinned so the returned
    // state can never silently regress to a recompute-on-read plan
    "q_dedup_minhash_index_clusters" -> 1,
    "q_dedup_minhash_index_clusters_part" -> 1,
    "q_dedup_minhash_cluster_compact" -> 1,
    // two-state merge: each stored assignment is read once per relabel
    // branch and once by the extras anti-join (2 tables x 2) — bounded
    // and corpus-text-free; the merge CC itself is checkpoint-
    // materialized outside this plan
    "q_dedup_minhash_cluster_merge" -> 4,
    "q_join_nonequi_cdf" -> 4,
    // the composed ANN demos (VERDICT r13 #6): the 100 TB deployment shape
    // is the persisted build/serve split (q_ann_ivfadc_store/_append/
    // _compact — their returned plans read only stored index tables);
    // these single-call demos legitimately re-derive parts of their builds
    // in-plan, and the budgets pin that audited breadth so the composed
    // re-evaluation can never silently DEEPEN (the SCALING §8b defect
    // class). q_ann_ivfpq_residual / q_ann_ivfadc_rerank materialize their
    // training stages once (round 13), so their returned plans read
    // checkpoints plus only the probe/corpus scans counted here; the
    // ivfpq/recall composed arms carry their full audited static breadth.
    "q_ann_ivf" -> 4,
    "q_ann_ivf2" -> 4,
    "q_ann_topk" -> 2,
    "q_ann_lsh" -> 2,
    "q_ann_int8" -> 2,
    "q_ann_pq" -> 4,
    "q_ann_ivfpq" -> 8,
    "q_ann_ivfpq_residual" -> 2,
    "q_ann_ivfadc_rerank" -> 5,
    "q_ann_ivfpq_recall" -> 18,
    "q_ann_recall256" -> 10,
    "q5_join_multi" -> 6,
    "q_op_semdedup" -> 6,
    // audited breadth: gopher gate + bigram LM (train + corpus sides) +
    // median gate + paragraph dedup — wide by construction, pinned so it
    // cannot silently widen further
    "q_pipeline_curate" -> 16)

  budgets.foreach { case (name, budget) =>
    test(s"scan budget: $name runs <= $budget file scans") {
      val q = SparkEntry.registry.find(_.name == name)
        .getOrElse(fail(s"unknown query $name"))
      val scans = PlanCount.fileScanCount(q.run(spark, sfDir))
      assert(scans <= budget,
        s"$name runs $scans file scans (budget $budget): a subplan is " +
          "being re-evaluated — see SCALING §8b")
    }
  }
}
