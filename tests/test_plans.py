"""Plan-regression guards: the properties that make the battery scale must
survive refactors — no accidental cartesian products anywhere, pushed scan
filters and broadcast joins where the design depends on them."""

from __future__ import annotations

import re

import pytest

from scholarmind_spark.queries import SPARK_QUERIES

SF = "/root/testdata/sf0.001"

# build-time side effects (streaming drains, table writes, driver loops) —
# plan inspection would execute them; their plans are covered by their own
# tests/gate entries
SKIP = {
    "events_tumbling_stream", "events_sliding_stream", "events_session_stream",
    "events_stream_dedup", "events_stream_interval_join", "events_stream_enrich",
    "events_stream_anomaly",
    "events_stateful_user_stats", "bucketed_join_revenue", "dedup_clusters",
    "dedup_cluster_sizes",
    "jsonl_roundtrip", "partitioned_prune_events", "orc_roundtrip",
    "diag_jsonl_len", "diag_jsonl_hash", "diag_orc_ints", "diag_orc_price",
    # round-14: the streaming vector-index gate FOLDS state (3 manifest
    # commits) before querying — plan inspection would execute them; the
    # query-side plan (pruned base + delta resolve + broadcast probes)
    # is covered by the gate and the test_stream_merge.py vector tests
    "ann_index_stream",
    "ann_index_retire",
    # round-15: same device — ann_index_rerank folds the shared gate
    # state via _ann_index_state, ann_index_residual folds its own
    # residual-mode state inline; the query-side plans (pruned base +
    # delta resolve + broadcast probes, and the rerank's broadcast-hash
    # candidate join) are covered by the gates and test_stream_merge.py,
    # and the probe BNLJ is the ann_ivfadc_topk coarse-attach shape
    "ann_index_rerank",
    "ann_index_residual",
}

# deliberate broadcast nested-loop joins: the all-pairs exact baselines, the
# K-way centroid-assignment cross-product (K tiny, broadcast side), and the
# one-row scalar attaches (mixture rate derivation, BM25 corpus stats)
BNLJ_OK = {
    "ann_cosine_topk", "ann_ivf_topk", "kmeans_assign_cells",
    # round-13: PQ/ADC scores the encoded corpus against the broadcast
    # 5-query set (the ann_cosine_topk shape; the codebook itself is a
    # plan literal, join-free)
    "ann_pq_topk",
    # round-13: IVFADC's coarse assignment crosses the corpus/queries
    # with the broadcast 4-row coarse table (the ann_ivf_topk shape)
    "ann_ivfadc_topk",
    # round-14: the trained-codebook PQ gate inherits ann_pq_topk's
    # shape exactly (codebook inlined as literals, broadcast query set)
    "ann_pq_trained",
    # round-14: the refine stage inherits ivfadc's coarse BNLJ; the
    # rerank joins are broadcast-hash (candidates R x |q| rows)
    "ann_ivfadc_rerank",
    "dataset_mixture", "text_bm25_topk", "text_lm_score",
    "embed_centroid_classify", "source_vocab_overlap", "fk_audit",
    "events_mutual_information", "skew_key_report", "text_collocations",
    "events_daily_drift",
    # fuzzy_link's tiny-key path: keys of length <= d cross keys of
    # length <= 2d — both sets are DISTINCT strings, so alphabet-bounded
    # regardless of corpus size (the main PassJoin path is an equi-join)
    "link_fuzzy_vocab",
    # same tiny-key path via fuzzy_title_dedup: title keys of <= 2 chars
    # are the only BNLJ participants (the dominance join is an equi-join
    # on the high-cardinality normalized title)
    "lit_fuzzy_dedup",
    # round-8 batch 2: every entry below is a ONE-ROW scalar attach
    # (crossJoin of a broadcast single-row aggregate — k-min/kth, exact
    # counts, dim ranges, split sizes) or a ≤k-row sketch intersection;
    # no side grows with the data
    "sketch_distinct_kmv",
    "sketch_overlap_kmv",
    "sketch_cms_topk",
    "graph_triangles",
    "events_autocorrelation",
    "privacy_k_anonymity",
    "dataset_split_leakage",
    "events_zorder_locality",
    "sketch_join_size",
    "events_bootstrap_ci",
    "sketch_merge_incremental",
    "events_value_psi",
    # round-9: fuzzy_link's tiny-key path again (PassJoin side of the
    # multi-pass union; supplier names are all 18 chars, so the tiny
    # cross side is empty at runtime — the BNLJ exists only in the plan)
    "link_multipass",
    # round-9: the roundtrip's final assembly crossJoins five ONE-ROW
    # aggregates (match counts/digests, state sizes, digest flags)
    "dedup_ledger_roundtrip",
    # round-9 batch 2: ONE-ROW digest/flag attaches (fold==direct
    # comparisons) — no side grows with the data
    "events_hdr_quantiles",
    "sketch_bloom_membership",
    # round-9 batch 3: same shape — crossJoins of one-row mismatch
    # counters and state sizes
    "dedup_ledger_revise",
    # round-11: same device as dedup_ledger_revise — the final assembly
    # crossJoins ONE-ROW aggregates (surviving/retired sizes, the two
    # full-outer mismatch counters); no side grows with the data
    "dedup_ledger_retire",
    # round-12: the time-retention twin of dedup_ledger_retire — the
    # identical one-row-counters assembly (retained/expired sizes, the
    # two full-outer mismatch counters)
    "dedup_ledger_expire",
    # round-12: merge-on-read resolve self-verifier — same one-row
    # mismatch-counter assembly as retire/expire
    "dedup_ledger_mor",
    # round-12 batch 2: ONE-ROW broadcast attaches — the NB classifier
    # crossJoins its one-row class-totals and prior aggregates; the
    # CCNet buckets inherit text_lm_score's one-row vocab attach.
    # dedup_semantic needs NO whitelisting: its codebook is inlined as a
    # literal (k-sized by contract), so the plan is join-free up to the
    # cell-equi pair join
    "text_quality_classifier",
    "text_ccnet_buckets",
    # the one-row binding-scale attach of the token-mixture rate
    # derivation (the dataset_mixture shape with token totals)
    "dataset_token_mixture",
    # round-13: the up-sampling twin inherits the identical one-row
    # binding-scale attach (rates still |classes|-row broadcast)
    "dataset_token_mixture_upsample",
    # round-13: DSIR crossJoins the TWO one-row histogram totals (T, R)
    # into the m-bounded ratio table — both sides bounded by the
    # hashed-feature dimensionality, never the corpus
    "dataset_dsir_select",
    # one-row pruning-stat attaches + the one-row bitmap-map broadcast
    "orders_bloom_prune",
    # the tiny quantile-literal frame (2-3 rows) crossing the bounded
    # bucket table — both sides sketch-sized, never data-sized
    "events_hdr_by_type",
    # round-10: the roundtrip's final assembly crossJoins six ONE-ROW
    # aggregates (per-family state sizes + mismatch counters); the
    # drift gate crossJoins the one-row quantile-literal frame into the
    # bounded bucket state (the events_hdr_by_type shape, keyed)
    "sketch_ledger_roundtrip",
    "sketch_ledger_drift",
    "sketch_ledger_rollup",
    # the bounded key-tuples × probe-literals cross of the membership
    # answer (segments × 9 probes — state-cardinality, never data)
    "sketch_ledger_membership",
    # round-10: one-row digest/keep-ratio attaches + bloom_prune's
    # one-row bitmap-map broadcast (the orders_bloom_prune shape)
    "dedup_ledger_bloom",
}


def _plan(df) -> str:
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_no_cartesian_products(spark):
    offenders = []
    for name, fn in SPARK_QUERIES.items():
        if name in SKIP:
            continue
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            offenders.append(f"{name} (BNLJ)")
    assert offenders == []


@pytest.mark.parametrize(
    "name,needle",
    [
        # filters reach the parquet scan
        ("q6_forecast_revenue", "PushedFilters: [IsNotNull(l_shipdate)"),
        # dimension joins broadcast
        ("q5_regional_revenue", "BroadcastHashJoin"),
        ("lit_enrich_join", "BroadcastHashJoin"),
        # near-dup pair listing verifies candidates via vectorized array
        # intersection over the cached per-doc hash arrays (the prefix
        # self-join's strategy is size-based: broadcast at this tiny SF,
        # shuffle at scale)
        ("dedup_ngram_jaccard", "array_intersect"),
    ],
)
def test_plan_properties(spark, name, needle):
    assert needle in _plan(SPARK_QUERIES[name](spark, SF))


def test_scrub_hot_span_anti_join_broadcasts_via_aqe(spark):
    """boilerplate.scrub_repeated_spans deliberately carries NO broadcast
    hint on the hot-span anti-join: at min_docs=2 on a real crawl the
    hot-span list is corpus-scale, and a forced broadcast is a driver OOM
    at 100 TB.  The flip side must also hold: at gate scale the list is
    genuinely small, so AQE (not a hint) must still land the anti-join on
    a broadcast — bounding the hint-removal's local cost to
    genuinely-large hot lists.  Post-AQE plans only exist after
    execution, so this executes the gate query first."""
    df = SPARK_QUERIES["text_scrub_spans"](spark, SF)
    # execute the Dataset's OWN QueryExecution (a write would spawn a
    # separate one and leave this plan un-finalized); collect() retains
    # every output column, so nothing is pruned
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in final
    anti = [
        ln
        for ln in final.splitlines()
        if "LeftAnti" in ln or "left_anti" in ln.lower()
    ]
    assert anti, f"no anti-join in final plan:\n{final[:2000]}"
    assert all("BroadcastHashJoin" in ln for ln in anti), (
        "hot-span anti-join did not resolve to broadcast via AQE:\n"
        + "\n".join(anti)
    )


def test_embedding_pair_dot_evaluated_once(spark):
    """The Arrow pair dot in embedding_neardup_pairs feeds both the
    threshold filter and the rounded output column; it must run in ONE
    ArrowEvalPython node, not be re-evaluated for the projection."""
    plan = _plan(SPARK_QUERIES["dedup_embedding_cosine"](spark, SF))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1
