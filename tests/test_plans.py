"""Plan-regression gates: pin the physical-plan properties that matter
at 100 TB — filters pushed into the parquet scan, columns pruned,
explicitly-broadcast dimensions actually broadcast, shuffle counts
bounded. Results staying correct is not enough; these fail when a
refactor silently degrades the plan.

Bounds are chosen to hold under AQE and at any scale factor: exact
column sets (scale-invariant), presence of pushed filters
(scale-invariant), and shuffle UPPER bounds (AQE may remove, never
add, exchanges vs the static plan).
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.plans import (  # noqa: E402
    broadcast_join_count,
    pushed_filters,
    scan_columns,
    shuffle_count,
)
from bazof_spark.workload import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def q(name, spark):
    return QUERIES[name](spark, SF_DIR)


def test_q6_scan_prunes_and_pushes(spark):
    df = q("q6_revenue_change", spark)
    cols = scan_columns(df)
    assert cols == [
        {"l_discount", "l_extendedprice", "l_quantity", "l_shipdate"}
    ], "q6 must read exactly its 4 columns from parquet"
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed
    assert shuffle_count(df) <= 1  # single global aggregate


def test_q1_scan_prunes_to_seven_columns(spark):
    df = q("q1_pricing_summary", spark)
    (cols,) = scan_columns(df)
    assert cols == {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }
    assert shuffle_count(df) == 1  # one groupBy, partial agg map-side


def test_asof_scan_pushes_event_time_filter(spark):
    df = q("asof_projection", spark)
    pushed = " ".join(pushed_filters(df))
    assert "event_time" in pushed, (
        "the as-of bound must reach the parquet reader for row-group pruning"
    )
    for cols in scan_columns(df):
        assert cols <= {"key", "event_time", "value", "_tmp_metadata_row_index"}, (
            f"projection must prune value columns at the scan, got {cols}"
        )


def test_explicit_dimension_broadcasts_survive(spark):
    # These queries broadcast dims explicitly with F.broadcast — a
    # regression to a shuffled join would multiply network cost at scale.
    for name, min_bcast in [
        ("agg_nation_customer_stats", 1),
        ("q2_min_cost_part", 1),
        ("q10_returned_items", 1),
        ("q16_supplier_variety", 2),
    ]:
        assert broadcast_join_count(q(name, spark)) >= min_bcast, name


def test_single_shuffle_queries(spark):
    # Window + top-k style queries must not introduce extra exchanges.
    for name in [
        "window_customer_order_rank",
        "window_moving_avg",
        "agg_nation_customer_stats",
        "dedup_exact",
    ]:
        assert shuffle_count(q(name, spark)) <= 1, name


def test_two_phase_aggregates_bounded(spark):
    # aggregate→join-back rewrites: at most 2 shuffles + the agg ones.
    for name, bound in [
        ("q13_order_count_distribution", 2),
        ("q17_small_quantity_revenue", 3),
        # rev subplan evaluated twice (once under MAX) → 2 agg shuffles
        # + one single-partition exchange for the scalar
        ("q15_top_supplier", 3),
        ("q11_important_balances", 2),
        # join shuffle + (order,supp) agg + order-level agg + join-back
        # + final top-k exchange; lineitem itself is scanned once
        ("q21_sole_fault_supplier", 5),
    ]:
        assert shuffle_count(q(name, spark)) <= bound, name


def test_fact_joins_prune_lineitem_scan(spark):
    # q5/q7: lineitem (the 100-TB table) must never read more than the
    # columns the query touches.
    for name, allowed in [
        (
            "q5_local_supplier_volume",
            {"l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"},
        ),
        (
            "q7_volume_shipping",
            {
                "l_orderkey",
                "l_suppkey",
                "l_extendedprice",
                "l_discount",
                "l_shipdate",
            },
        ),
    ]:
        df = q(name, spark)
        li_scans = [c for c in scan_columns(df) if any(x.startswith("l_") for x in c)]
        assert li_scans, f"{name}: no lineitem scan found"
        for cols in li_scans:
            assert cols <= allowed, f"{name}: lineitem scan reads {cols - allowed} extra"


def test_map_only_pipelines_have_no_extra_exchanges(spark):
    """quantize is pure map (0 shuffles); resize allows exactly the one
    rebalance repartition (its compute stage must not add exchanges)."""
    assert shuffle_count(q("embedding_quantize", spark)) == 0
    assert shuffle_count(q("multimodal_resize", spark)) <= 1
    # round-8 baseline-JPEG / GIF decodes: two chained mapInPandas
    # stages (synthesize → decode+stats) over the one _docs_par
    # rebalance
    assert shuffle_count(q("multimodal_jpeg_decode", spark)) <= 1
    assert shuffle_count(q("multimodal_gif_decode", spark)) <= 1
    assert shuffle_count(q("multimodal_gif_frame_sample", spark)) <= 1
    # round-9 progressive JPEG: same two map-only stages
    assert (
        shuffle_count(q("multimodal_jpeg_progressive_decode", spark)) <= 1
    )


def test_training_pipeline_queries_bounded(spark):
    # scans must prune to (doc_id, text); shuffle budget: rebalance/agg
    # + at most one window exchange
    for name, bound in [
        ("dataset_split", 1),
        ("sequence_packing", 1),
        ("corpus_clean", 2),
    ]:
        df = q(name, spark)
        assert shuffle_count(df) <= bound, name
        for cols in scan_columns(df):
            assert cols <= {"doc_id", "text"}, (name, cols)


def test_change_feed_prunes_both_scans_and_bounds_shuffles(spark):
    """scan_changes: each as-of side prunes to key/event_time/value
    (+tie-break index), merges with one shuffle per side, and the join
    adds no third full shuffle (broadcast here; SMJ reusing the per-key
    exchanges at scale)."""
    df = q("time_travel_changes", spark)
    for cols in scan_columns(df):
        assert cols <= {"key", "event_time", "value", "_tmp_metadata_row_index"}, (
            f"change feed must prune unprojected value columns, got {cols}"
        )
    assert shuffle_count(df) <= 2, "one merge shuffle per as-of side"


def test_guarded_minhash_plan_bounded(spark):
    """The degenerate-corpus-guarded minhash pipeline (round 3): scans
    prune to (doc_id, text); shuffle budget = collapse groupBy + the
    bucket-cap/self-join window exchange + the pair-dedup exchange, and
    the cap's count window must NOT add an exchange beyond the join's
    own partitioning (it shares (band, bhash))."""
    # pin the COLD plan: a prior test's executed persist() leaves an
    # InMemoryRelation that fresh logically-equal plans read through
    # extra exchanges
    spark.catalog.clearCache()
    df = q("dedup_minhash_lsh", spark)
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}, cols
    assert shuffle_count(df) <= 4, "collapse + band window/join + dedup"

    df = q("dedup_simhash", spark)
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}, cols
    assert shuffle_count(df) <= 4


def test_decontamination_corpus_never_key_shuffles(spark):
    """Corpus-shuffle contract: the probe side broadcasts and no KEY
    exchange touches the corpus — allowed exchanges are the two
    small-file rebalance repartitions (scale no-ops) and the final
    pair-dedup aggregate. A collapse/cap regression would add two more
    (measured 1.2s → 7s at sf0.1)."""
    df = q("decontamination", spark)
    assert broadcast_join_count(df) >= 1
    assert shuffle_count(df) <= 3, "corpus-side key shuffle crept in"


def test_real_codec_queries_are_map_only(spark):
    """WAV/BMP encode→decode round trips are two chained mapInPandas
    stages: zero exchanges, scans pruned to doc_id (+rebalance)."""
    for name in ("multimodal_wav_decode", "multimodal_bmp_decode"):
        assert shuffle_count(q(name, spark)) <= 1, name  # rebalance only


def test_corpus_quality_queries_bounded(spark):
    """New corpus-quality surface: pii_redaction is map-only after the
    rebalance; text_repetition pays the rebalance + two partial
    aggregates; the KMV sketch is one bounded-partial exchange and must
    prune the orders scan to its two columns."""
    df = q("pii_redaction", spark)
    assert shuffle_count(df) <= 1
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}

    df = q("text_repetition", spark)
    assert shuffle_count(df) <= 1  # map-only after the rebalance
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}

    df = q("sketch_distinct_kmv", spark)
    assert shuffle_count(df) <= 1
    assert scan_columns(df) == [{"o_orderpriority", "o_custkey"}]


def test_round2_queries_bounded(spark):
    """BM25 is array-native AND literal-injected (round 4): corpus
    stats are collected as one bounded row and inlined, so the returned
    plan is a single map-only scan + top-k — at most the rebalance
    exchange, no crossJoin, no broadcast, no cache. Repetition is
    map-only after the rebalance; the rollup pays one tail aggregate +
    one merge aggregate; the salted join broadcasts the dim (its only
    exchange is the final group-by) and prunes orders to its two
    columns."""
    df = q("bm25_search", spark)
    assert shuffle_count(df) <= 1
    assert broadcast_join_count(df) == 0
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}

    assert shuffle_count(q("text_repetition", spark)) <= 1

    assert shuffle_count(q("rollup_events_hourly", spark)) <= 2

    df = q("skew_salted_join", spark)
    assert shuffle_count(df) <= 1
    assert broadcast_join_count(df) >= 1
    for cols in scan_columns(df):
        if any(c.startswith("o_") for c in cols):
            assert cols <= {"o_orderpriority", "o_totalprice"}, cols

    assert shuffle_count(q("jsonl_roundtrip", spark)) == 0

    # the bucketed layout paid the join shuffle at write time: only the
    # final group-by may exchange
    assert shuffle_count(q("bucketed_colocated_join", spark)) <= 1

    # chunking is a pure map over documents
    df = q("doc_chunking", spark)
    assert shuffle_count(df) == 0
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}

    # cube/rollup-from-partials (round 4: native cube/rollup ON the
    # base inside one plan): ONE fact scan, ONE fact shuffle into the
    # finest aggregate, then the Expand replicates only base rows and
    # one more exchange re-aggregates them — 2 exchanges total, no
    # cache, no repeated scans (the previous union-of-levels shape was
    # ≤5 exchanges over a persisted base)
    df = q("agg_cube_orders", spark)
    assert scan_columns(df) == [{"o_orderstatus", "o_orderpriority", "o_totalprice"}]
    assert shuffle_count(df) <= 2

    df = q("agg_rollup_lineitem", spark)
    assert scan_columns(df) == [
        {"l_returnflag", "l_linestatus", "l_quantity"}
    ]  # ONE scan — the union encoding read lineitem three times
    assert shuffle_count(df) <= 2


def test_round3_semdedup_and_mixture_bounded(spark):
    """semdedup: assignment is computed once (persisted) and the final
    prune join broadcasts the pruned-id set — bounded exchanges, scan
    reads only (vec_id, embedding). mixture: the hash prefilter is a
    map-only scan predicate and the ONLY exchange is the rank window on
    the (already budget-sized) survivor set."""
    df = q("semdedup_prune", spark)
    assert shuffle_count(df) <= 3
    assert broadcast_join_count(df) >= 1
    for cols in scan_columns(df):
        assert cols <= {"vec_id", "embedding"}

    df = q("mixture_by_lang", spark)
    assert shuffle_count(df) <= 1
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "lang"}


def test_lm_unigram_score_broadcasts_model(spark):
    """The vocab model and its 1-row stats must broadcast — a shuffled
    join here would shuffle every exploded token at scale."""
    df = q("lm_unigram_score", spark)
    assert broadcast_join_count(df) >= 2  # model probe + stats cross join
    assert shuffle_count(df) <= 3  # vocab count, top-V, per-doc reduce


def test_gapfill_bounds_broadcast_and_single_fact_scan(spark):
    df = q("events_gapfill_hourly", spark)
    # bounds row + spine cross join broadcast; fact aggregated once
    assert broadcast_join_count(df) >= 1
    assert shuffle_count(df) <= 4


def test_rrf_joins_stay_bounded(spark):
    df = q("hybrid_rrf_search", spark)
    # candidate lists are top-k cuts; no full-corpus shuffle join beyond
    # the retrievers' own aggregations
    assert shuffle_count(df) <= 8


def test_gopher_filter_is_map_only(spark):
    df = q("gopher_quality_filter", spark)
    assert shuffle_count(df) == 0, "pure Column filter must not shuffle"
    (cols,) = scan_columns(df)
    assert cols == {"doc_id", "text"}


def test_funnel_and_retention_shuffle_on_user_only(spark):
    for name, bound in [("events_funnel", 8), ("events_retention_cohorts", 5)]:
        df = q(name, spark)
        assert shuffle_count(df) <= bound, name


def test_round4_queries_bounded(spark):
    """Round-4 additions: the kNN vote's exchanges carry candidate/vote
    rows (≤ queries×k), its corpus relation only ever crossJoins a
    broadcast query slice and joins a broadcast candidate set; the
    mergeable-sketch query pays exactly two sketch-sized aggregations
    (daily build + merge — the estimate is a map-only read-out); SCD2's
    two window passes share ONE key exchange (also pinned at the
    operator level in test_operators)."""
    df = q("knn_label_vote", spark)
    # +1 for the brute-force corpus rebalance (opt round 1: the scoring
    # pass is per-pair CPU with no upstream exchange; scale no-op)
    assert shuffle_count(df) <= 4
    assert broadcast_join_count(df) >= 2
    for cols in scan_columns(df):
        assert cols <= {"vec_id", "embedding", "label"}

    df = q("sketch_kmv_mergeable", spark)
    assert shuffle_count(df) <= 2
    assert scan_columns(df) == [{"event_type", "user_id", "ts"}]

    df = q("scd2_user_event_type", spark)
    assert shuffle_count(df) <= 1
    assert scan_columns(df) == [{"event_type", "user_id", "ts", "event_id"}]

    df = q("time_travel_changes_sql", spark)
    assert shuffle_count(df) <= 3
    assert broadcast_join_count(df) >= 1

    # weighted sampling: ONE key exchange, and Spark's WindowGroupLimit
    # runs BOTH map-side (partial top-k per partition — the mergeable
    # A-ES property the docstring cites) and after the exchange
    from bazof_spark.plans.inspect import _plan_nodes

    df = q("weighted_sample_docs", spark)
    assert shuffle_count(df) <= 1
    assert _plan_nodes(df).count("WindowGroupLimit") == 2


def test_zonemap_key_lookup_pushes_key_and_single_shuffle(spark):
    """Round-5 zone maps: beyond the metadata-time FILE pruning (pinned
    by inputFiles counts in tests/test_zonemap.py), the key-range row
    predicate must reach the parquet reader for row-group pruning, and
    the query stays the canonical one-shuffle merge."""
    df = q("zonemap_key_lookup", spark)
    pushed = " ".join(pushed_filters(df))
    assert "key" in pushed, (
        "the key-range predicate must reach the parquet reader"
    )
    assert shuffle_count(df) <= 1


@pytest.mark.usefixtures("executor_lookups")
def test_keyset_point_lookup_pushes_in_filter_and_single_shuffle(spark):
    """Round-5 key blooms: the point lookup's exact-key row predicate
    reaches the parquet reader as an In filter (row-group pruning
    inside admitted files; FILE admission itself is metadata-time,
    pinned by tests/test_bloom.py), and the merge stays one shuffle."""
    df = q("keyset_point_lookup", spark)
    pushed = " ".join(pushed_filters(df))
    assert "In(key" in pushed or ("key" in pushed and "In" in pushed), pushed
    assert shuffle_count(df) <= 1


def test_keyset_point_lookup_driver_route_runs_no_job(
    spark, driver_reads, spark_jobs
):
    """Driver-route twin: under the default broadcast threshold the
    point lookup reads the files the snapshot admits for its keys on
    the driver, plans a local relation (no scan, no exchange) and its
    collect runs no Spark job."""
    from bazof_spark.metadata import KeyRange
    from bazof_spark.sources.events import events_lakehouse

    table = events_lakehouse(spark, SF_DIR).table("events_versioned")
    admitted = {
        table.data_file_path(f)
        for f in table.get_current_snapshot().get_data_files(
            key_range=KeyRange.of_keys(["3", "7", "11"])
        )
    }
    driver_reads.clear()
    df = q("keyset_point_lookup", spark)
    assert set(driver_reads) == admitted
    assert shuffle_count(df) == 0
    with spark_jobs() as jobs:
        assert df.collect()
    assert jobs == []


def test_quality_model_score_is_map_only(spark):
    """Round-7 distilled quality scorer: the model is literals in the
    plan (6 doubles per feature) and scoring is regex counts +
    arithmetic — zero exchanges, scan pruned to (doc_id, text)."""
    df = q("quality_model_score", spark)
    assert shuffle_count(df) == 0
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}, cols


def test_pca_projection_is_map_only(spark):
    """Round-7 PCA: the model is ONE broadcast row and the projection
    is a nested JVM fold — zero exchanges, scan pruned to
    (vec_id, embedding)."""
    df = q("embedding_pca_project", spark)
    assert shuffle_count(df) == 0
    assert broadcast_join_count(df) >= 1
    for cols in scan_columns(df):
        assert cols <= {"vec_id", "embedding"}, cols


def test_source_priority_dedup_single_shuffle(spark):
    """Round-7 source-priority dedup: same ONE map-side-combined
    digest groupBy as dedup_exact (struct-min winner, no window, no
    second exchange); the priority list is a literal map, never a
    join."""
    df = q("dedup_source_priority", spark)
    assert shuffle_count(df) <= 1
    assert broadcast_join_count(df) == 0
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text", "source"}, cols


def test_span_dedup_two_hash_shuffles_no_pairs(spark):
    """Round-6 span dedup: chunking is map-only expressions, first-
    occurrence is ONE md5-keyed exchange (window), per-doc rollup is
    the second — a regression to pair generation or an extra exchange
    would be quadratic in duplicate-cluster size at corpus scale."""
    df = q("span_dedup", spark)
    assert shuffle_count(df) <= 2, "chunk-hash window + doc rollup only"
    assert broadcast_join_count(df) == 0
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}, cols


def test_pq_adc_encodes_map_only_and_broadcasts_lut(spark):
    """Round-6 PQ/ADC: the corpus is encoded in a map-only pass and
    scored against a BROADCAST per-query LUT (plus broadcast candidate
    /query joins in the exact re-rank) — a shuffled join here would
    move the whole corpus; the only exchanges are the two top-k
    windows (approx cutoff + final rank)."""
    df = q("embedding_ann_pq", spark)
    assert shuffle_count(df) <= 2, "approx top-R window + exact top-k window"
    assert broadcast_join_count(df) >= 3, "LUT + candidate ids + queries"
    for cols in scan_columns(df):
        assert cols <= {"vec_id", "embedding"}, cols


def test_ann_recall_pq_composition_bounded(spark):
    """The PQ recall harness composes brute-force + the ADC plan: the
    shuffle budget is the two PQ windows + brute-force top-k + the two
    recall aggregations and join; every corpus-sized join side stays
    broadcast."""
    df = q("ann_recall_pq", spark)
    # opt round 1: the harness references the exact subtree ONCE (left
    # join + single aggregate) — the budget drops from the old
    # double-exact shape's 9 to 8: two PQ windows + one brute-force
    # top-k window + its corpus rebalance + the hit pre-aggregation,
    # recall join and final per-query aggregate
    assert shuffle_count(df) <= 8
    assert broadcast_join_count(df) >= 4
    # opt round 1, session 2: the recall join broadcasts the bounded
    # ann-hit side — the planner cannot size the aggregates and fell
    # back to a SortMergeJoin between two top-k cuts (2 exchanges + 2
    # sorts; at 100 TB the exact side would shuffle). Pin: no SMJ
    # anywhere in the recall harness.
    from bazof_spark.plans.inspect import _plan_nodes

    assert "SortMergeJoin" not in _plan_nodes(df)
    for cols in scan_columns(df):
        assert cols <= {"vec_id", "embedding"}, cols


def test_ivfpq_and_trained_pq_plans_bounded(spark):
    """Round-7 ANN depth: the composed IVF-PQ and the trained-codebook
    PQ keep the ADC plan shape — map-only corpus pass (list assignment
    + encode in one select), broadcast LUT/candidate/query joins, two
    top-k windows. Any shuffled join here moves corpus-sized data."""
    for name in (
        "embedding_ann_ivfpq",
        "embedding_ann_pq_trained",
        "embedding_ann_opq",
        "embedding_ann_ivfpq_trained",
        "embedding_ann_ivfpq_residual",
        "embedding_ann_ivfpq_residual_trained",
    ):
        df = q(name, spark)
        assert shuffle_count(df) <= 2, name
        assert broadcast_join_count(df) >= 3, name
        for cols in scan_columns(df):
            assert cols <= {"vec_id", "embedding"}, (name, cols)
    for name in (
        "ann_recall_ivfpq",
        "ann_recall_pq_trained",
        "ann_recall_opq",
        "ann_recall_ivfpq_residual_trained",
    ):
        df = q(name, spark)
        # opt round 1: single-reference recall harness (left join +
        # one aggregate) — see test_ann_recall_pq_composition_bounded
        assert shuffle_count(df) <= 8, name
        assert broadcast_join_count(df) >= 4, name


def test_tombstone_and_update_scans_stay_one_shuffle(spark):
    """Round-6 DELETE/UPDATE: tombstone winners are hidden (and updated
    versions win) inside the SAME single map-side-combined merge
    exchange as a plain scan — the extensions must not add a second
    shuffle or un-prune the scan."""
    for name in (
        "delete_tombstone_scan",
        "update_set_scan",
        "merge_delete_scan",
        # round-8 multi-clause MERGE: deletes + upserts + inserts land
        # in ONE snapshot, and the post-merge scan must keep the plain
        # single-exchange merge plan
        "merge_multi_clause_scan",
        "merge_by_source_scan",
    ):
        df = q(name, spark)
        assert shuffle_count(df) <= 1, name
        for cols in scan_columns(df):
            assert cols <= {
                "key", "event_time", "event_id", "event_type", "value",
                "props", "_tombstone", "_tmp_metadata_row_index",
            }, (name, cols)


def test_dsir_weights_broadcast_ratio_bounded_shuffles(spark):
    """DSIR (round 9): the log-ratio model (≤256 rows, trained via two
    bounded distribution aggs at build time) must BROADCAST onto the
    exploded gram stream — the scoring plan is ONE per-doc exchange,
    nothing corpus-sized ever shuffles against the model."""
    df = q("dsir_importance_weights", spark)
    assert broadcast_join_count(df) >= 1, "ratio join must broadcast"
    assert shuffle_count(df) <= 2


def test_session5_map_only_pipelines(spark):
    """Round-9 session-5 ops that must stay exchange-free (modulo the
    rebalance): the BPE replace-chain encode, NFC normalization, URL
    canonicalization, the deflate round trip, and the three new codec
    queries (mp4/mkv/webp/g711) — all two chained map stages."""
    for name in (
        "bpe_tokenize",
        "text_nfc_normalize",
        "url_normalize",
        "deflate_decode_text",
        "compressed_text_roundtrip",
        "multimodal_mp4_frame_sample",
        "multimodal_mkv_frame_sample",
        "multimodal_webp_decode",
        "multimodal_g711_decode",
    ):
        assert shuffle_count(q(name, spark)) <= 1, name
        for cols in scan_columns(q(name, spark)):
            assert cols <= {"doc_id", "text"}, name


def test_sq8_broadcasts_queries_and_bounds_shuffles(spark):
    """Flat SQ8: the corpus-sized relation is scanned once map-only
    (quantize is a projection), the 10-query side broadcasts, and the
    only exchange is the per-query top-k window over (qid, cid, sim)
    triples."""
    df = q("embedding_ann_sq8", spark)
    assert broadcast_join_count(df) >= 1
    assert shuffle_count(df) <= 1


def test_filter_cascade_single_exchange(spark):
    """The composed pipeline gates are ONE projection; the only
    exchange is the dedup window's md5 hash partition."""
    df = q("filter_cascade", spark)
    assert shuffle_count(df) <= 2  # rebalance + md5 window
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}


def test_c4_and_line_dedup_are_map_only(spark):
    """The round-10 page-cleaning queries: every gate is a Column
    expression over one scan of (doc_id, text) — zero exchanges beyond
    the undersplit rebalance, zero Python."""
    for name in ("c4_quality_filter", "line_dedup_within_doc"):
        df = q(name, spark)
        assert shuffle_count(df) <= 1, name  # rebalance only
        for cols in scan_columns(df):
            assert cols <= {"doc_id", "text"}, name


def test_url_dedup_single_exchange(spark):
    """Canonical-URL dedup: normalization is map-side; the only
    exchange is the groupBy on the canonical URL (max_by combines
    map-side)."""
    df = q("url_dedup_best_doc", spark)
    assert shuffle_count(df) <= 2  # rebalance + url groupBy
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}


def test_audio_vad_map_only(spark):
    """WAV synth -> decode -> frame energies: two Arrow-batched
    map stages, no shuffle at all past the rebalance."""
    df = q("audio_vad_energy", spark)
    assert shuffle_count(df) <= 1


def test_parquet_footer_stats_map_only(spark):
    """Per-doc parquet write + from-spec footer parse: two Arrow-
    batched map stages, zero exchanges past the rebalance."""
    df = q("parquet_footer_stats", spark)
    assert shuffle_count(df) <= 1


def test_parquet_column_roundtrip_map_only(spark):
    df = q("parquet_column_roundtrip", spark)
    assert shuffle_count(df) <= 1


def test_multimodal_table_asof_bounded_exchanges(spark):
    """Binary-column time travel: each leg is ONE as-of merge exchange
    (the hash partition on key) feeding an Arrow-batched decode map
    stage — two legs unioned, so at most two exchanges and zero
    joins; decode adds no shuffle."""
    df = q("multimodal_table_asof", spark)
    assert shuffle_count(df) <= 2


def test_parquet_nested_roundtrip_map_only(spark):
    """Per-doc write + from-spec nested decode: two Arrow-batched map
    stages, zero exchanges past the rebalance."""
    df = q("parquet_nested_roundtrip", spark)
    assert shuffle_count(df) <= 1


def test_paragraph_dedup_corpus_plan(spark):
    """Cross-corpus paragraph dedup: paragraph build is a JVM array
    projection; the doc-frequency agg is one hash exchange; the
    frequent set is SIZE-GATED — its row count is COUNTED (capped
    limit(n+1) job) and only a within-budget set broadcasts into the
    probe, else the probe is a shuffled left join (the
    broadcast-vs-shuffle gate, not an unbounded forced broadcast, is
    what survives a real web corpus where the df>2 set scales with the
    data). On the test fixtures the 23 boilerplate variants are far
    below the gate, so the plan must take the broadcast arm; the
    shuffled arm is pinned separately by
    test_paragraph_dedup_gate_above_threshold."""
    df = q("paragraph_dedup_corpus", spark)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "rightHint=(strategy=broadcast)" in opt  # the gate chose to force
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # 8 = rebalance + freq-agg probe's 2 exchanges (INSIDE the cached,
    # already-materialized InMemoryRelation — counted by the walker but
    # never re-run) + doc re-group + AQE stage-reuse duplicates; the
    # live-at-query-time exchanges remain the documented 3
    assert shuffle_count(df) <= 8
    for cols in scan_columns(df):
        assert cols <= {"doc_id", "text"}


def test_paragraph_dedup_gate_above_threshold(spark, monkeypatch):
    """Above-gate arm of the paragraph-dedup broadcast gate: with the
    threshold forced to 0, no broadcast may be FORCED — the join hint
    must be absent from the optimized plan, leaving the
    broadcast-vs-shuffle choice to Catalyst's size statistics (which
    at real corpus scale see a huge relation and shuffle; on this tiny
    fixture they may still auto-broadcast, which is exactly right).
    Results must be IDENTICAL to the broadcast arm."""
    from bazof_spark import workload_r11

    df_b = q("paragraph_dedup_corpus", spark)
    rows_b = sorted(map(tuple, df_b.collect()))
    monkeypatch.setattr(workload_r11, "FREQUENT_BROADCAST_MAX", 0)
    df_s = q("paragraph_dedup_corpus", spark)
    opt = df_s._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt
    assert sorted(map(tuple, df_s.collect())) == rows_b


def test_image_dedup_ahash_single_exchange(spark):
    """Perceptual image dedup: synth + decode + hash are Arrow-batched
    map stages; the only exchange is the hash groupBy (count/min/max
    combine map-side)."""
    df = q("image_dedup_ahash", spark)
    assert shuffle_count(df) <= 2  # rebalance + hash groupBy


def test_ann_filtered_search_broadcasts_queries(spark):
    """Pre-filtered vector search: the 20-query slice must BROADCAST
    over the corpus (the lang predicate rides the broadcast join, so
    the corpus-sized relation never shuffles for the search); only
    per-query survivors reach the window exchange."""
    df = q("ann_filtered_search", spark)
    assert broadcast_join_count(df) >= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ann_index_asof_broadcasts_probe_lists(spark):
    """Versioned ANN index: each leg is one as-of merge exchange over
    the index table plus one id equi-join to attach vectors (bucketed
    at scale) and the per-query top-k window — the probe-list and seed
    relations must ride BROADCAST joins so the index/corpus side never
    shuffles for the search itself. Static bound: 2 merges + 2 id
    joins + 2 windows = 6 exchanges."""
    df = q("ann_index_asof", spark)
    assert broadcast_join_count(df) >= 4  # seeds + probe lists, per leg
    assert shuffle_count(df) <= 6
    for cols in scan_columns(df):
        assert cols <= {
            "key", "event_time", "list_id", "vec_id", "embedding",
            "_tmp_metadata_row_index",
        }


def test_cdf_mirror_scan_two_merges_no_joins(spark):
    """CDC mirror read: the mirror is an ordinary azof table, so the
    query is exactly two as-of merge exchanges (one per instant) and
    ZERO joins — proof the mirror materialized A's state instead of
    recomputing it from A at read time."""
    df = q("cdf_mirror_scan", spark)
    assert shuffle_count(df) <= 2
    assert broadcast_join_count(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_cdf_agg_view_scan_two_merges_no_joins(spark):
    """Aggregate-view read: the rollup is materialized in its own azof
    table, so the query is exactly two as-of merge exchanges over a
    #groups-sized relation and ZERO joins — proof the view holds the
    maintained totals instead of re-aggregating the source at read
    time (no exchange is corpus-sized)."""
    df = q("cdf_agg_view_scan", spark)
    assert shuffle_count(df) <= 2
    assert broadcast_join_count(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_datasource_dim_join_broadcasts_dim(spark):
    """Statistics-driven broadcast through the Data Source read path:
    the six-row dim's snapshot-recorded sizes put it under the
    broadcast threshold, so the join is a broadcast hash probe — no
    sort-merge exchange of the fact side beyond its own merge + the
    final agg. Without the snapshot statistics this exact plan would
    shuffle both sides (pinned in tests/test_broadcast_stats.py)."""
    df = q("datasource_dim_join", spark)
    assert broadcast_join_count(df) >= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert shuffle_count(df) <= 3  # fact merge, dim merge, final agg


def test_sketch_set_intersection_sketch_sized_wire(spark):
    """KMV set algebra: exactly ONE scan pruned to (event_type,
    user_id) and ONE map-side-combined global aggregate computing all
    three sketches (3·k longs per partition on the wire) — no joins,
    no re-scan per estimate."""
    df = q("sketch_set_intersection", spark)
    assert scan_columns(df) == [{"event_type", "user_id"}]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert shuffle_count(df) <= 1
    assert "partial_min" in plan.lower() or "HashAggregate" in plan


def test_heavy_hitters_bounded_exchange(spark):
    """MG heavy hitters: the summary pass is map-only (the scan prunes
    to the text column), and the only exchanges are the ≤ capacity·P
    summary merge + the k-row ranking window — never the corpus's
    distinct-item set as a full GROUP BY would shuffle."""
    from bazof_spark.operators.heavyhitters import mg_topk

    sc = spark.sparkContext
    sc.setJobGroup("hh_construct_probe", "mg_topk construction")
    try:
        # opt round 2: the error bound is computed IN-plan (window sum
        # over the merged sketch) — mg_topk construction must run ZERO
        # jobs; the old shape eagerly collected parts.agg(sum(rounds)),
        # executing the corpus summary pass twice per evaluation
        mg_topk(
            spark.range(0, 30).selectExpr("cast(id % 3 as string) as t"),
            "t", k=2, capacity=8,
        )
        assert list(
            sc.statusTracker().getJobIdsForGroup("hh_construct_probe")
        ) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    df = q("heavy_hitters_terms", spark)
    assert scan_columns(df) == [{"text"}]
    assert shuffle_count(df) <= 2
    assert broadcast_join_count(df) == 0
    # one corpus pass: exactly one Arrow-batched summary node in-plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1


def test_r12_pipeline_queries_bounded(spark):
    """tfidf: tf exchange + df window on term + per-doc top-k = 3,
    scan pruned to (doc_id, text); source caps: ONE window exchange,
    WindowGroupLimit cuts map-side; hard negatives: bounded query
    slice broadcasts, only the top-k window exchanges."""
    df = q("tfidf_top_terms", spark)
    assert shuffle_count(df) <= 3
    assert scan_columns(df) == [{"doc_id", "text"}]

    df = q("source_cap_sample", spark)
    assert shuffle_count(df) <= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # rank cutoff evaluated map-side

    df = q("hard_negative_mining", spark)
    assert shuffle_count(df) <= 1
    assert broadcast_join_count(df) >= 1
