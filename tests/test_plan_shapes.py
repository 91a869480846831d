"""Physical-plan regression tests: pin the efficiency claims (exchange
counts, broadcast choices, zero-shuffle projections) for flagship queries
so a refactor that silently degrades a plan — an extra shuffle, a broadcast
that fell back to sort-merge — fails CI, not the 100 TB run.

Counts mirror tools/dump_plans.py; plans are captured at sf0.001 BEFORE
execution (AQE may improve them further at runtime, never worsen these
static properties)."""

import pytest


def _shape(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        # RoundRobin repartitions are the deliberate narrow-scan fan-out
        # guard (session.fan_out), not data-keyed shuffles — exclude them
        "ex": plan.count("Exchange")
        - plan.count("BroadcastExchange")
        - plan.count("RoundRobinPartitioning"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
    }


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as ent

    return ent.queries()


SF = "/root/testdata/sf0.001"

# (query, max exchanges, min broadcast joins, max sort-merge joins)
EXPECTATIONS = [
    # pure projections must stay shuffle-free
    ("text_quality", 0, 0, 0),
    ("text_ngram_diversity", 0, 0, 0),
    ("text_html_strip", 0, 0, 0),
    ("text_pii_scrub", 0, 0, 0),
    ("embedding_quantize_int8", 0, 0, 0),
    ("curation_split", 0, 0, 0),
    # single-exchange window/agg spines
    ("asof_last_event", 1, 0, 0),
    ("asof_forward_event", 1, 0, 0),
    ("asof_nearest_event", 1, 0, 0),  # both carries reuse one partitioning
    ("events_rollup_reuse", 2, 0, 0),
    ("curation_hashed_features", 2, 0, 0),
    # dimension joins must broadcast, not sort-merge
    ("c14_date_diff_iso", 1, 1, 0),
    ("text_tfidf_topk", 3, 1, 0),
    # r4: unstubbed image pipeline is a pure mapInPandas chain — no shuffle
    ("multimodal_image_roundtrip", 0, 0, 0),
    # r4: exact similarity join post-checkpoint — pair join + verify only,
    # never a cartesian (length filter lives inside the equi-join)
    ("dedup_prefix_join", 4, 2, 2),
    # r6: WARC roundtrip is one applyInPandas groupBy + a shuffle-free
    # mapInPandas parse — payloads never shuffle
    ("warc_ingest_roundtrip", 1, 0, 0),
    # r9: the anchor self-join is PINNED to sort-merge — post-checkpoint
    # stats are bogus-small (1.8 MB reported for 13.2M rows) and the old
    # broadcast detonated maxResultSize at sf10; shuffle_hash was tried
    # and also dies there (hash-relation build memory).  SMJ spills, so
    # its 100 TB failure mode is slowness, not an error.  Exchanges: two
    # join sides + the diagonal window; ONE SMJ; never a broadcast of
    # the data-sized anchors
    ("dedup_substring_spans", 3, 0, 1),
    # r6: CDC apply = LWW window + ONE full outer join (sort-merge: full
    # outer cannot broadcast), nothing else
    ("cdc_apply_customers", 2, 0, 1),
    # r6: every BM25 dim broadcasts; top-k must plan as
    # TakeOrderedAndProject (asserted separately below), never a global
    # window exchange
    ("text_bm25_topk", 5, 4, 0),
    # r6 continuation: the codec fingerprint is a pure mapInPandas chain;
    # the digest is ONE map-side-combinable aggregate; EWMA and VAD are
    # single bounded-window passes
    ("multimodal_image_ahash", 0, 0, 0),
    ("quality_group_digest", 1, 0, 0),
    ("events_trailing_ewma", 1, 0, 0),
    ("multimodal_vad_segments", 1, 0, 0),
    # URL dedup = one expression pass + one groupBy (+ the distinct-form
    # count's partial); seasonal screen = count agg + one window
    ("web_url_canonical_dedup", 2, 0, 0),
    ("events_seasonal_anomaly", 2, 0, 0),
    # CDC family: conflicts = two windows sharing one key exchange + a
    # broadcastable touched-keys join; time-travel = the cdc_apply plan
    # + the broadcast watermark; IVM's delta joins broadcast at dim size
    ("cdc_merge_conflicts", 2, 1, 0),
    ("cdc_time_travel", 3, 0, 1),
    ("cdc_incremental_agg", 4, 1, 0),
    # hybrid RRF: every query-side dim broadcasts (dense queries, lexical
    # query tokens); fusion adds ONE leg-sized exchange, never corpus
    ("similarity_hybrid_rrf", 5, 4, 0),
    # fanout guardrail: two per-key counts + key-level merge; the one SMJ
    # is the full-outer key merge (cannot broadcast)
    ("profiling_join_fanout", 3, 0, 1),
    # r8 mining family: pure projections stay shuffle-free; reports are
    # bounded-key aggregates; every dimension join broadcasts; the
    # unrolled-iteration queries (domain mixture, MMR) checkpoint their
    # tiny per-round state so the FINAL plan is flat (was 255 / 40
    # exchanges before the checkpoints — pinned here so a refactor that
    # drops one re-detonates the test, not the cluster)
    ("text_readability", 0, 0, 0),
    ("text_tokenizer_fertility", 1, 0, 0),
    ("curation_sequence_packing", 1, 0, 0),
    ("profiling_histogram_equiwidth", 2, 0, 0),
    # r12: the three report rows inline off ONE sufficient-stats
    # aggregate (was 3 unioned copies of the scan+agg subtree)
    ("profiling_numeric_correlation", 1, 0, 0),
    # r9: the max_block valve moved INTO the plan (no eager guard job) —
    # its per-block count is the one exchange; the guard dim broadcasts
    ("er_fuzzy_part_pairs", 1, 2, 0),
    ("events_bot_detection", 3, 2, 0),
    ("events_dau_wau_mau", 4, 0, 0),     # range join vs the day dim is BNL
    ("text_langid_confusion", 3, 1, 0),
    ("analytics_holt_linear", 2, 0, 0),
    ("graph_resource_allocation", 2, 3, 0),
    ("curation_dedup_tradeoff", 3, 0, 0),
    ("curation_domain_mixture", 0, 0, 0),
    ("similarity_mmr_rerank", 0, 0, 0),
    # r9 skew family: salted agg = exactly the two-phase pair (salt+key
    # then key); value-salted distinct adds count_distinct's rewrite
    # exchange; the salted join shuffles fact + replicated dim + final
    # roll-up and must NOT sort-merge (shuffle_hash asserted below)
    ("skew_salted_agg_revenue", 2, 0, 0),
    ("skew_salted_distinct_orders", 3, 0, 0),
    ("skew_salted_join_supplier", 3, 0, 0),
    # r9 continuation: sample-then-verify heavy hitters — the candidate
    # set must BROADCAST into the verify scan (the whole point: the
    # exact-count shuffle carries only candidate rows); the 5 exchanges
    # are the two count-aggregate passes + three 1-row totals.  The KM
    # table's exchanges are the user rollup, the duration rollup, the
    # 1-row user count, and the calendar-bounded single-task window.
    ("sketch_sampled_heavyhitters", 5, 1, 0),
    ("events_survival_hazard", 5, 0, 0),
    # PIT/SCD2 join: ONE user-keyed exchange feeds both window passes AND
    # the entity-keyed join (range predicate rides as a residual filter,
    # never a cartesian); the chunker is a pure generator projection
    ("join_scd2_point_in_time", 2, 0, 1),
    ("curation_chunk_overlap", 0, 0, 0),
    # DiD: one conditional-aggregate pass + the 1-row span broadcast
    ("events_uplift_did", 2, 0, 0),
    # r9 stats batch: PPS main plan = scan -> broadcast of the eager
    # 256-row offsets dim -> ONE bucket-keyed window (+ the dim's grand
    # total); chi2 = one data groupBy + the 15-row cell windows; the
    # rank-sum main plan runs entirely on the checkpointed cells
    # relation (its exchanges are cell-bounded, the data shuffle ran
    # once in the checkpoint job) and must never sort-merge
    ("curation_pps_sample", 2, 1, 0),
    ("analytics_chi2_independence", 3, 1, 0),  # post-checkpoint: grid-bounded
    ("analytics_rank_sum_test", 6, 1, 0),
    # distributed exact quantiles: same checkpointed-cells spine as the
    # rank-sum; every exchange is cell- or dim-bounded, no parquet scan
    # in the main plan (asserted structurally below)
    ("profiling_quantiles_distributed", 8, 1, 0),
    # Lorenz/Gini: per-customer checkpoint -> sweep -> decile
    # containment; KW: (value,group) cells checkpoint -> sweep -> the
    # rank join-back PINNED to sort-merge (value-cardinality sides with
    # bogus-small post-checkpoint stats must never broadcast)
    # (r12: the prefix-sum relation is checkpointed — the totals agg and
    # the decile filter no longer replay the sweep subtree, so the final
    # plan is the one totals exchange over the materialized relation)
    ("profiling_gini_concentration", 1, 0, 0),
    ("analytics_kruskal_wallis", 12, 1, 1),
]


@pytest.mark.parametrize("name,max_ex,min_bhj,max_smj", EXPECTATIONS)
def test_plan_shape(spark, registry, name, max_ex, min_bhj, max_smj):
    s = _shape(registry[name](spark, SF))
    assert s["ex"] <= max_ex, f"{name}: {s['ex']} exchanges > {max_ex}"
    assert s["bhj"] >= min_bhj, f"{name}: {s['bhj']} broadcast joins < {min_bhj}"
    assert s["smj"] <= max_smj, f"{name}: {s['smj']} sort-merge joins > {max_smj}"


def test_bm25_topk_plans_take_ordered(spark, registry):
    """The corpus top-k must compile to TakeOrderedAndProject (distributed
    per-partition top-k) — a global row_number window would drag every
    matched doc through one task."""
    plan = (
        registry["text_bm25_topk"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_salted_agg_two_phase_partitioning(spark, registry):
    """The salted aggregate's defining property: the FIRST exchange
    partitions by (key, salt) — the hot key spread over B cells — and
    the SECOND by key alone.  A refactor that collapses the phases
    (one exchange on the bare key) re-creates the straggler this
    operator exists to kill."""
    plan = (
        registry["skew_salted_agg_revenue"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    parts = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(parts) == 2, parts
    # executed plans list the downstream (key-only) exchange first
    key_only = [p for p in parts if "_groupingexpression" not in p
                and "__pxs_salt" not in p]
    salted = [p for p in parts if "_groupingexpression" in p
              or "__pxs_salt" in p]
    assert len(key_only) == 1 and len(salted) == 1, parts


def test_salted_join_plans_shuffle_hash_not_smj(spark, registry):
    """The salted join must plan as ShuffledHashJoin on (key, salt) —
    never sort-merge (pointless sort of the replicated dim) and never
    broadcast (the operator models the dim-too-big-to-broadcast
    regime; broadcasting would silently bypass the salt entirely)."""
    plan = (
        registry["skew_salted_join_supplier"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "__pxs_salt" in plan  # the salt is IN the join key


@pytest.mark.parametrize("name", ["skew_salted_agg", "skew_salted_join"])
def test_salted_queries_use_deterministic_row_salt(spark, registry, name):
    """Salting has one implementation, operators/skew.py: the salt is
    ``row_salt``'s xxhash64 of row columns, so a recomputed or retried
    task re-derives the same salt.  A salt drawn from
    ``monotonically_increasing_id()`` depends on the partition layout."""
    plan = (
        registry[name](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "monotonically_increasing_id" not in plan
    assert "xxhash64" in plan
    if name == "skew_salted_join":
        # the salt only spreads the probe side if the join is shuffled
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan


def test_substring_anchor_join_never_broadcasts(spark, registry):
    """The anchors relation is data-sized; after localCheckpoint its
    stats are bogus-small (measured 1.8 MB for 13.2M rows) and an
    unhinted plan BROADCASTS it — which killed the sf10 run with 2 GiB
    of build-collect task results (and a shuffle_hash pin died there
    too: hash-relation build memory).  Pin: SortMergeJoin — the one
    spill-safe strategy — and zero BroadcastHashJoin in the subtree."""
    plan = (
        registry["dedup_substring_spans"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" not in plan


# A window is bucket-PARTITIONED iff its spec's FIRST element is the bare
# bk column followed by a comma: "windowspecdefinition(bk#9L, v#2 ASC...".
# An unpartitioned global window merely ORDERED by bk — the single-task
# regression these pins exist to catch — stringifies with a sort
# direction instead: "windowspecdefinition(bk#9L ASC NULLS FIRST, ...",
# which a bare startswith("windowspecdefinition(bk#") cannot distinguish.
_BK_PARTITIONED = __import__("re").compile(r"^windowspecdefinition\(bk#\d+L?,")
# The ACROSS-bucket offsets window is allowed to be unpartitioned ONLY in
# its dim-bounded form: ordered by bk alone with the frame following
# immediately (<= n_buckets rows).  An unpartitioned window that orders by
# bk and then DATA columns is the single-task global sort in disguise.
_BK_DIM_WINDOW = __import__("re").compile(
    r"^windowspecdefinition\(bk#\d+L? (ASC|DESC) NULLS (FIRST|LAST),"
    r" specifiedwindowframe"
)


def _bk_partitioned(spec: str) -> bool:
    return bool(_BK_PARTITIONED.match(spec))


def _bk_dim_window(spec: str) -> bool:
    return bool(_BK_DIM_WINDOW.match(spec))


def test_pps_main_plan_single_scan_bucketed_window_only(spark, registry):
    """The sweep's materialize="offsets" contract: the PPS main plan
    scans the corpus ONCE (the offsets dim ran as its own tiny job) and
    its only window is PARTITIONED by the bucket — the single-task
    global-cumsum shape must never reappear over the data."""
    import re

    df = registry["curation_pps_sample"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
    assert len(specs) == 1 and _bk_partitioned(specs[0])


def test_rfm_scalable_never_global_sorts(spark, registry):
    """The scalable RFM's reason to exist: every window must be
    PARTITIONED by the sweep bucket — the textbook three-global-ntile
    shape (an unpartitioned windowspecdefinition over all customers in
    one task) must never reappear.  The main plan reads the final
    inter-pass checkpoint (no parquet scan) and joins only broadcasts
    (the 256-row offsets dim + the 1-row stats)."""
    import re

    df = registry["analytics_rfm_scalable"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 0
    specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
    assert specs and all(_bk_partitioned(sp) for sp in specs)
    assert "SortMergeJoin" not in plan


def test_rank_sum_main_plan_runs_on_checkpointed_cells(spark, registry):
    """The cells relation is eagerly checkpointed, so the main rank-sum
    and quantile plans must contain NO parquet scan (every branch reads
    the materialized cells) and their bucket windows must be
    partitioned."""
    for name in ("analytics_rank_sum_test", "profiling_quantiles_distributed",
                 "profiling_mad_outliers", "profiling_histogram_equidepth"):
        df = registry[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 0, name
        import re as _re

        specs = _re.findall(r"windowspecdefinition\([^)]*\)", plan)
        assert any(_bk_partitioned(sp) for sp in specs), name
        # and NO window in these main plans may be an unpartitioned
        # DATA-sized sort: every spec is either bucket-partitioned or the
        # <=256-row offsets dim window (ordered by bk alone)
        assert all(
            _bk_partitioned(sp) or _bk_dim_window(sp) for sp in specs
        ), (name, specs)


def test_grouped_spine_queries_fully_partitioned_no_rescan(spark, registry):
    """The partition_cols spine queries (r11): main plans read only the
    checkpointed cells (no parquet scan) and EVERY window is partitioned
    — per-group plans have no dim-window exemption, since even the
    across-bucket offsets window partitions by the group key.  The
    unpartitioned-window rule has ONE implementation
    (test_scale_twins.single_task_flags) so a Spark rendering change is
    fixed in one place."""
    import re as _re

    from test_scale_twins import single_task_flags

    for name in ("profiling_histogram_grouped", "profiling_quantiles_grouped"):
        df = registry[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 0, name
        assert _re.search(r"windowspecdefinition\(", plan), name
        assert single_task_flags(plan) == [], name


def test_kruskal_rank_joinback_never_broadcasts(spark, registry):
    """Both sides of the KW rank join-back are value-cardinality
    relations behind a checkpoint (stats bogus-small) — the join must
    stay sort-merge, the failure mode the substring-anchor rehearsal
    measured at sf10."""
    df = registry["analytics_kruskal_wallis"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
