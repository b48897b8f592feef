"""Physical-plan shape assertions for the multi-way join and window
query families: the properties that make these plans survive a 100 TB
scale-up (broadcast only on dims, filters pushed to the parquet scan,
exactly one shuffle for a single-window query) are asserted here, not
just eyeballed via .explain().
"""

import os

import pytest

import __spark_entry__ as entry_mod

from conftest import ORACLE_SF_DIR

SF_DIR = ORACLE_SF_DIR
# bench scale for the pins whose gates fire only above the unit-test
# stats floor; defaults to the sf0.1 set next to SF_DIR
SCALE_SF_DIR = os.environ.get(
    "PLANS_SCALE_SF_DIR", os.path.join(os.path.dirname(SF_DIR), "sf0.1")
)


@pytest.fixture
def scale_sf_dir():
    if not os.path.isdir(SCALE_SF_DIR):
        pytest.skip(f"bench-scale test data not found at {SCALE_SF_DIR}")
    return SCALE_SF_DIR


def _skip_if_scan_fills_slots(spark, sf_dir, table):
    """The at-scale pins check a gate (dedup.rebalance_for_cpu /
    repartition_key_for_cpu) that is a no-op once the scan already has
    defaultParallelism partitions or more, so on such a host there is
    nothing to pin."""
    parts = entry_mod._t(spark, sf_dir, table).rdd.getNumPartitions()
    slots = spark.sparkContext.defaultParallelism
    if parts >= slots:
        pytest.skip(
            f"{table} scan has {parts} partitions >= defaultParallelism "
            f"{slots}: the gate is a no-op here"
        )


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """AQE's finalized plan only — toString() after collect() appends
    the '== Initial Plan ==' section too, which double-counts nodes."""
    return _executed_plan(df).split("== Initial Plan ==")[0]


def test_q47_dims_broadcast_and_filters_pushed(spark):
    df = entry_mod.q47_regional_supplier_volume(spark, SF_DIR)
    plan = _executed_plan(df)
    # the three dim joins (supplier, nation, region) must be broadcast
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # no cartesian fallback anywhere
    assert "CartesianProduct" not in plan, plan
    # date range and region predicates reach the parquet scans
    assert "1996-01-01" in plan, "o_orderdate range not pushed to scan"
    assert "ASIA" in plan, "r_name filter not pushed to scan"


def test_q47_scans_prune_columns(spark):
    df = entry_mod.q47_regional_supplier_volume(spark, SF_DIR)
    plan = _executed_plan(df)
    # lineitem has 16 columns; the scan must read only the 4 used
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l]
    assert scan_lines, plan
    assert "l_comment" not in scan_lines[0]
    assert "l_quantity" not in scan_lines[0]


@pytest.mark.parametrize(
    "qname",
    ["q50_top_orders_per_priority", "q51_event_navigation"],
)
def test_window_queries_shuffle_once(spark, qname):
    df = entry_mod.queries()[qname](spark, SF_DIR)
    plan = _executed_plan(df)
    # one shuffle on the partition key feeds the window sort; a second
    # Exchange would mean the plan re-partitions needlessly
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q52_joins_at_aggregated_grain(spark):
    df = entry_mod.q52_daily_activity_full_outer(spark, SF_DIR)
    plan = _executed_plan(df)
    # the full outer join must sit ABOVE both aggregates: no raw-table
    # join (both HashAggregate pairs appear below the join operator)
    join_pos = min(
        p for p in (plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"), plan.find("BroadcastHashJoin")) if p >= 0
    )
    first_agg = plan.find("HashAggregate")
    assert first_agg >= 0 and join_pos >= 0, plan
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan


def test_q20_blocked_plan_stays_distributed(spark):
    """The default embedding near-dup path must be distributed bucket
    grouping: no cartesian product, no broadcast NLJ, no driver gather
    in the executed plan — the properties that survive 100 TB. The
    verify kernel is a sanctioned group-local Arrow stage
    (FlatMapGroupsInPandas) downstream of a hash exchange on the
    per-band bucket."""
    df = entry_mod.q20_embedding_near_dups(spark, SF_DIR)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # per-band buckets are exploded and hash-partitioned; pair
    # generation + cosine verify run group-local inside each bucket
    assert "Generate explode" in plan, plan
    assert "hashpartitioning(bucket" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_contamination_semi_join_shape(spark):
    """Contamination detection must shuffle only (key, gram-hash) and
    plan the detection as a semi join."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import dedup

    corpus = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probe = corpus.limit(5)
    df = dedup.ngram_contamination(corpus, probe)
    plan = _executed_plan(df)
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q01_scan_pushdown_and_pruning(spark):
    df = entry_mod.q01_pricing_summary(spark, SF_DIR)
    plan = _executed_plan(df)
    scan = next(l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l)
    assert "LessThanOrEqual(l_shipdate" in scan, scan
    # 6 of 16 lineitem columns read
    assert "l_comment" not in scan and "l_partkey" not in scan, scan
    # partial aggregation runs before the single exchange
    assert "partial_sum" in plan and plan.count("Exchange hashpartitioning") == 1


def test_q27_filters_pushed_topk_no_global_sort(spark):
    df = entry_mod.q27_top_revenue(spark, SF_DIR)
    plan = _executed_plan(df)
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, "segment not pushed"
    assert "LessThan(o_orderdate" in plan, "date not pushed"
    assert "TakeOrderedAndProject" in plan, "top-k became a global sort"
    assert "CartesianProduct" not in plan


# ------------------------------------------- late-r4 operator shapes
def test_q85_zscore_stats_broadcast_no_per_row_frame(spark):
    """The anomaly flags must come from the bucket-partials shape:
    stats BROADCAST back to rows, and the only Window runs over the
    bucket frame (post-aggregate), never over raw events."""
    df = entry_mod.queries()["q85_rolling_zscore"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # the Window's child must be the partial-aggregate frame: its sort
    # keys are the internal __g/__b bucket columns, not raw event time
    win = plan[plan.find("Window") :]
    assert "__b ASC" in win.splitlines()[0] or "__b" in win[:400], plan
    assert "CartesianProduct" not in plan


def test_q95_weighted_sample_windowgrouplimit(spark):
    """Selection must prune to running winners on BOTH sides of the
    exchange (WindowGroupLimit partial + final)."""
    df = entry_mod.queries()["q95_weighted_sample"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_q97_cdc_log_broadcasts_against_base(spark):
    """The touched-key anti-join must broadcast the (small) change log
    side, never shuffle the base for it."""
    df = entry_mod.queries()["q97_cdc_apply"](spark, SF_DIR)
    plan = _executed_plan(df)
    anti = plan[max(0, plan.find("LeftAnti") - 90) : plan.find("LeftAnti") + 60]
    assert "BroadcastHashJoin" in anti, plan
    assert plan.count("WindowGroupLimit") >= 2, plan  # log pruned pre-shuffle


def test_q98_gram_frame_cached_once(spark):
    """Both intersection sides and the size counts must reuse ONE
    cached distinct-gram aggregate (InMemoryRelation), not recompute
    the explode per consumer."""
    df = entry_mod.queries()["q98_source_similarity"](spark, SF_DIR)
    plan = _executed_plan(df)
    # four consumers (two intersection sides, two size lookups) must
    # all read the cache — a recomputation would replace some of these
    # InMemoryTableScans with fresh Generate+scan branches
    assert plan.count("InMemoryTableScan") >= 3, plan
    # and the expensive n-gram explode may only appear INSIDE the
    # cached relation's build plan (printed under InMemoryRelation),
    # never above it in the consuming query
    lines = plan.splitlines()
    first_imr = min(
        i for i, l in enumerate(lines) if "InMemoryRelation" in l
    )
    gen_idx = [i for i, l in enumerate(lines) if "Generate explode" in l]
    assert gen_idx and all(i > first_imr for i in gen_idx), plan


def test_q109_quantize_is_single_map_stage(spark):
    # the whole quantization must be one Project over the scan:
    # zero exchanges, zero Python nodes
    df = entry_mod.queries()["q109_quantize_embeddings"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert "Exchange" not in plan
    assert "Python" not in plan and "Pandas" not in plan


def test_q107_bigram_no_python_no_positional_selfjoin(spark):
    df = entry_mod.queries()["q107_bigram_surprisal"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert "Python" not in plan and "Pandas" not in plan
    # pair extraction is a map-side explode of zipped slices, never a
    # (doc, pos)-keyed self-join: no join keyed on doc_id may appear
    assert "zip_with" in plan and "explode" in plan
    for line in plan.splitlines():
        if "Join" in line and "doc_id" in line:
            raise AssertionError(f"positional self-join crept in: {line}")


def test_q108_lexical_diversity_two_exchanges(spark):
    df = entry_mod.queries()["q108_lexical_diversity"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert plan.count("Exchange") == 2  # (source, token) agg + rollup
    assert "Python" not in plan and "expand" not in plan.lower()


def test_q110_totals_broadcast_one_shuffle(spark):
    df = entry_mod.queries()["q110_temperature_mixture"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    # one physical counting shuffle (the totals branch must REUSE it,
    # not rescan); the one-row totals come back via broadcast
    real = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    ]
    assert len(real) == 1, plan
    assert "BroadcastNestedLoopJoin" in plan


def test_q116_overlap_join_no_cartesian(spark):
    df = entry_mod.queries()["q116_session_incident_overlap"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan
    # the only NLJ is the one-row threshold broadcast; the pair join
    # must be an equi-join keyed on the time bin
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "__bin" in plan
    # gap sessionization pays exactly one user-keyed shuffle
    assert sum(
        "Exchange hashpartitioning(user_id" in ln
        and "session_id" not in ln
        for ln in plan.splitlines()
    ) == 1


def test_q113_gopher_is_single_map_stage(spark):
    df = entry_mod.queries()["q113_gopher_flags"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert "Exchange" not in plan
    assert "Python" not in plan and "Pandas" not in plan


def test_q112_entropy_shuffles_triples_not_chars(spark):
    df = entry_mod.queries()["q112_char_entropy"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    # partial aggregation must sit BELOW the (doc, ch) exchange so the
    # shuffle carries counted triples, not raw exploded characters
    import re

    m = re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, ch#\d+", plan)
    assert m, plan
    assert "partial_count" in plan[m.start() :], plan


def test_q127_single_exchange_token_count_below(spark):
    """budget_batches: token counting must fold into the scan-side
    Project BELOW the one source-hash exchange; the (source, batch)
    rollup reuses the source partitioning (no second exchange)."""
    df = entry_mod.queries()["q127_budget_batches"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan
    # the size(...) token-count expression must appear below the exchange
    ex = plan.index("Exchange hashpartitioning")
    assert "size(" in plan[ex:], plan


def test_q129_sketch_probe_broadcasts(spark):
    """Count-Min: the sketch side of the estimate join must broadcast
    (it is <= d*w rows by construction), never shuffle the probe
    against it."""
    df = entry_mod.queries()["q129_count_min_topk"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_q130_leakage_probe_no_cartesian(spark):
    """Split-leakage audit: candidates come from the band equi-join —
    no cartesian/nested-loop product between eval and train sides."""
    df = entry_mod.queries()["q130_split_leakage"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q131_hll_bounded_aggregate(spark):
    """HLL: exactly two hash aggregates on the sketch side (register
    maxes, then the per-group rollup) with map-side partial combine —
    the shuffle between them carries <= groups*2^p rows; the exact
    side joins via broadcast (the estimate frame is |groups| rows)."""
    df = entry_mod.queries()["q131_hll_cardinality"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q133_covariance_partials_not_explode_join(spark):
    """Embedding covariance: the Spark plan must be the Gram-partial
    aggregate — NO self-join of an exploded (vec_id, dim, val) frame
    (that is the oracle's N*d^2 luxury), and the mean/count frames
    join back via broadcast."""
    df = entry_mod.queries()["q133_embedding_covariance"](spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert "FlatMapsInPandas" in plan or "MapInPandas" in plan, plan
    assert "Generate" not in plan, plan  # no posexplode path
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q134_pagerank_iteration_is_checkpointed(spark):
    """PageRank: the returned frame must hang off a checkpointed scan
    (lineage truncated per hop), not re-derive 8 iterations of joins
    in one mega-plan."""
    df = entry_mod.queries()["q134_token_pagerank"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan
    assert "PageRank" not in plan  # sanity: plan is tiny, no join tree
    assert plan.count("Join") == 0, plan


def test_q135_classifier_scoring_is_map_side(spark):
    """Learned classifier: the returned scoring frame must be pure
    map-side expressions over the checkpointed feature frame — zero
    joins, zero exchanges (training's gradient aggregates already ran
    eagerly; the served plan is just projection)."""
    df = entry_mod.queries()["q135_quality_classifier"](spark, SF_DIR)
    plan = _final_plan(df)
    assert "ExistingRDD" in plan, plan  # hangs off the localCheckpoint
    assert plan.count("Join") == 0, plan
    assert "Exchange" not in plan, plan


def test_q135_gradient_step_is_partial_aggregate(spark):
    """One GD step = one sufficient-stats aggregate with map-side
    partial combine: two HashAggregate nodes around a single-row
    exchange, never a sort or join."""
    from pyspark.sql import functions as F

    from cloud_native_medical_data_etl_pipeline_spark.operators.classifier import (
        featurize_documents,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    feat = featurize_documents(docs)
    step = feat.agg(
        F.avg("f1").alias("g1"), F.avg("f2").alias("g2")
    )  # the exact shape train_logreg submits per iteration
    step.collect()
    plan = _final_plan(step)
    assert plan.count("HashAggregate") == 2, plan
    assert "SortAggregate" not in plan, plan
    assert plan.count("Join") == 0, plan


def test_q136_kcenter_output_is_metadata_sized(spark):
    """k-center: the result is the k selected rows materialized on the
    driver (metadata-sized by contract) — a LocalTableScan with no
    joins; the heavy lifting happened in per-hop map-side updates."""
    df = entry_mod.queries()["q136_kcenter_select"](spark, SF_DIR)
    plan = _final_plan(df)
    assert "LocalTableScan" in plan or "ExistingRDD" in plan, plan
    assert plan.count("Join") == 0, plan


def test_q136_kcenter_hop_update_is_shuffle_free(spark):
    """The per-hop dmin update (least of stored dmin and distance to
    the newest literal center) must not shuffle: no Exchange anywhere
    in the update frame's plan."""
    from pyspark.sql import functions as F

    from cloud_native_medical_data_etl_pipeline_spark.functions import vectors as V

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    center = F.array(*[F.lit(0.1)] * 64)
    upd = emb.select(
        "vec_id",
        F.least(
            F.lit(1e9), F.round(V.sqdist(F.col("embedding"), center), 9)
        ).alias("dmin"),
    )
    plan = _final_plan(upd)
    assert "Exchange" not in plan, plan
    assert plan.count("Join") == 0, plan


def test_bench_consume_full_keeps_q02_joins(spark):
    """Regression pin for the r12 bench-consumption fix: a bare
    count() over q02 lets Catalyst eliminate the final left join and
    the containment subtree with it, timing a partial plan.  The
    bench's consume_full checksum must keep every join of the full
    plan in its executed aggregate."""
    import re

    import __spark_entry__ as E
    from bench import consume_full

    JOIN = re.compile(
        r"(BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin|"
        r"ShuffledHashJoin|CartesianProduct)"
    )
    df = E.queries()["q02_containment_enrich"](
        spark, ORACLE_SF_DIR
    )
    full = df._jdf.queryExecution().executedPlan().toString()
    from pyspark.sql import functions as F

    count_plan = (
        df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    )
    checksum_plan = (
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("c"),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_full = len(JOIN.findall(full))
    assert n_full >= 2, full[:500]
    # the trap this fix exists for: count() really does prune the joins
    assert len(JOIN.findall(count_plan)) < n_full
    # and the checksum consumption really does keep them
    assert len(JOIN.findall(checksum_plan)) == n_full
    # the production consume path executes without error and returns n
    assert consume_full(df) > 0


def test_q15_tokenizes_once(spark):
    """Regression pin for the r13 single-tokenization fix: q15 projects
    the lowercased token array ONCE and derives every token-rooted
    stat from the shared attribute.  Before the fix the interpreted
    HOF pipeline re-ran the split per stat (6 split() occurrences:
    1 token_count + 1 stopword filter + 4 lang-ID filters), roughly
    tripling the query's cost (BASELINE.md r13 re-base: 1.90 -> 0.74 s
    at sf0.1).  CollapseProject must keep the producing projection —
    if a refactor inlines it (or Spark's collapse heuristics change),
    the split count in the executed plan multiplies and this pins it."""
    import __spark_entry__ as E

    df = E.queries()["q15_text_stats"](spark, ORACLE_SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(") == 1, plan[:2000]
    assert "_toks" in plan


def test_bpe_arrow_encode_is_shuffle_free(spark):
    """The r15 scale encoder's plan contract: one scan + one Arrow
    eval, ZERO Exchange — no posexplode/groupBy regroup (the fold
    reference's shape), so encode cost is pure map-side work at any
    corpus size.
    (The merge table rides in the UDF closure, not a join.)"""
    from cloud_native_medical_data_etl_pipeline_spark.operators.bpe import (
        apply_bpe_merges,
    )

    df = spark.read.parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    enc = apply_bpe_merges(df, [("a", "b"), ("ab", "c")])
    plan = _executed_plan(enc)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan, plan


def test_q33_pivot_is_single_exchange(spark):
    """r16 optimization pin: the per-user activity matrix is ONE
    map-side-combinable aggregate (conditional sums, the oracle SQL's
    shape).  The old `.pivot(values).count()` planned TWO shuffles — a
    (user, type) count exchange feeding a pivot_first re-aggregate
    exchange — i.e. this asserts 2 Exchanges -> 1 stays fixed."""
    df = entry_mod.queries()["q33_pivot_activity"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "pivotfirst" not in plan.lower(), plan


def test_q03_payload_dedup_is_single_exchange_no_join(spark):
    """r16 optimization pin: exact dedup of the (doc_id, lang, source)
    projection is ONE min(struct) aggregate over the content hash —
    one scan, one Exchange, no semi-join back to documents.  The old
    full-row form planned 2 scans + hash-agg + a left-semi join fed
    by a second (broadcast) exchange."""
    df = entry_mod.queries()["q03_exact_dedup"](spark, SF_DIR)
    plan = _final_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_q06_argmax_is_single_exchange_no_window(spark):
    """r16 optimization pin: latest-event-per-user is a map-side-
    combinable max(struct(ts, event_id, event_type)) aggregate — one
    Exchange carrying one partial row per (user, mapper), no Window,
    no per-partition Sort.  The old row_number form shuffled EVERY
    event row and sorted each partition."""
    df = entry_mod.queries()["q06_latest_event_per_user"](spark, SF_DIR)
    plan = _final_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan, plan
    # struct buffers aren't hash-aggregatable (probed r16: max(struct),
    # max(string) and max_by ALL plan SortAggregate in Spark 4.1) — the
    # win is the partial_max map-side combine, which must stay:
    assert "partial_max" in plan, plan
    assert "SortAggregate" in plan, plan


def test_q20_bucket_codes_evaluated_once(spark):
    """r16 optimization pin (guide §4.4 guard): the banded sign-LSH
    bucket-code pandas_udf must appear EXACTLY once in q20's plan — a
    future filter referencing the bucket column could make Catalyst
    duplicate the Python eval (once below the pushed filter, once in
    the projection), doubling the GEMM. Also pins the package-wide
    zero-row-at-a-time invariant on this path."""
    df = entry_mod.queries()["q20_embedding_near_dups"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_q17_candidate_dedup_shares_key_a_exchange(spark):
    """r17 optimization pin: the minhash candidate pairs are hashed on
    key_a ONCE (REPARTITION_BY_COL) so the (key_a, key_b) pair-dedup
    aggregate AND the key_a verification join ride a single exchange —
    at SMJ scale the old shape paid a (key_a, key_b) dedup shuffle
    PLUS a key_a re-shuffle of the candidates (6 exchanges -> 5 with
    auto-broadcast off; committed diff: plans/r17/q17_smj_*.txt).
    There must be no ENSURE_REQUIREMENTS exchange keyed on
    (key_a, key_b): that would mean the dedup stopped riding the
    pinned key_a partitioning."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.dedup import (
        release,
    )

    df = entry_mod.queries()["q17_minhash_near_dups"](spark, SF_DIR)
    plan = _final_plan(df)
    assert "REPARTITION_BY_COL" in plan, plan
    import re

    assert not re.search(r"hashpartitioning\(key_a#\d+L?, key_b", plan), plan
    release(df)


def test_q20_banded_group_path_ships_stored_vector_type(spark):
    """r17 optimization pin (guide §2.3 narrower types): the banded
    group-verify path must NOT cast vectors to array<double> JVM-side —
    the NumPy kernels widen to float64 exactly themselves, so the cast
    only doubled the banded explode's shuffle bytes. A transform(...
    cast) reappearing below the rebalance exchange fails this."""
    df = entry_mod.queries()["q20_embedding_near_dups"](spark, SF_DIR)
    plan = _final_plan(df)
    assert "cast(lambdavariable" not in plan.lower(), plan
    assert "as double" not in plan.split("ArrowEvalPython")[0].lower(), plan


def test_q20b_wide_bands_verify_per_pair(spark):
    """The verify kernel follows from the planes per band: q20b's r=12
    bands reach dedup.PAIR_VERIFY_MIN_PLANES, so its candidates are
    verified in a JVM join with no grouped Arrow stage (q20's r=4 bands
    keep the per-bucket GEMM, pinned above). The bucket-code GEMM runs
    once, into the persisted frame both sides of the (bucket) self-join
    read."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.dedup import (
        release,
    )

    df = entry_mod.queries()["q20b_embedding_near_dups_hi"](spark, SF_DIR)
    plan = _executed_plan(df)
    release(df)
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "zip_with(v_a" in plan, plan
    # a cached plan prints under every scan of it, repeating its lines
    # verbatim; a second evaluation would carry its own expression ids
    evals = {ln.strip(" :+-") for ln in plan.splitlines() if "ArrowEvalPython" in ln}
    assert len(evals) == 1, plan


def test_q20_group_verify_pin_reads_min_partition_size(spark, scale_sf_dir):
    """The group-verify exchange is pinned to the slot count only while
    the banded frame's plan stats stay under slots x AQE's
    minPartitionSize, read from the session conf: at sf0.1 (~0.9 MB of
    stats) the default 1 MB floor pins it on any slot count, and a 1 KB
    floor puts the bound under the unit-test stats floor, so nothing is
    pinned. Plan-only apart from q20's build-time probes."""
    import re

    from cloud_native_medical_data_etl_pipeline_spark.operators.dedup import (
        release,
    )

    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

    def pinned() -> bool:
        df = entry_mod.queries()["q20_embedding_near_dups"](spark, scale_sf_dir)
        plan = _final_plan(df)
        release(df)
        pin = r"hashpartitioning\(bucket#\d+, .*REPARTITION_BY_NUM"
        return re.search(pin, plan) is not None

    assert pinned()
    spark.conf.set(key, "1k")
    try:
        assert not pinned()
    finally:
        spark.conf.unset(key)


def test_q29_fused_asof_is_single_scan(spark):
    """r16 optimization pin: the attribution asof reads events ONCE
    (asof_join_same_source's single conditional projection) — the old
    two-frame union planned a parquet scan per side. One scan, one
    Exchange, one Window."""
    df = entry_mod.queries()["q29_asof_attribution"](spark, SF_DIR)
    plan = _final_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan


def test_q37_followups_no_join_no_pair_rows(spark):
    """r16 optimization pin: the follow-up aggregates come from
    joins.followup_stats — one shuffle of events on user_id feeding
    incremental prefix-RANGE window frames — NOT from materializing
    the interval self-join's pairs.  The old binned_interval_join form
    planned 2 scans of events, an explode, and a (user, bin) equi-join
    whose output was immediately aggregated away.  Also pins the
    frames as unbounded-preceding (the incremental WindowExec path;
    a both-ends-moving sliding frame re-aggregates per row)."""
    df = entry_mod.queries()["q37_event_followups"](spark, SF_DIR)
    plan = _final_plan(df)
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert plan.count("Scan parquet") == 1, plan
    assert "Window" in plan, plan
    assert "unboundedpreceding" in plan.lower(), plan
    # one events shuffle (user_id) + one final-aggregate shuffle
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_q37_followups_pins_window_parallelism_at_scale(spark, scale_sf_dir):
    """r17 optimization pin: at bench scale (sf0.1, a single-file
    scan) the follow-up windows ride an EXPLICIT repartition(slots,
    user_id) instead of the window's own ENSURE_REQUIREMENTS exchange
    — AQE coalesces the latter to a handful of tasks at this shuffle
    volume, serializing the sort+window chain (r17: 0.672 -> 0.555 s).
    The pinned exchange hashes on the window partition key, so it
    satisfies BOTH window specs and the exchange count stays 2 (events
    + final aggregate); below the stats floor (sf0.001) the gate
    no-ops and the plan keeps the plain exchange
    (test_q37_followups_no_join_no_pair_rows covers that shape).
    Plan-only: nothing is executed."""
    _skip_if_scan_fills_slots(spark, scale_sf_dir, "events")
    df = entry_mod.queries()["q37_event_followups"](spark, scale_sf_dir)
    plan = _final_plan(df)
    assert "REPARTITION_BY_NUM" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan and "Generate" not in plan, plan


def test_q30_sessionize_pins_window_parallelism_at_scale(spark, scale_sf_dir):
    """r17 optimization pin (same lever as q37's): at bench scale the
    sessionization windows + per-session aggregate ride an EXPLICIT
    repartition(slots, user_id) instead of the AQE-coalescible
    ENSURE_REQUIREMENTS exchange (interleaved A/B 0.62-0.73 ->
    0.53-0.64 s). hash(user_id) satisfies both window specs and the
    (user_id, session_id) aggregate, so the exchange count stays 1 on
    the session path. Plan-only: nothing is executed."""
    _skip_if_scan_fills_slots(spark, scale_sf_dir, "events")
    df = entry_mod.queries()["q30_session_stats"](spark, scale_sf_dir)
    plan = _final_plan(df)
    assert "REPARTITION_BY_NUM" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q15_rebalances_kernels_at_scale(spark, scale_sf_dir):
    """r16 optimization pin: at bench scale (sf0.1, a single-file /
    single-row-group scan) q15 spreads the text across all slots
    before the HOF kernels run — a round-robin exchange plus a cache
    barrier (the barrier keeps Catalyst from collapsing the token
    projections back below the exchange).  At sf0.001 the
    rebalance_for_cpu stats gate keeps the plan shuffle-free (covered
    by test_q15_tokenizes_once); here the gate must FIRE.  Plan-only:
    nothing is executed or materialized."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.dedup import (
        release,
    )

    _skip_if_scan_fills_slots(spark, scale_sf_dir, "documents")
    df = entry_mod.queries()["q15_text_stats"](spark, scale_sf_dir)
    plan = _executed_plan(df)
    assert "RoundRobinPartitioning" in plan, plan
    assert "InMemoryRelation" in plan, plan
    # the single-tokenization invariant must survive the rebalance
    assert plan.count("split(") == 1, plan[:2000]
    release(df)


def test_q69_rebalances_winnowing_at_scale(spark, scale_sf_dir):
    """At bench scale `documents` scans as fewer partitions than slots,
    so winnow_fingerprints spreads the text over every slot before its
    per-row kernel (round-robin exchange plus the cache barrier that
    keeps the projections above it), and the cache rides the result
    for release(). Plan-only: nothing is executed."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.dedup import (
        release,
    )

    _skip_if_scan_fills_slots(spark, scale_sf_dir, "documents")
    df = entry_mod.queries()["q69_winnow_fingerprints"](spark, scale_sf_dir)
    plan = _executed_plan(df)
    assert "RoundRobinPartitioning" in plan, plan
    assert "InMemoryRelation" in plan, plan
    assert df._cached_deps, "the rebalance cache is not recorded for release()"
    release(df)
