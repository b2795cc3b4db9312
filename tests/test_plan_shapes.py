"""Plan-shape regression guards: the scale properties the engine promises
(pushdown, pruning, broadcasts, no stray Python) asserted on the optimized/
executed plans, so a refactor that silently loses one fails CI, not the
fleet."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark.plans import events, tpch
from nr_rfc_dischargeobs_spark.sources import ObservationStore

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q6_pushes_predicates_and_prunes_columns(spark):
    plan = _formatted(tpch.forecast_revenue(spark, SF))
    assert "GreaterThanOrEqual(l_shipdate" in plan  # pushed to the scan
    assert "LessThan(l_shipdate" in plan
    # projection pruned to the 4 referenced columns
    assert "l_comment" not in plan
    assert plan.count("Scan parquet") <= 2


def test_semi_join_broadcasts_the_dimension(spark):
    plan = _formatted(events.semi_join_stations(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_store_range_read_prunes_partitions(spark, tmp_path):
    obs = spark.createDataFrame(
        [
            ("S1", dt.datetime(2024, m, 1, 12), "Q", 1.0, "raw", "wsc")
            for m in (1, 2, 3)
        ],
        ["station_id", "obs_time", "datatype", "value", "qc_level", "source"],
    )
    store = ObservationStore(spark, str(tmp_path / "prune"))
    store.write(obs)
    pruned = store.read_range("2024-02-01", "2024-02-20")
    plan = _formatted(pruned)
    assert "PartitionFilters" in plan and "year_month" in plan
    assert pruned.count() == 1  # only February survives


_PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def test_no_python_eval_outside_the_stated_kernels(spark):
    """Every plan except the STATED Python kernels must stay fully
    JVM-side — no Arrow/Batch Python eval nodes.  The whitelist is the
    audited list (PLANS.md): the gated multimodal decode, the IVF-PQ refine stage's
    Arrow re-rank kernel (dense int64 matmul — the BLAS shape; its
    native-expression twin is pinned bit-identical, so the Python node
    is a measured choice, not a semantic one), the round-12/13 real
    PNG decode, and the round-13 JPEG header walk (codec work —
    generation + inflate/filter-reversal/marker parsing are inherently
    imperative byte work, the tier's raison d'être)."""
    import __spark_entry__ as e

    allowed = {
        "ext_mm_decode_features",
        "ext_sim_ivf_pq_refined",
        "ext_mm_decode_png",
        "ext_mm_decode_png_wide",  # r13: same fixture-gen + decode pair
        "ext_mm_jpeg_headers",  # r13: fixture-gen + marker-walk pair
    }
    offenders = []
    for name, fn in e.queries().items():
        if name in allowed:
            continue
        plan = _formatted(fn(spark, SF))
        if any(marker in plan for marker in _PYTHON_NODES):
            offenders.append(name)
    assert offenders == []


def test_a2_recurrence_is_one_native_window_scan(spark):
    """The A2 rising/falling rule runs in the JVM on both of its paths:
    EP2's ``coffee_instant_frame`` and the registered plan.  The scan adds
    ONE Exchange (station) on top of the hourly aggregate's own."""
    from nr_rfc_dischargeobs_spark import pipelines

    hourly = spark.createDataFrame(
        [("S1", dt.datetime(2024, 1, 1, h), 2.0, 1.0) for h in range(3)],
        "station_id string, hour timestamp, hrly_max double, "
        "hrly_last double",
    )
    coffee = _formatted(
        pipelines.coffee_instant_frame(hourly, stations=["S1"])
    )
    assert not any(marker in coffee for marker in _PYTHON_NODES)

    a2 = events.rising_falling_hourly(spark, SF)
    plan = a2._jdf.queryExecution().executedPlan().toString()
    assert not any(marker in plan for marker in _PYTHON_NODES)
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Window [") == 3


def test_q21_exists_and_not_exists_are_semi_and_anti_joins(spark):
    plan = _formatted(tpch.waiting_suppliers(spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    # supplier decoration broadcasts; only the orderkey joins may shuffle
    assert "BroadcastHashJoin" in plan


def test_q7_star_joins_broadcast_every_dimension(spark):
    plan = _formatted(tpch.volume_shipping(spark, SF))
    # supplier, customer, and both nation copies broadcast → ≥4 BHJ;
    # lineitem⋈orders is the only join allowed to shuffle
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_q15_scalar_max_broadcasts_one_row(spark):
    plan = _formatted(tpch.top_supplier(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the max side reduces to a single row before the join: no shuffle of rev
    assert "SortMergeJoin" not in plan


def _hash_rows(df) -> tuple:
    return tuple(sorted(map(tuple, df.collect())))


def test_top_terms_shuffle_fallback_same_values(spark):
    """top_terms' df-table join broadcasts while vocab fits the threshold;
    at 100 TB vocab WILL cross it, so the shuffle-join branch is the plan
    production actually runs.  Force it (threshold = -1) and prove the
    plan changed AND the values did not."""
    from nr_rfc_dischargeobs_spark.plans import extensions as ext_plans

    sf = "/root/testdata/sf0.001"
    broadcast_rows = _hash_rows(ext_plans.text_top_terms(spark, sf))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fallback = ext_plans.text_top_terms(spark, sf)
        plan = _formatted(fallback)
        assert "SortMergeJoin" in plan  # the fallback branch really ran
        assert _hash_rows(fallback) == broadcast_rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_contamination_broadcast_is_a_hint(spark):
    """The contamination operators broadcast the benchmark side by an
    explicit HINT: with ``autoBroadcastJoinThreshold`` off, both the
    count query and the spans audit trail still plan a broadcast join,
    so the hint, not the threshold, picks the join."""
    from nr_rfc_dischargeobs_spark.extensions import contamination
    from nr_rfc_dischargeobs_spark.plans import load

    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents")
    corpus, bench = (
        docs.filter(F.col("doc_id") >= 25),
        docs.filter(F.col("doc_id") < 25),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for op in (
            contamination.ngram_contamination,
            contamination.contamination_spans,
        ):
            plan = _formatted(op(corpus, bench, n=4))
            assert "BroadcastHashJoin" in plan, op.__name__
            assert "SortMergeJoin" not in plan, op.__name__
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q19_disjunction_still_prunes_columns(spark):
    plan = _formatted(tpch.disjunctive_revenue(spark, SF))
    # only the five referenced lineitem columns are read
    for col in ("l_orderkey", "l_shipdate", "l_returnflag", "l_tax"):
        assert f"{col}#" not in plan.split("Scan parquet")[1][:400]


# ---------------------------------------------------------- round-4 shapes


def test_hash_classifier_is_scan_local(spark):
    """The classifier's whole promise is scan bandwidth: one parquet
    scan, no join, no exchange before the compare harness would add one."""
    from nr_rfc_dischargeobs_spark.plans import extensions as ext

    plan = _formatted(ext.text_hash_classifier(spark, SF))
    # formatted mode lists each node twice (tree + detail section)
    assert plan.count("Scan parquet") <= 2
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_shard_plan_single_shuffle_on_shard(spark):
    """One exchange (keyed by shard) + per-shard local sort — never a
    global sort barrier."""
    from nr_rfc_dischargeobs_spark.plans import extensions as ext

    plan = _formatted(ext.sample_shard_plan(spark, SF))
    # exactly one hash exchange (keyed by shard; formatted mode prints
    # the keys in the node's Arguments detail, not on the node line)
    assert plan.count("hashpartitioning(shard") == 1
    assert "rangepartitioning" not in plan  # a global sort would add one


def test_semantic_contamination_corpus_never_shuffles(spark):
    """The benchmark side broadcasts (nested-loop over the scored pairs);
    the corpus side reaches the scorer scan-direct — the only hash
    exchange is the |benchmark|-row final aggregate."""
    from nr_rfc_dischargeobs_spark.plans import extensions as ext

    plan = _formatted(ext.contamination_semantic(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # the aggregate exchange is keyed by bench_id — benchmark-sized
    assert plan.count("hashpartitioning(bench_id") == 1
    assert plan.count("hashpartitioning") == 1  # and it is the ONLY one


def test_pq_codes_scan_local_encode(spark):
    """The literal-inlined codebook keeps the encode join-free and
    shuffle-free: one scan, pure projection."""
    from nr_rfc_dischargeobs_spark.extensions import similarity
    from nr_rfc_dischargeobs_spark.plans import load

    prep = similarity.prepare(load(spark, SF, "embeddings"))
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 8).collect()
    ]
    plan = _formatted(similarity.pq_codes(prep, cents, m=4, dim=64))
    assert plan.count("Scan parquet") <= 2
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_source_caps_two_stage_has_no_unbucketed_domain_sort(spark):
    """Stage 1 must sort by (source, slice-bucket), never by source alone
    before the survivors shrink — the hot-domain single-task sort the
    two-stage plan exists to avoid appears as a sort keyed only by
    source over the full input."""
    from nr_rfc_dischargeobs_spark.plans import extensions as ext

    plan = _formatted(ext.sample_source_caps(spark, SF))
    # two ranked windows: slice pre-rank then cap-bounded final rank
    assert plan.count("(Window") >= 2 or plan.count(") Window") >= 2
    # the REAL guard: the slice-bucket column participates in a window
    # exchange — its absence would mean some window re-sorts whole
    # domains on one task (the plan this two-stage shape exists to avoid
    # runs its first full-input window keyed by source alone)
    assert "__b" in plan
    import re as _re

    first_part = _re.search(r"hashpartitioning\(([^)]*)\)", plan)
    assert first_part and "__b" in first_part.group(1)


def test_bm25_no_explode_no_smj_bounded_scans(spark):
    """BM25's whole plan promise: per-term tf's are scan-local filter()
    counts (no Generate/explode of the token stream), the stats row
    joins by broadcast (never sort-merge), and the corpus is scanned at
    most twice (base + stats)."""
    from nr_rfc_dischargeobs_spark.extensions import text as tx
    from nr_rfc_dischargeobs_spark.plans import load

    plan = _formatted(
        tx.bm25_topk(load(spark, SF, "documents"), ["merge", "vector"], k=5)
    )
    assert "Generate" not in plan  # no explode anywhere
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row stats cross join
    # explain text lists each node twice (tree + detail): 4 == two scans
    assert plan.count("Scan parquet") <= 4
    assert "TakeOrderedAndProject" in plan  # distributed top-k, no global sort


def test_pca_gram_single_scan_no_joins(spark):
    """The Gram aggregate is one scan + one map-side-combined groupBy:
    no joins of any kind, one shuffle (the 2080-key aggregate)."""
    from nr_rfc_dischargeobs_spark.extensions import similarity
    from nr_rfc_dischargeobs_spark.plans import load

    plan = _formatted(
        similarity.gram_stats(load(spark, SF, "embeddings"), dim=64)
    )
    # explain text lists each node twice (tree + detail): 2 == one node
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan
    assert plan.count("Exchange") == 2
    assert "partial" in plan.lower()  # map-side combine before the exchange


def test_incremental_admission_never_cross_products(spark):
    """Both admission joins key on equality columns (fingerprint /
    (band, sig)) — a cross product anywhere would be the n x corpus
    explosion the bucketed design exists to avoid."""
    from nr_rfc_dischargeobs_spark.extensions import dedup
    from nr_rfc_dischargeobs_spark.plans import load

    docs = load(spark, SF, "documents")
    plan = _formatted(
        dedup.incremental_admission(
            docs.filter(F.col("doc_id") % 5 == 4),
            docs.filter(F.col("doc_id") % 5 != 4),
            bands=4,
            rows_per_band=2,
            n=3,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
