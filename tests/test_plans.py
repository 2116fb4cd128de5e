"""Physical-plan quality gate: every registered query must compile to a
plan free of scale killers (SURVEY.md §4; the 100 TB design bar).

- no ``CartesianProduct`` — an unintended cross join is O(n²) at scale;
- no ``BatchEvalPython`` — a row-at-a-time Python UDF in the hot path
  (the reference's single biggest perf sink, ``Par_Search.py:164-166``);
  Arrow-batched ``mapInPandas``/``ArrowEvalPython`` stages are allowed;
- every equi-join on a small dimension side broadcasts (checked
  implicitly: SortMergeJoin appears only where broadcast is impossible,
  e.g. full-outer).
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entry_mod

REGISTRY = entry_mod.registry()

# full outer join cannot broadcast; SMJ is the correct strategy there.
# q21's semi-join probes a per-order aggregate keyed on l_orderkey — a
# fact-sized side that must NOT broadcast at scale, so SMJ/shuffle is
# the right plan. q20's semi side is likewise a fact-derived HAVING
# aggregate with no static size estimate: the hint-free static plan is
# SMJ, and AQE converts it to broadcast at runtime when it turns out
# dimension-sized.
SMJ_ALLOWED = {
    "full_outer_nation_counts",
    "tpch_q21_waiting_suppliers",
    "tpch_q20_excess_shipments",
    # Both sides of the cluster-size join / the canonical drop-set are
    # derived from the corpus-scale component labels (no static size
    # estimate, and genuinely fact-sized at 100 TB — the duplicate
    # fraction of a web corpus is unbounded). The static plan is SMJ by
    # design; AQE converts to broadcast at runtime when the fixture-
    # scale side turns out small.
    "dedup_clusters",
    "dedup_canonical",
    # decision log's docs ⨝ CC-labels join: the label frame is derived
    # from the checkpointed edge store (no static size estimate) and is
    # corpus-scale at 100 TB like dedup_clusters above; AQE broadcasts
    # at runtime when the fixture side is small. (Entered the list in
    # r6 when the edge cache switched from persist to localCheckpoint —
    # the InMemoryRelation's fixture-size stats had been making the
    # static planner broadcast it, which is exactly the estimate that
    # would NOT hold at scale.)
    "dedup_decision_log",
    # the curation chain joins the corpus against the SAME CC-derived
    # drop set as dedup_canonical (plus the contaminated-id set, also
    # corpus-derived): no static size estimate, genuinely fact-sized at
    # 100 TB (web-corpus duplicate fractions are unbounded). Static SMJ
    # by design; AQE broadcasts at runtime when the fixture side is
    # small. The chain's own exchange discipline is pinned separately
    # in tests/test_curation_pipeline.py.
    "curation_pipeline_e2e",
    "curation_decision_log",
    # cluster labels ⨝ quality scores: both sides are corpus-derived
    # (component labels and per-doc quality are each one row per
    # clustered document — fact-sized at 100 TB, no static size
    # estimate). Same rationale as dedup_canonical; AQE broadcasts at
    # runtime when the fixture side is small.
    "cluster_rep_sample",
    # same shape over the embedding-pair components: checkpointed label
    # frames carry no static size estimate and are corpus-scale at
    # 100 TB; AQE broadcasts at runtime where the fixture side is small.
    "semantic_dedup",
    # tokens⨝vocab on term: the vocabulary is corpus-derived (fact-
    # sized at 100 TB), so the static plan is rightly SMJ; AQE converts
    # to broadcast at runtime when the fixture vocabulary is small.
    "rare_token_stats",
    # SMJ is the POINT: both facts are bucketed+sorted on the join key,
    # so the sort-merge join reads co-located buckets with zero
    # exchange (the no-fact-shuffle assert lives in test_layout.py).
    "bucketed_fact_join",
    # distinct (source, shingle) self-joined on shingle: both sides are
    # corpus-derived and corpus-scale at 100 TB; AQE broadcasts at
    # runtime when the fixture side is small.
    "source_overlap",
    # per-round rank⨝edges join: both sides are graph-scale at 100 TB
    # (edges is the LSH pair list, ranks one row per node); AQE
    # broadcasts at runtime where the fixture graph is small.
    "pagerank_near_dup",
    # version-to-version FULL OUTER join of fingerprint frames: full
    # outer cannot be a broadcast hash join, and both versions are
    # table-scale at 100 TB — SMJ is the only correct shape.
    "snapshot_diff_audit",
    # dirty-vocabulary self-join + component rounds: both sides are
    # corpus-derived record sets (entity resolution runs over facts at
    # 100 TB); AQE broadcasts at runtime when the fixture vocabulary
    # is small.
    "er_resolve_types",
    # wedge-closing joins: edge and wedge frames are both corpus-derived
    # and fact-sized at 100 TB (same rationale as dedup_clusters); the
    # O(m^1.5) bound comes from degree orientation, not join strategy.
    # AQE broadcasts at runtime when the fixture edge list is small.
    "triangle_count_near_dup",
    # per-round (node,value)⨝edges joins of the iterative graph
    # fixpoints (h-index coreness, label propagation, min-plus BFS):
    # both sides are graph-scale at 100 TB with no static size
    # estimate — same rationale as pagerank_near_dup; AQE broadcasts
    # at runtime where the fixture graph is small.
    "kcore_near_dup",
    "lpa_communities",
    "contamination_radius",
    # banded signature self-join: both sides are the corpus-derived
    # aHash band frame (same rationale as source_overlap); AQE
    # broadcasts at runtime where the fixture side is small.
    "media_phash_dedup",
}


def _plan_of(spark, name, sf_dir):
    df = REGISTRY[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# Single source of truth for the BatchEvalPython exemption — shared
# with tools/plan_audit.py via the package.
from multi_attribute_join_search_with_mapreduce_spark.registry import PYTHON_EVAL_ALLOWED  # noqa: E402


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_has_no_scale_killers(spark, sf_dir, name):
    plan = _plan_of(spark, name, sf_dir)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in PYTHON_EVAL_ALLOWED:
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    if name not in SMJ_ALLOWED:
        assert "SortMergeJoin" not in plan, (
            f"{name}: SortMergeJoin where a broadcast was expected"
        )


def test_search_probe_is_broadcast_semi_join(spark, sf_dir):
    plan = _plan_of(spark, "mjs_search_tables", sf_dir)
    assert "BroadcastHashJoin LeftSemi" in plan
    assert "BroadcastHashJoin Inner" in plan


def _final_plan(df) -> str:
    """The executed adaptive plan after an action, without the initial plan."""
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def _assert_verification_in_codegen(plan: str) -> None:
    """Verification must stay map lookups: a higher-order function over
    the row's key map (``forall``/lambda) is CodegenFallback and drags the
    probe_key join out of whole-stage codegen. The query-side normalizer's
    own lambda (stopword filter) is not on the key map and is allowed."""
    import re

    assert "forall(" not in plan, plan
    map_lines = [ln for ln in plan.splitlines() if "_m#" in ln]
    assert not [ln for ln in map_lines if "lambdafunction" in ln], plan
    probe = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln and "probe_key#" in ln]
    assert probe, plan
    assert all(re.match(r"^[\s:+\-|]*\*\(\d+\) BroadcastHashJoin", ln) for ln in probe), (
        "probe_key join runs outside whole-stage codegen:\n" + "\n".join(probe)
    )


def test_search_verification_stays_in_codegen(spark, sf_dir):
    """The single search and the batch share one plan; both must keep the
    probe_key join code-generated, and the single search keeps its top-k
    finish: a WindowGroupLimit under the rank window and one
    TakeOrderedAndProject per result."""
    from multi_attribute_join_search_with_mapreduce_spark.index import cached_posting_index
    from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
        multi_attribute_join_search,
        multi_attribute_join_search_batch,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    postings = cached_posting_index(spark, sf_dir)
    part = load_table(spark, "part", sf_dir)
    attrs = ["p_brand", "p_type"]

    tables, columns = multi_attribute_join_search(postings, part, attrs)
    tables.collect()
    columns.collect()
    single = [_final_plan(tables), _final_plan(columns)]
    for plan in single:
        _assert_verification_in_codegen(plan)
        assert "WindowGroupLimit" in plan, plan
    assert sum(plan.count("TakeOrderedAndProject") for plan in single) == 2

    batch = [("part2", part, attrs), ("nation1", load_table(spark, "nation", sf_dir), ["n_name"])]
    b_tables, _ = multi_attribute_join_search_batch(postings, batch)
    b_tables.collect()
    _assert_verification_in_codegen(_final_plan(b_tables))


def test_filters_and_projection_reach_the_scan(spark, sf_dir):
    """Scale evidence: Q6's predicates must be pushed to the parquet
    reader and its scan schema pruned to the referenced columns — a scan
    that reads every column for a 4-column aggregate is wrong at 100 TB."""
    plan = _plan_of(spark, "tpch_q6_forecast_revenue", sf_dir)
    scan = [seg for seg in plan.split("\n\n") if "Scan parquet" in seg and "lineitem" in seg]
    assert scan, "no lineitem scan section in formatted plan"
    seg = scan[0]
    assert "PushedFilters: [" in seg and "IsNotNull" in seg, seg
    read_schema = [ln for ln in seg.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema, (
        "scan reads columns the query never touches"
    )


def test_probe_semi_join_prunes_index_scan(spark, sf_dir):
    """The posting probe must stay a broadcast semi-join (keys never
    collect to the driver, scan receives the runtime filter)."""
    plan = _plan_of(spark, "mjs_search_tables", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_runtime_bloom_filter_arms_on_selective_fact_join(spark, sf_dir):
    """Scale evidence: with the session's bloom-filter injection enabled
    (session.py), a selective fact⨝fact join must get a might_contain
    runtime filter pushed onto the big side. The size thresholds that
    gate it in production (creation side ≤ 10 MB, application side scan
    ≥ 10 GB) are forced here so the toy fixture triggers the same
    rewrite a 100 TB lineitem scan would."""
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table
    from pyspark.sql import functions as F
    import contextlib
    import io

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load_table(spark, "lineitem", sf_dir)
        o = load_table(spark, "orders", sf_dir).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain(True)
        assert "might_contain" in buf.getvalue().lower(), (
            "no bloom filter injected on the selective fact join"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_observe_metrics_piggyback_on_one_pass(spark, sf_dir):
    """In-flight query metrics via df.observe: row counts / sums are
    collected DURING the query's single pass (an AggregatingAccumulator
    on the executors), not by a second counting job — at 100 TB the
    difference between free telemetry and doubling the scan."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    obs = Observation("ingest_metrics")
    e = load_table(spark, "events", sf_dir).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_id"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null_value"),
    )
    out = e.groupBy("event_type").count()
    n_types = out.count()  # one action drives both the query and the metrics
    want = load_table(spark, "events", sf_dir).agg(
        F.count(F.lit(1)), F.sum("event_id")
    ).collect()[0]
    assert n_types > 0
    assert obs.get["n_rows"] == want[0]
    assert obs.get["sum_id"] == want[1]
    assert obs.get["n_null_value"] >= 0


def test_dynamic_partition_pruning_arms_on_partitioned_fact(spark, tmp_path):
    """Scale evidence: a dim-filtered join against a partition column
    must arm dynamic partition pruning — at 100 TB the fact scan reads
    only the dim-selected partitions, decided at runtime."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    base = str(tmp_path)
    spark.range(10000).select(
        "id", (F.col("id") % 10).alias("part_day")
    ).write.partitionBy("part_day").parquet(base + "/fact")
    dim = (
        spark.range(10)
        .select(F.col("id").alias("d"), (F.col("id") % 10).alias("day"))
        .filter("d < 2")
    )
    fact = spark.read.parquet(base + "/fact")
    j = fact.join(dim, fact.part_day == dim.day)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    assert "dynamicpruning" in buf.getvalue().lower()


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """Engine-control evidence: per-join strategy hints must select the
    hinted physical operator — the manual override for when the 100 TB
    operator knows better than the statistics (merge for pre-sorted
    inputs, shuffle_hash to dodge a giant sort, broadcast to force a
    map-side join)."""
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)

    def plan(hint):
        df = li.join(o.hint(hint), li["l_orderkey"] == o["o_orderkey"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    assert "SortMergeJoin" in plan("merge")
    assert "ShuffledHashJoin" in plan("shuffle_hash")
    assert "BroadcastHashJoin" in plan("broadcast")


def test_rollup_router_reads_partials_not_facts(spark, sf_dir, tmp_path):
    """View-matching contract: a weekly query routed through the rollup
    catalog must scan ONLY the materialized day partials — the events
    table never appears in the routed plan — and month routes from day
    too, while an unregisterable grain raises."""
    import pytest as _pytest

    from multi_attribute_join_search_with_mapreduce_spark.plans.rollup_router import (
        RollupCatalog,
        answer_at_grain,
        materialize_daily_rollup,
    )

    path = str(tmp_path / "daily")
    materialize_daily_rollup(spark, sf_dir, path)
    cat = RollupCatalog()
    cat.register("day", path)

    df = answer_at_grain(spark, cat, "week")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "daily" in plan and "events.parquet" not in plan

    assert cat.route("month")[0] == "day"
    # week partials cannot answer month (ISO weeks straddle months)
    cat2 = RollupCatalog()
    cat2.register("week", str(tmp_path / "weekly"))
    with _pytest.raises(ValueError):
        cat2.route("month")


def test_rollup_router_prefers_exact_grain_match(tmp_path):
    """With both day and week partials registered, a weekly request
    must read the week rollup (coarsest sufficient = fewest rows), not
    re-aggregate the day partials."""
    from multi_attribute_join_search_with_mapreduce_spark.plans.rollup_router import RollupCatalog

    cat = RollupCatalog()
    cat.register("day", "/d")
    cat.register("week", "/w")
    assert cat.route("week") == ("week", "/w")
    assert cat.route("day") == ("day", "/d")
    assert cat.route("month") == ("day", "/d")  # week can't answer month


def test_er_resolve_types_runtime_plan_is_bounded(spark, sf_dir):
    """The iterative-unroll cap (VERDICT r4 #9): er_resolve_types runs a
    convergence loop, but what a fresh action executes must stay a small
    fixed tree — cached generations terminate the walk at
    InMemoryTableScan leaves, and the loop's early break + periodic
    localCheckpoint bound the one-time cache-build work. Text-matching
    the formatted dump saw 487 'exchanges' because cached build plans
    are re-printed inline; the live tree is ~8 shuffles."""
    from tools.plan_audit import physical_node_counts

    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["er_resolve_types"](spark, sf_dir)
    counts = physical_node_counts(df)
    n_shuffle = sum(v for k, v in counts.items() if "ShuffleExchange" in k)
    n_bcast = sum(v for k, v in counts.items() if "BroadcastExchange" in k)
    assert n_shuffle + n_bcast < 100, counts
    assert n_shuffle <= 20, counts  # today: 8 shuffles + 3 broadcasts
    assert counts.get("CartesianProductExec", 0) == 0
