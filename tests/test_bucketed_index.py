"""Bucketed posting-index persistence: the scale path for repeated
probes — a key-bucketed index joins on ``key`` with no index-side
shuffle (SURVEY.md §1.4 / index.py docstring)."""

from __future__ import annotations

import contextlib
import io

import pytest

from multi_attribute_join_search_with_mapreduce_spark.index import (
    build_posting_index,
    write_posting_index,
)


@pytest.fixture(scope="module")
def bucketed_table(spark, sf_dir):
    name = "pidx_bucketed_test"
    write_posting_index(spark, sf_dir, out_table=name, buckets=8)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_index_roundtrip(spark, sf_dir, bucketed_table):
    got = spark.table(bucketed_table)
    expect = build_posting_index(spark, sf_dir)
    assert got.count() == expect.count()
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in expect.collect()}


def test_bucketed_self_join_has_no_index_side_shuffle(spark, sf_dir, bucketed_table):
    t = spark.table(bucketed_table)
    # force a sort-merge join (no broadcast) — the case bucketing serves
    joined = t.alias("a").hint("merge").join(t.alias("b"), "key")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join should not shuffle either side"


def test_hashed_index_layout_exact_and_probes_on_hash(spark, sf_dir):
    """The fixed-width layout (hashed_keys=True): search results are
    IDENTICAL to the plain index, and the probe
    semi-join actually runs on the 8-byte xxhash64 column, not the raw
    string key."""
    import re

    from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
        multi_attribute_join_search,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    name = "pidx_hashed_test"
    write_posting_index(spark, sf_dir, out_table=name, buckets=8, hashed_keys=True)
    try:
        hashed = spark.table(name)
        assert "key_h" in hashed.columns
        plain = build_posting_index(spark, sf_dir)
        q = load_table(spark, "part", sf_dir)
        t_h, c_h = multi_attribute_join_search(hashed, q, ["p_brand", "p_type"])
        t_p, c_p = multi_attribute_join_search(plain, q, ["p_brand", "p_type"])
        assert t_h.collect() == t_p.collect()
        assert c_h.collect() == c_p.collect()
        # the probe join condition is on key_h (8 bytes), not key: the
        # executedPlan tree prints join keys inline on the node line
        plan = t_h._jdf.queryExecution().executedPlan().toString()
        semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
        assert semi, plan
        assert all("key_h#" in ln for ln in semi), plan
        assert not any(re.search(r"\[key#", ln) for ln in semi), (
            "probe semi-join still keys on the raw string:\n" + "\n".join(semi)
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_batch_search_over_hashed_index_exact(spark, sf_dir):
    """The batch form's probe also detects the hashed layout and returns
    results identical to the plain index."""
    from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
        multi_attribute_join_search_batch,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    name = "pidx_hashed_batch_test"
    write_posting_index(spark, sf_dir, out_table=name, buckets=8, hashed_keys=True)
    try:
        batch = [
            ("part2", load_table(spark, "part", sf_dir), ["p_brand", "p_type"]),
            ("nation1", load_table(spark, "nation", sf_dir), ["n_name"]),
        ]
        t_h, c_h = multi_attribute_join_search_batch(spark.table(name), batch)
        t_p, c_p = multi_attribute_join_search_batch(
            build_posting_index(spark, sf_dir), batch
        )
        assert t_h.collect() == t_p.collect()
        assert c_h.collect() == c_p.collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_incremental_index_append(spark, sf_dir, tmp_path):
    """Append-only index maintenance: building 3 tables then appending
    the other 2 must equal the full 5-table build, both as a row set and
    through the search itself."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        LAKE_TABLES,
        append_posting_index,
        build_posting_index,
    )
    from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
        multi_attribute_join_search,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    idx_dir = str(tmp_path / "idx")
    build_posting_index(spark, sf_dir, LAKE_TABLES[:3]).write.parquet(idx_dir)
    append_posting_index(spark, sf_dir, idx_dir, LAKE_TABLES[3:])
    appended = spark.read.parquet(idx_dir)
    full = build_posting_index(spark, sf_dir, LAKE_TABLES)
    assert {tuple(r) for r in appended.collect()} == {tuple(r) for r in full.collect()}

    q = load_table(spark, "part", sf_dir)
    t_a, c_a = multi_attribute_join_search(appended, q, ["p_brand", "p_type"])
    t_f, c_f = multi_attribute_join_search(full, q, ["p_brand", "p_type"])
    assert t_a.collect() == t_f.collect()
    assert c_a.collect() == c_f.collect()


def test_index_cache_purges_dead_and_stopped_sessions(spark, sf_dir):
    """The memoized index must not accumulate entries for sessions that
    were garbage-collected or stopped (VERDICT r2 §wrong-3): two
    sequential sessions leave one live cache entry, and id() reuse can
    never serve a DataFrame bound to a defunct session."""
    import gc
    import weakref

    from multi_attribute_join_search_with_mapreduce_spark import index

    class _DeadSession:  # no _jsparkSession => _session_stopped() is True
        pass

    index._INDEX_CACHE.clear()
    live = index.cached_posting_index(spark, sf_dir)
    assert len(index._INDEX_CACHE) == 1

    stopped = _DeadSession()
    index._INDEX_CACHE[(id(stopped), "x", ())] = (weakref.ref(stopped), None)
    collected = _DeadSession()
    index._INDEX_CACHE[(id(collected), "y", ())] = (weakref.ref(collected), None)
    del collected
    gc.collect()
    assert len(index._INDEX_CACHE) == 3

    # any subsequent call purges both defunct entries and hits the cache
    again = index.cached_posting_index(spark, sf_dir)
    assert again is live
    assert len(index._INDEX_CACHE) == 1
    (ref, df), = index._INDEX_CACHE.values()
    assert ref() is spark and df is live
