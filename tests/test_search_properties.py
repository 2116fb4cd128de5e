"""Property test: the search agrees with an independent brute-force
Python oracle on randomized posting/query tables.

The oracle re-implements the §2.11 contract directly from its
definition (set-membership matches, min-column attribution, top-n
column-score sum) with none of the join/window machinery under test."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from multi_attribute_join_search_with_mapreduce_spark.operators.search import multi_attribute_join_search

KEYS = [f"k{i}" for i in range(8)]

posting_strategy = st.lists(
    st.tuples(
        st.sampled_from(KEYS),          # key (already normalized form)
        st.integers(1, 3),              # table
        st.integers(0, 2),              # column
        st.integers(0, 4),              # row
    ),
    min_size=1,
    max_size=40,
)

query_strategy = st.lists(
    st.tuples(st.sampled_from(KEYS + ["zz"]), st.sampled_from(KEYS + ["zz"])),
    min_size=1,
    max_size=6,
)


def _python_oracle(postings, query_rows, n_attrs=2, k=20, top_n=None):
    """Direct-from-definition scorer, including the reference's pre-join
    reduction quirk: a (table,row) is a candidate only if it contains at
    least n distinct *probed* keys (keys appearing anywhere in the query
    table) — so a duplicate-attribute query row like (k0, k0) matches a
    row only when that row also holds other probed keys
    (Par_Search.py:244-250; engine + SQL oracle are consistent)."""
    # posting dedup: min column per (table,row,key)
    mincol: dict[tuple, int] = {}
    for key, t, c, r in postings:
        tk = (t, r, key)
        mincol[tk] = min(mincol.get(tk, c), c)
    by_row: dict[tuple, dict[str, int]] = {}
    for (t, r, key), c in mincol.items():
        by_row.setdefault((t, r), {})[key] = c
    # query dedup on the attribute tuple; drop rows with empties
    qrows = {q for q in query_rows if all(a != "" for a in q)}
    all_query_keys = {a for q in qrows for a in q}
    col_scores: Counter = Counter()
    for t_r, keyset in by_row.items():
        probed = {kk: c for kk, c in keyset.items() if kk in all_query_keys}
        if len(probed) < n_attrs:  # pre-join reduction
            continue
        for q in qrows:
            if all(a in probed for a in q):
                for a in q:  # one attribution per attr instance
                    col_scores[(t_r[0], probed[a])] += 1
    # top-n columns per table, summed
    tables: Counter = Counter()
    top_cols: dict[int, list] = {}
    for (t, c), s in col_scores.items():
        top_cols.setdefault(t, []).append((s, c))
    table_scores = {}
    for t, cols in top_cols.items():
        cols.sort(key=lambda sc: (-sc[0], sc[1]))
        table_scores[t] = sum(s for s, _ in cols[: top_n or n_attrs])
    return table_scores, dict(col_scores)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(postings=posting_strategy, query=query_strategy)
def test_search_matches_python_oracle(spark, postings, query):
    pdf = spark.createDataFrame(
        postings, "key string, table int, column int, row bigint"
    )
    qdf = spark.createDataFrame(query, "a string, b string")
    tbl, col = multi_attribute_join_search(pdf, qdf, ["a", "b"])
    got_tables = {r.table: r.join_score for r in tbl.collect()}
    want_tables, want_cols = _python_oracle(postings, query)
    want_tables = {t: s for t, s in want_tables.items() if s > 0}
    assert got_tables == want_tables
    # column output is top-2k of the per-table top-n columns
    got_cols = {(r.table, r.column): r.join_score for r in col.collect()}
    for tc, s in got_cols.items():
        assert want_cols.get(tc) == s


query3_strategy = st.lists(
    st.tuples(
        st.sampled_from(KEYS + ["zz"]),
        st.sampled_from(KEYS + ["zz"]),
        st.sampled_from(KEYS + ["zz"]),
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(postings=posting_strategy, query=query3_strategy)
def test_seq_top2_matches_python_oracle_n3(spark, postings, query):
    """Seq's top-2 dialect at n=3 — where it diverges from the default —
    against the direct-from-definition scorer with top_n=2."""
    pdf = spark.createDataFrame(
        postings, "key string, table int, column int, row bigint"
    )
    qdf = spark.createDataFrame(query, "a string, b string, c string")
    tbl, _ = multi_attribute_join_search(pdf, qdf, ["a", "b", "c"], top_n=2)
    got = {r.table: r.join_score for r in tbl.collect()}
    want, _ = _python_oracle(postings, query, n_attrs=3, top_n=2)
    want = {t: s for t, s in want.items() if s > 0}
    assert got == want

