"""Join-search core: golden fixture (FIXTURES.md A2 scenarios) +
differential test against the DuckDB oracle on sf0.001."""

from __future__ import annotations

from multi_attribute_join_search_with_mapreduce_spark.index import (
    WIDE_LAKE_TABLES,
    build_posting_index,
    posting_index_sql,
)
from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
    join_search_sql,
    multi_attribute_join_search,
)
from tests.conftest import assert_df_equals_duckdb


def _fixture_postings(spark):
    """Hand-built posting index covering the A2 golden scenarios:
    - table 1: true match on two different columns (row 3)
    - table 2: (table,row) matching only one attribute -> filtered
    - table 3: both attributes hit the *same* column (counted, Par quirk)
    - duplicate postings (table,row,key) -> deduped
    - table 4: two matching rows -> score 4
    """
    rows = [
        # table 1, row 3: both attrs, different columns (+ dup posting)
        ("james cameron", 1, 1, 3),
        ("avatar", 1, 2, 3),
        ("avatar", 1, 2, 3),
        # table 1, row 4: only one attr -> dropped by reduction
        ("james cameron", 1, 1, 4),
        # table 2, row 7: only one attr
        ("avatar", 2, 1, 7),
        # table 3, row 1: both attrs in the SAME column
        ("james cameron", 3, 5, 1),
        ("avatar", 3, 5, 1),
        # table 4: two fully matching rows
        ("james cameron", 4, 1, 10),
        ("avatar", 4, 2, 10),
        ("james cameron", 4, 1, 11),
        ("avatar", 4, 2, 11),
        # noise key that is in no query row
        ("gore verbinski", 5, 1, 1),
    ]
    return spark.createDataFrame(rows, "key string, table int, column int, row bigint")


def _fixture_query(spark):
    rows = [
        ("James Cameron", "The Avatar!"),  # normalizes to (james cameron, avatar)
        ("James Cameron", "The Avatar!"),  # duplicate query row -> deduped
        ("Unknown Person", "No Such Movie"),  # matches nothing
    ]
    return spark.createDataFrame(rows, "director string, title string")


def test_golden_scores(spark):
    tbl, col = multi_attribute_join_search(
        _fixture_postings(spark),
        _fixture_query(spark),
        ["director", "title"],
        k=20,
    )
    tbl_rows = [(r["table"], r["join_score"]) for r in tbl.collect()]
    # table 4: 2 matching rows x 2 cols = 4; table 1: 1 row x 2 cols = 2;
    # table 3: same-column double-hit counts 2 (Par quirk, one column only)
    assert tbl_rows == [(4, 4), (1, 2), (3, 2)]
    col_rows = [(r["table"], r["column"], r["join_score"]) for r in col.collect()]
    assert col_rows == [
        (3, 5, 2),
        (4, 1, 2),
        (4, 2, 2),
        (1, 1, 1),
        (1, 2, 1),
    ]


def test_search_differential_sf0001(spark, sf_dir):
    """Full pipeline (index build + search) vs DuckDB on real testdata.

    Query = part(p_brand, p_type) against the 5-dim-table lake."""
    postings = build_posting_index(spark, sf_dir)
    import duckdb  # noqa: F401

    query_df = spark.read.parquet(f"{sf_dir}/part.parquet")
    tbl, col = multi_attribute_join_search(postings, query_df, ["p_brand", "p_type"])
    sql_tbl = join_search_sql(posting_index_sql(), "part", ["p_brand", "p_type"], result="tables")
    sql_col = join_search_sql(posting_index_sql(), "part", ["p_brand", "p_type"], result="columns")
    assert_df_equals_duckdb(tbl, sql_tbl, sf_dir)
    assert_df_equals_duckdb(col, sql_col, sf_dir)
    assert tbl.count() > 0


def test_index_differential_sf0001(spark, sf_dir):
    postings = build_posting_index(spark, sf_dir)
    assert_df_equals_duckdb(postings, posting_index_sql(), sf_dir)


def test_freq_floor_index_differential_and_pruning(spark, sf_dir):
    """min_key_freq=2 drops exactly the singleton keys (DuckDB-checked
    row set), strictly shrinks the whole-lake index, and keeps every
    surviving key's postings intact."""
    full = build_posting_index(spark, sf_dir, WIDE_LAKE_TABLES)
    floored = build_posting_index(spark, sf_dir, WIDE_LAKE_TABLES, min_key_freq=2)
    assert_df_equals_duckdb(
        floored, posting_index_sql(WIDE_LAKE_TABLES, min_key_freq=2), sf_dir
    )
    n_full, n_floor = full.count(), floored.count()
    assert 0 < n_floor < n_full


def test_wide_lake_index_and_discovery(spark, sf_dir):
    """The whole-lake index (dims + events + documents, every string
    column incl. free text and JSON props) matches its oracle, and a
    (lang, source) probe discovers the documents extension table —
    a join the 5-dim index cannot see."""
    postings = build_posting_index(spark, sf_dir, WIDE_LAKE_TABLES)
    assert_df_equals_duckdb(postings, posting_index_sql(WIDE_LAKE_TABLES), sf_dir)
    query_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tbl, _ = multi_attribute_join_search(postings, query_df, ["lang", "source"])
    hit_tables = {r["table"] for r in tbl.collect()}
    assert 7 in hit_tables  # documents' table_id in WIDE_LAKE_TABLES
    narrow = build_posting_index(spark, sf_dir)
    tbl_n, _ = multi_attribute_join_search(narrow, query_df, ["lang", "source"])
    assert tbl_n.count() == 0  # the 5-dim index has no such joins


def test_seq_top2_scoring_dialect(spark, sf_dir):
    """``top_n=2`` reproduces Seq-Search's table scoring (Object.py:78-79
    sums the top TWO column counters regardless of attribute count),
    where the default is Par's top-col_count (Par_Search.py:318-327).
    At n=3 on real data the dialects must diverge AND the Seq side must
    match its own DuckDB oracle (join_search_sql(top_n=2))."""
    postings = build_posting_index(spark, sf_dir)
    query_df = spark.read.parquet(f"{sf_dir}/part.parquet")
    attrs = ["p_name", "p_brand", "p_type"]
    t_seq, _ = multi_attribute_join_search(postings, query_df, attrs, top_n=2)
    t_par, _ = multi_attribute_join_search(postings, query_df, attrs)
    seq_rows = [(r["table"], r["join_score"]) for r in t_seq.collect()]
    par_rows = [(r["table"], r["join_score"]) for r in t_par.collect()]
    assert seq_rows != par_rows  # the knob actually changes the semantics
    assert_df_equals_duckdb(
        t_seq,
        join_search_sql(posting_index_sql(), "part", attrs, result="tables", top_n=2),
        sf_dir,
    )


def test_single_attribute_search(spark):
    """n=1: every row containing the attribute is a match; no reduction
    or cross-attribute verification is involved."""
    tbl, col = multi_attribute_join_search(
        _fixture_postings(spark),
        spark.createDataFrame([("James Cameron",)], "director string"),
        ["director"],
    )
    scores = {r.table: r.join_score for r in tbl.collect()}
    # james cameron appears in tables 1 (rows 3,4), 3 (row 1), 4 (rows 10,11)
    assert scores == {1: 2, 3: 1, 4: 2}
    assert all(r.join_score > 0 for r in col.collect())


def test_no_match_returns_empty(spark):
    tbl, col = multi_attribute_join_search(
        _fixture_postings(spark),
        spark.createDataFrame([("Nobody", "Nothing")], "director string, title string"),
        ["director", "title"],
    )
    assert tbl.count() == 0 and col.count() == 0


def test_null_and_empty_normalizing_rows_are_dropped(spark):
    """Rows with NULL or punctuation-only (normalizes to '') attributes
    cannot match; a valid row alongside them still scores."""
    q = spark.createDataFrame(
        [
            (None, "The Avatar!"),
            ("!!!", "The Avatar!"),  # normalizes to empty
            ("James Cameron", None),
            ("James Cameron", "The Avatar!"),
        ],
        "director string, title string",
    )
    tbl, _ = multi_attribute_join_search(_fixture_postings(spark), q, ["director", "title"])
    scores = {r.table: r.join_score for r in tbl.collect()}
    assert scores == {4: 4, 1: 2, 3: 2}
