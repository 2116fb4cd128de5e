"""DuckDB oracle: the same searches and index, computed outside Spark.

Checks run after the timed window. Query tables are registered from the
generated pandas frames; the posting index is materialised once per index
definition from the program's own ``posting_index_sql``.
"""

from __future__ import annotations

import os
from pathlib import Path

import duckdb
import pandas as pd

from multi_attribute_join_search_with_mapreduce_spark.index import TableSpec, posting_index_sql
from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
    join_search_batch_sql,
    join_search_sql,
)


class Oracle:
    def __init__(self, lake_dir: Path, tables: list[str]) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
        for t in tables:
            self.add_table(lake_dir, t)
        self._n = 0

    def add_table(self, lake_dir: Path, name: str) -> None:
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{lake_dir}/{name}.parquet')"
        )

    def build_index(self, name: str, specs: tuple[TableSpec, ...], min_key_freq: int = 1) -> int:
        """Materialise the expected index as table ``name``; returns its size."""
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS {posting_index_sql(specs, min_key_freq)}")
        return self.con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]

    def _register(self, df: pd.DataFrame) -> str:
        self._n += 1
        name = f"q{self._n}"
        self.con.register(name, df)
        return name

    def search(self, index: str, query: pd.DataFrame, attrs: list[str]) -> tuple[list, list]:
        """Expected ``(tables, columns)`` rows, in the program's order."""
        q = self._register(query)
        src = f"SELECT * FROM {index}"
        return tuple(
            [tuple(r) for r in self.con.execute(join_search_sql(src, q, attrs, result=res)).fetchall()]
            for res in ("tables", "columns")
        )

    def search_batch(
        self, index: str, batch: list[tuple[str, pd.DataFrame, list[str]]]
    ) -> tuple[list, list]:
        entries = [(qid, self._register(df), attrs) for qid, df, attrs in batch]
        src = f"SELECT * FROM {index}"
        return tuple(
            [tuple(r) for r in self.con.execute(join_search_batch_sql(src, entries, result=res)).fetchall()]
            for res in ("tables", "columns")
        )

    def probed_postings(self, index: str, queries: list[tuple[pd.DataFrame, list[str]]]) -> int:
        """Distinct (table, row, key) postings whose key is a normalised
        attribute value of any of ``queries`` — the rows the probe passes
        on to the (table,row) shuffle."""
        from multi_attribute_join_search_with_mapreduce_spark.functions.text import normalize_sql

        keys = []
        for df, attrs in queries:
            q = self._register(df)
            keys += [f"SELECT {normalize_sql(a)} AS key FROM {q}" for a in attrs]
        sql = (
            f"SELECT count(*) FROM (SELECT DISTINCT \"table\", row, key FROM {index} "
            f"WHERE key IN ({' UNION '.join(keys)}))"
        )
        return self.con.execute(sql).fetchone()[0]

    def store_mismatches(self, store_dir: Path, expected: str) -> int:
        """Postings that differ, as a multiset, between the floored store's
        queryable half on disk and the expected index table."""
        store = (
            f"SELECT key, \"table\", \"column\", row FROM read_parquet("
            f"'{store_dir}/index/**/*.parquet', hive_partitioning = true)"
        )
        exp = f'SELECT key, "table", "column", row FROM {expected}'
        sql = (
            f"SELECT count(*) FROM (({store} EXCEPT ALL {exp}) "
            f"UNION ALL ({exp} EXCEPT ALL {store}))"
        )
        return self.con.execute(sql).fetchone()[0]

    def close(self) -> None:
        self.con.close()
