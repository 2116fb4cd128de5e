"""Seeded inputs for the benchmark: the lake, query tables, landing tables.

The lake is a generated replica of the sf0.1 fixture's shape (same tables,
schemas, row counts and value domains, so the wide posting index holds
306,030 postings at ``scale=0.1``). It is generated from a fixed seed, so
every run indexes the same lake; ``--seed`` drives only the query and
landing tables. Everything here is plain pandas/NumPy: the program under
test receives the results as parquet files and Spark DataFrames.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

LAKE_SEED = 424242

# Value domains of the sf0.1 fixture.
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "hot", "blue", "old", "red", "new", "small", "green")
PART_NOUN = ("ring", "bolt", "plate", "anvil", "gear", "nut", "screw", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DOC_WORDS = (
    "a the agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan small sort spark stream "
    "table value vector window"
).split()


def lake_frames(scale: float) -> dict[str, pd.DataFrame]:
    """The lake tables indexed by ``WIDE_LAKE_TABLES``, at ``scale``."""
    rng = np.random.default_rng(LAKE_SEED)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ev, n_doc = int(1_000_000 * scale), int(50_000 * scale)
    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }
    )
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(np.sort(rng.integers(0, 86_400 * 60 * 10**6, n_ev)), unit="us"),
            "user_id": rng.integers(0, 2000, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(40.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lengths = rng.integers(8, 90, n_doc)
    words = rng.choice(DOC_WORDS, int(lengths.sum()))
    ends = np.cumsum(lengths)
    text = [" ".join(words[e - n : e]) for n, e in zip(lengths, ends)]
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "events": events,
        "documents": documents,
    }


def write_parquet(frames: dict[str, pd.DataFrame], out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, df in frames.items():
        df.to_parquet(out_dir / f"{name}.parquet", index=False)


@dataclass(frozen=True)
class QueryKind:
    """One shape of query table: lake columns sampled row-wise together,
    so a clean query row names a real lake row on every attribute."""

    name: str
    table: str
    cols: tuple[str, ...]
    max_rows: int  # cap on this kind's query-table size


# Measured requests cycle through these in this order, interleaving rare
# keys (one lake row per value) with hot keys (thousands of rows per value)
# so that even a short run sees both. The multi-attribute kinds with hot
# keys stay smaller: the DuckDB oracle's cost grows with the square of
# their size.
QUERY_KINDS: tuple[QueryKind, ...] = (
    QueryKind("customer_name_segment", "customer", ("c_name", "c_mktsegment"), 2000),
    QueryKind("document_lang_source", "documents", ("lang", "source"), 5000),
    QueryKind("supplier_name", "supplier", ("s_name",), 5000),
    QueryKind("part_name_brand_type", "part", ("p_name", "p_brand", "p_type"), 300),
    QueryKind("customer_segment", "customer", ("c_mktsegment",), 5000),
    QueryKind("event_props", "events", ("props",), 5000),
)
WARMUP_KIND = QUERY_KINDS[3]

# Landing tables for the ingest workload: lake rows re-landed under a fresh
# table id, so keys below the floor cross it (the residual rewrite) while
# fresh tokens stay below it.
LANDING_KINDS: tuple[QueryKind, ...] = (
    QUERY_KINDS[0],
    QueryKind("document_text_lang_source", "documents", ("text", "lang", "source"), 2000),
    QUERY_KINDS[2],
    QUERY_KINDS[3],
)

NOISE_SHARE = 0.3  # rows with case/punctuation/whitespace noise
MISS_SHARE = 0.1  # rows with one attribute that matches nothing
NULL_SHARE = 0.02  # rows with one null attribute
_SEPARATORS = ("  ", " - ", ", ", "\t", " / ", "_", " ")
_AFFIXES = ("", " ", "  ", "!", "...", "The ", "(", ")")


def _noisy(value: str, rng: np.random.Generator) -> str:
    """A spelling of ``value`` that ``normalize_col`` maps to the same key:
    case flips, separators between tokens, stopwords and punctuation at
    the ends. Nothing is inserted inside a token."""
    out = []
    for ch in value:
        if ch.isalpha() and rng.random() < 0.5:
            ch = ch.swapcase()
        if ch == " ":
            ch = _SEPARATORS[rng.integers(len(_SEPARATORS))]
        out.append(ch)
    pre = _AFFIXES[rng.integers(len(_AFFIXES))]
    post = _AFFIXES[rng.integers(len(_AFFIXES))].replace("The ", " the")
    return pre + "".join(out) + post


def _perturbed(
    lake: dict[str, pd.DataFrame], kind: QueryKind, rows: int, rng: np.random.Generator
) -> list[list[str | None]]:
    src = lake[kind.table]
    picks = rng.integers(0, len(src), rows)
    cols = [src[c].to_numpy()[picks] for c in kind.cols]
    out = []
    for i in range(rows):
        row: list[str | None] = [str(c[i]) for c in cols]
        u = rng.random()
        j = int(rng.integers(len(row)))
        if u < MISS_SHARE:
            row[j] = f"zq{rng.integers(1 << 40):x} unmatched"
        elif u < MISS_SHARE + NULL_SHARE:
            row[j] = None
        elif u < MISS_SHARE + NULL_SHARE + NOISE_SHARE:
            row = [_noisy(v, rng) for v in row]
        out.append(row)
    return out


def query_table(
    lake: dict[str, pd.DataFrame], kind: QueryKind, rows: int, rng: np.random.Generator
) -> pd.DataFrame:
    """A query table of ``kind`` with attribute columns ``a0..a{n-1}``."""
    data = _perturbed(lake, kind, rows, rng)
    return pd.DataFrame(data, columns=[f"a{i}" for i in range(len(kind.cols))], dtype=object)


# Sizes follow a fixed schedule, the seed picks the rows: every run sends
# the same mix of sizes, so runs with different seeds stay comparable.
SIZES = (300, 2000, 100, 1000, 5000)
BATCH_SLOT_SIZES = (1000, 1000, 5000, 1000, 1000, 1000)  # one per QUERY_KINDS entry
LANDING_ROWS = 3000
SEARCH_POOL = 24  # measured single searches generated per run
BATCH_POOL = 4  # batches generated per run
LANDING_POOL = 6  # landing tables generated per run
BATCH_SIZE = 8


def _size(kind: QueryKind, i: int) -> int:
    return min(kind.max_rows, SIZES[i % len(SIZES)])


@dataclass
class Request:
    kind: str
    table: pd.DataFrame


def search_requests(lake: dict[str, pd.DataFrame], seed: int) -> list[Request]:
    """A warm-up request, then SEARCH_POOL requests cycling QUERY_KINDS."""
    rng = np.random.default_rng([seed, 1])
    out = [Request(WARMUP_KIND.name, query_table(lake, WARMUP_KIND, WARMUP_KIND.max_rows, rng))]
    for i in range(SEARCH_POOL):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        out.append(Request(kind.name, query_table(lake, kind, _size(kind, i), rng)))
    return out


def batch_requests(lake: dict[str, pd.DataFrame], seed: int) -> list[list[Request]]:
    """BATCH_POOL batches of BATCH_SIZE query tables. Every batch holds each
    kind once, the rare-key ``supplier_name`` at full size; the last two
    slots re-sample half of slots 0 and 1, so tables inside a batch share
    keys."""
    rng = np.random.default_rng([seed, 2])
    batches = []
    for _ in range(BATCH_POOL):
        batch = [
            Request(k.name, query_table(lake, k, min(k.max_rows, n), rng))
            for k, n in zip(QUERY_KINDS, BATCH_SLOT_SIZES)
        ]
        for kind, src in zip(QUERY_KINDS, batch[:2]):
            half = src.table.sample(frac=0.5, random_state=int(rng.integers(1 << 31)))
            fresh = query_table(lake, kind, len(half), rng)
            batch.append(Request(kind.name + "_shared", pd.concat([half, fresh], ignore_index=True)))
        batches.append(batch)
    return batches


def search_inputs(
    lake: dict[str, pd.DataFrame], seed: int
) -> tuple[list[Request], list[list[Request]], str]:
    """Single-search requests, batches, and the digest of both."""
    reqs, batches = search_requests(lake, seed), batch_requests(lake, seed)
    return reqs, batches, digest([r.table for r in reqs] + [r.table for b in batches for r in b])


LANDING_TABLE_ID0 = 100
LANDING_ROW_ID0 = 10_000_000


@dataclass
class Landing:
    name: str
    table_id: int
    kind: QueryKind
    frame: pd.DataFrame  # row_id + l0..l{n-1}
    query: pd.DataFrame  # the search that follows the append


def ingest_inputs(lake: dict[str, pd.DataFrame], seed: int) -> tuple[list[Landing], str]:
    """LANDING_POOL landing tables with fresh table ids and row ids, each
    paired with a query table drawn from the same lake table, and their
    digest."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for i in range(LANDING_POOL):
        kind = LANDING_KINDS[i % len(LANDING_KINDS)]
        data = _perturbed(lake, kind, LANDING_ROWS, rng)
        frame = pd.DataFrame(data, columns=[f"l{j}" for j in range(len(kind.cols))], dtype=object)
        row0 = LANDING_ROW_ID0 * (i + 1)
        frame.insert(0, "row_id", np.arange(row0, row0 + LANDING_ROWS, dtype=np.int64))
        out.append(
            Landing(
                name=f"landing_{i:02d}",
                table_id=LANDING_TABLE_ID0 + i,
                kind=kind,
                frame=frame,
                query=query_table(lake, kind, _size(kind, i), rng),
            )
        )
    return out, digest([x for land in out for x in (land.frame, land.query)])


def digest(frames: list[pd.DataFrame]) -> str:
    """sha256 over the generated tables, in order: equal for equal inputs."""
    h = hashlib.sha256()
    for df in frames:
        h.update(json.dumps(list(df.columns)).encode())
        h.update(df.to_csv(index=False, na_rep="\\N").encode())
    return h.hexdigest()
