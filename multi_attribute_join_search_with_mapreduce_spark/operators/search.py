"""Multi-attribute join search — the engine's flagship operator.

Semantics (the 4-phase contract of SURVEY.md §2.11, shared by the
reference's ``Seq_Search.py:78-93`` and ``Par_Search.py:89-119``):

1. a **match** is a lake ``(table, row)`` whose normalized cells contain
   *all* n query attributes of one query row (``Par_Search.py:249,284``);
2. **column join-score** = number of matches attributed to
   ``(table, column)`` (``Par_Search.py:312-316``);
3. **table join-score** = sum of the table's top-n column scores
   (``Par_Search.py:318-327``);
4. result = top-k tables / top-2k columns by score (``Par_Search.py:329-330``).

Spark-first design — ONE plan builder (:func:`_search_plan`), one lazy
Catalyst DAG, zero driver collects. The single search, its phase view
(:func:`search_stages`) and the batch search all run the batch-shaped
plan; a single search is a batch of one:

- the reference probes Vertica once per query column and collects key
  lists to the driver (``Par_Search.py:172``, ``handlers.py:69-71``);
  here the probe is a **broadcast semi-join** of the posting index
  against the distinct query keys, so keys never leave the executors and
  the parquet scan receives the key filter as a runtime bloom/IN filter;
- each query row probes on its rarest attribute only and verifies the
  rest against a per-``(table,row)`` key map, which also applies the
  thesis's pre-join reduction (drop ``(table,row)`` groups with fewer
  than n matched keys, ``Par_Search.py:244-250``) — an
  application-level semi-join Catalyst cannot invent;
- the reference's row-, cell- and column-wise strategies and its MapKey
  fan-out (``main.py:19-21``, ``Seq_Search.py:153-166``/``:203-215``,
  ``Par_Search.py:244-285``) are subsumed: SURVEY.md §3.2 treats them
  as variants of one contract that differ only in how the probe stream
  is batched, never in which ``(table,row)`` groups reach n distinct key
  hits, and the thesis measured identical results with column-wise the
  fastest;
- small sides (query keys, query rows) are explicitly ``broadcast()`` —
  a query table is thousands of rows against a 100 TB index;
- aggregation is partial/final hash agg; top-k is
  ``TakeOrderedAndProject`` via ``orderBy().limit()`` for a single
  search and a per-``qid`` window for a batch.

Deterministic divergences from the reference (documented per SURVEY.md
§2.11 "quirks to not replicate blindly"):

- posting dedup keeps the **smallest** column id per ``(table,row,key)``
  (the reference's ``dropDuplicates`` keeps an arbitrary one);
- query rows are deduplicated on the *normalized* attribute tuple, and
  the row identity (``MapKey``) joins attributes with a ``US`` (0x1f)
  separator — the reference's space-joined MapKey conflates distinct
  rows (``Par_Search.py:213-215``);
- ties in scores break on ascending table / column id;
- top-n-per-table defaults to n = attribute count (Par semantics); Seq
  hard-codes 2 (``Object.py:78-79``) and is reachable as ``top_n=2``
  on every entry point (DataFrame, batch, SQL surface, CLI ``--top-n``);
- the pre-join reduction (kept from ``Par_Search.py:244-250``) counts
  *distinct probed keys per (table,row)*, so a query row with
  duplicated attribute values — e.g. ``(k, k)`` — matches a lake row
  only when that row also contains other probed keys. The DataFrame
  plan, the SQL surface, and the DuckDB oracle implement this identically
  (property-tested in ``tests/test_search_properties.py``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from multi_attribute_join_search_with_mapreduce_spark.functions.text import normalize_col, normalize_sql

MAPKEY_SEP = "\x1f"
DEFAULT_TOP_K = 20


def _validate_top_n(top_n: int | None) -> None:
    """``top_n=0`` (or negative) would silently rank-filter away every
    column score and return empty results; reject it loudly instead.
    ``None`` remains the Par dialect (rank bound = attribute count)."""
    if top_n is not None and top_n < 1:
        raise ValueError(
            f"top_n must be >= 1, got {top_n!r} (use None for the Par "
            "dialect: rank bound = attribute count)"
        )


@dataclass(frozen=True)
class SearchStages:
    """The four reference phases (SURVEY.md §2.11 / ``log_runtime``) as
    separately materializable sub-DAGs, for phase-level benchmarking."""

    mappings: DataFrame  # import: normalized/deduped query rows, unpivoted
    probed: DataFrame  # query: posting-index probe (semi-join)
    matched: DataFrame  # join_discovery: verified per-attr match rows
    tables: DataFrame  # scoring: top-k table scores
    columns: DataFrame  # scoring: top-2k column scores


def _probe_broadcastable(*query_dfs: DataFrame) -> bool:
    """Auto decision for the query-derived broadcast hints.

    The explicit ``broadcast()`` hints on the probe side bypass
    ``spark.sql.autoBroadcastJoinThreshold`` — correct for the normal
    case (a query table of thousands of rows against a 100 TB index)
    but wrong when a user probes with a FACT-sized query table, where a
    forced broadcast would OOM the driver. The auto path applies
    Catalyst's own rule to the probe's source: hint only when the
    optimizer's size estimate of the RAW query tables (summed over a
    batch) is within the session's broadcast threshold. The raw estimate
    is a conservative UPPER BOUND on the derived key set actually hinted
    (projection + dedup only shrink it), and it is free for an in-memory
    or file-backed table, where estimating the normalized query rows
    means optimizing the normalizer's plan on every request. The check
    can suppress hints for a wide query table whose kilobyte-scale key
    projection would merit one — in that case AQE still converts to
    broadcast from runtime stats, so the cost of the conservatism is one
    planning round, not a missed broadcast.
    """
    spark = query_dfs[0].sparkSession
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            thr = int(raw)  # plain bytes, incl. the disabled sentinel "-1"
        except ValueError:
            thr = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                    raw
                )
            )
    except Exception:
        thr = 10 << 20  # Spark's default threshold
    if thr <= 0:
        return False  # user disabled auto-broadcast: respect it
    try:
        est = sum(
            int(q._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            for q in query_dfs
        )
    except Exception:
        return True  # no estimate (e.g. local relation): fixture-scale default
    return est <= thr


def _hinter(query_dfs: list[DataFrame], broadcast_probe: bool | None):
    """The broadcast-hint applicator for query-derived join sides:
    identity when the probe side must not be forced resident."""
    bcast = (
        _probe_broadcastable(*query_dfs) if broadcast_probe is None else broadcast_probe
    )
    return F.broadcast if bcast else (lambda df: df)


def _probe_index(postings: DataFrame, keys: DataFrame, hint) -> DataFrame:
    """The index-probe semi-join, layout-aware.

    Plain layout: semi-join on the ``key`` string. Hashed layout
    (``write_posting_index(..., hashed_keys=True)``, detected from the
    ``key_h`` column): semi-join on ``xxhash64`` — 8 bytes/row however
    wide the cell values are, and aligned with the hashed index's
    bucketing so the probe scan needs no index-side exchange. A 64-bit
    collision admits a false CANDIDATE row only; every downstream join
    and map lookup keys on the raw string, so results are exact either
    way (collision rows verify against nothing).
    """
    if "key_h" in postings.columns:
        keys_h = keys.select(F.xxhash64("key").alias("key_h")).distinct()
        return postings.join(hint(keys_h), "key_h", "left_semi")
    return postings.join(hint(keys), "key", "left_semi")


def multi_attribute_join_search(
    postings: DataFrame,
    query_df: DataFrame,
    attrs: list[str],
    k: int = DEFAULT_TOP_K,
    broadcast_probe: bool | None = None,
    top_n: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Return ``(table_scores, column_scores)`` DataFrames.

    The single search is the batch plan (:func:`_search_plan`) at B=1:
    each query row joins postings on its globally *rarest* attribute
    value only, and the remaining attributes are verified against a
    per-``(table, row)`` key map, so partial matches (a row hitting one
    common attribute but not the rest) never materialize. With a
    frequent/rare attribute mix (e.g. brand × product-name) this cuts
    the join input by orders of magnitude: probing ``part ⨝ part`` on 3
    attributes at sf0.1 went 46s → ~3s against the reference's
    all-pairs shape (``Par_Search.py:244-285``).

    The reference's row-, cell- and mapkey-style strategies are
    subsumed by this one plan (see the module docstring).

    ``broadcast_probe``: force (True) or suppress (False) the explicit
    broadcast hints on the query-derived join sides; ``None`` (default)
    decides from the optimizer's size estimate of the query table vs
    ``spark.sql.autoBroadcastJoinThreshold`` (see
    :func:`_probe_broadcastable`) — fact-sized probes degrade to
    AQE-chosen strategies instead of a forced driver-resident build.

    ``top_n``: how many of each table's best column scores sum into its
    table score. ``None`` (default) = ``len(attrs)`` — Par-Search's
    rule (``Par_Search.py:318-327`` keeps col_count ranks). Pass ``2``
    for Seq-Search's semantics, which hard-codes the top TWO column
    scores regardless of attribute count (``Object.py:78-79``:
    ``self.score = sorted(counters)[-1] + sorted(counters)[-2]``). The
    two coincide at n=2 (the reference's only exercised width) and
    diverge for n>2; exposing the knob closes that semantic delta
    instead of silently picking one dialect.

    ``table_scores``: ``(table INT, join_score BIGINT)`` — top-k.
    ``column_scores``: ``(table INT, column INT, join_score BIGINT)`` — top-2k.
    """
    st = search_stages(postings, query_df, attrs, k, broadcast_probe, top_n)
    return st.tables, st.columns


def search_stages(
    postings: DataFrame,
    query_df: DataFrame,
    attrs: list[str],
    k: int = DEFAULT_TOP_K,
    broadcast_probe: bool | None = None,
    top_n: int | None = None,
) -> SearchStages:
    """Phase-exposing form of :func:`multi_attribute_join_search` —
    used by ``bench.py`` for the reference's 4-phase wall-clock
    breakdown (``log_runtime``, ``Par_Search.py:16-32``).

    The stages are the very DataFrames the scoring plan is built on, not
    projections of them, so a caller that persists one stage has the
    later stages read it from the cache."""
    melted, deduped, matched, top_cols = _search_plan(
        postings, [(0, query_df, attrs)], broadcast_probe, top_n
    )
    # Grouping on (qid, table) rather than table alone: top_cols is
    # already partitioned by (qid, table) from the rank window, so the
    # sum needs no exchange of its own. qid is constant at B=1.
    tables = (
        top_cols.groupBy("qid", "table")
        .agg(F.sum("join_score").alias("join_score"))
        .drop("qid")
        .orderBy(F.desc("join_score"), F.asc("table"))
        .limit(k)
    )
    columns = (
        top_cols.select("table", "column", "join_score")
        .orderBy(F.desc("join_score"), F.asc("table"), F.asc("column"))
        .limit(2 * k)
    )
    return SearchStages(
        mappings=melted, probed=deduped, matched=matched, tables=tables, columns=columns
    )


def _search_plan(
    postings: DataFrame,
    batch: list[tuple],
    broadcast_probe: bool | None,
    top_n: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """THE search plan: B query tables answered in one pass over the
    posting index. Returns ``(melted, deduped, matched, top_cols)``;
    every per-query frame is keyed by ``qid``, and ``top_cols`` holds
    ``(qid, table, column, join_score, _rank_n)`` — each table's best
    ``_rank_n`` column scores. The callers add the top-k finish.

    ``batch`` entries are ``(qid, query_df, attrs[, entry_top_n])``;
    the rank bound resolves as entry ``top_n`` > ``top_n`` > attr count.
    Attributes travel as an ``array<string>`` column, so queries with
    different attribute counts share one DAG.

    Pipeline, one lazy DAG:

    1. normalize the query rows, dedup them in ONE exchange over the
       union, and broadcast-semi-join probe the (persisted) posting
       index with the distinct keys;
    2. ``freq``: frequency of each probed key, computed straight off the
       cheap pre-dedup probe (the rarest-attribute choice is a
       selectivity heuristic — any consistent frequency source yields
       identical results because verification enforces the semantics);
    3. each query row picks its lowest-frequency attribute as
       ``probe_key`` (ties break on key text) — rows with any
       zero-frequency attribute are dropped (they cannot match);
    4. ``kc``: ONE ``(table,row)`` shuffle builds the per-row
       key->column map AND applies the pre-join reduction as a
       post-aggregation size filter (``size(_m) >=`` the smallest n in
       the batch — the thesis's window trick, Par_Search.py:244-250,
       folded into the aggregate so no separate window pass);
    5. ``hits`` = kc exploded back to key granularity (fan-out ≤ the
       table's indexed-column count) ⨝ broadcast probe on
       ``key = probe_key``, carrying ``_m`` along — verification and
       column attribution are then native map lookups with NO
       (table,row) self-join. This matters for more than readability:
       a self-join re-aliases expression ids, defeating Spark's
       exchange-reuse rule, so the r1 shape recomputed the probe+dedup
       subtree (and its shuffle) three times per query.

    Why batch-shaped: at 100 TB the dominant cost is the index-side work
    — the probe scan, the ``(table,row)`` shuffle, and the key-map
    build. Those depend only on the UNION of probed keys, not on which
    query contributed them, so they run once and the per-query work
    (rarest-attribute choice, verification, scoring) rides on
    broadcast-sized query metadata.
    """
    _validate_top_n(top_n)
    qrows = None
    ns, rank_ns = [], []
    for entry in batch:
        qid, query_df, attrs = entry[0], entry[1], entry[2]
        entry_top_n = entry[3] if len(entry) > 3 else None
        _validate_top_n(entry_top_n)
        eff_top_n = entry_top_n if entry_top_n is not None else top_n
        n = len(attrs)
        ns.append(n)
        rank_ns.append(eff_top_n if eff_top_n is not None else n)
        norm = query_df.select(
            *[normalize_col(F.col(a)).alias(f"_a{i}") for i, a in enumerate(attrs)]
        )
        for i in range(n):
            norm = norm.filter(F.col(f"_a{i}") != "")
        q = norm.select(
            F.lit(qid).alias("qid"),
            F.concat_ws(MAPKEY_SEP, *[F.col(f"_a{i}") for i in range(n)]).alias(
                "MapKey"
            ),
            F.array(*[F.col(f"_a{i}") for i in range(n)]).alias("_attrs"),
            F.lit(n).alias("_n"),
            F.lit(rank_ns[-1]).alias("_rank_n"),
        )
        qrows = q if qrows is None else qrows.unionByName(q)
    # ONE dedup exchange over the unioned query metadata instead of one
    # per entry: the normalizer's alphabet is [a-z0-9 ], so the
    # US-joined MapKey is injective over the normalized attribute tuple
    # (within a qid, whose n is fixed) and (qid, MapKey) determines every
    # other column — a whole-row dedup keeps the same rows. Whole-row,
    # not dropDuplicates(["qid", "MapKey"]): the subset form carries
    # _attrs through First(), whose array buffer forces sort-based
    # aggregation (a SortAggregate + Sort per use of qrows).
    qrows = qrows.dropDuplicates()

    melted = qrows.select("qid", "MapKey", "_n", F.explode("_attrs").alias("key"))
    keys = melted.select("key").distinct()
    # The union of B query tables is still probe-side, so a fact-sized
    # batch degrades to AQE-chosen strategies instead of a forced
    # broadcast.
    hint = _hinter([entry[1] for entry in batch], broadcast_probe)

    probed = _probe_index(postings, keys, hint)

    # Probe-key selection works off the raw (pre-dedup) probe: the index
    # is persisted, so this branch is a cache scan + one small shuffle
    # on key — it shares nothing heavy with the match pipeline below.
    freq = probed.groupBy("key").agg(F.count(F.lit(1)).alias("_freq"))
    with_freq = freq.join(hint(melted), "key")
    w_row = Window.partitionBy("qid", "MapKey")
    rarest = (
        with_freq.withColumn(
            "_rn", F.row_number().over(w_row.orderBy(F.asc("_freq"), F.asc("key")))
        )
        .withColumn("_n_present", F.count(F.lit(1)).over(w_row))
        # early drop: an attr instance with zero lake frequency means the
        # row can never match (verification would drop it later anyway)
        .filter((F.col("_rn") == 1) & (F.col("_n_present") == F.col("_n")))
        .select("qid", "MapKey", F.col("key").alias("probe_key"))
    )
    probe = rarest.join(qrows, ["qid", "MapKey"])

    # THE (table,row) shuffle — the only fact-sized exchange in the
    # pipeline, batch-invariant. Dedup (min column per key) and the
    # per-row key/column map build both run on it (groupBy(table,row
    # [,key]) clustering is satisfied by hashpartitioning(table,row));
    # the pre-join reduction is the size filter on the aggregated map.
    deduped = (
        probed.repartition("table", "row")
        .groupBy("table", "row", "key")
        .agg(F.min("column").alias("column"))
    )
    # key->column MAP rather than an array of structs: membership tests
    # and column attribution become GetMapValue — whole-stage-codegen
    # expressions — where array filter/element_at higher-order functions
    # are CodegenFallback (interpreted per hit; measured 2s of the 3s
    # 3-attr search when the query table is the lake table itself and
    # every row verifies). Keys are unique per (table,row) by the
    # dedup aggregate, so the map is well-defined.
    kc = (
        deduped.groupBy("table", "row")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("key", "column"))).alias("_m")
        )
        .filter(F.size("_m") >= min(ns))
    )

    # Back to key granularity and broadcast-join the probe; _m rides
    # along so verification + column attribution are map lookups — no
    # second pass over the postings, no (table,row) self-join.
    hits = kc.select(
        "table", "row", "_m", F.explode(F.map_keys("_m")).alias("key")
    ).join(hint(probe), F.col("key") == F.col("probe_key"))

    # Verification: every attr of the query row is a key of the row's
    # map. One map lookup per attr position, not forall(_attrs, a ->
    # _m[a] IS NOT NULL): a lambda is CodegenFallback, and as the join
    # condition it pulls the whole probe_key join out of whole-stage
    # codegen. get() is NULL past a shorter query's last attr (attrs are
    # never NULL), and lookups beat array_except(_attrs, map_keys(_m)),
    # which builds a hash set per hit (execution 18-42% slower on a
    # 3-attr sf0.1 search where every row verifies, 4 cores).
    verified = hits
    for i in range(max(ns)):
        a_i = F.get("_attrs", i)
        verified = verified.filter(a_i.isNull() | F.col("_m")[a_i].isNotNull())

    matched = verified.select(
        "qid", "_rank_n", "table", "_m", F.explode("_attrs").alias("_mk")
    ).select("qid", "_rank_n", "table", F.col("_m")[F.col("_mk")].alias("column"))

    col_scores_all = matched.groupBy("qid", "table", "column").agg(
        F.count(F.lit(1)).alias("join_score"), F.min("_rank_n").alias("_rank_n")
    )
    w_rank = Window.partitionBy("qid", "table").orderBy(
        F.desc("join_score"), F.asc("column")
    )
    # _rank_n is each entry's resolved rank bound, constant per qid. The
    # literal conjunct is redundant for the result but lets the optimizer
    # push a WindowGroupLimit below the rank window, which a
    # column-valued bound alone does not.
    top_cols = (
        col_scores_all.withColumn("_rn", F.row_number().over(w_rank))
        .filter((F.col("_rn") <= F.col("_rank_n")) & (F.col("_rn") <= max(rank_ns)))
        .drop("_rn")
    )
    return melted, deduped, matched, top_cols


def multi_attribute_join_search_batch(
    postings: DataFrame,
    batch: list[tuple],
    k: int = DEFAULT_TOP_K,
    broadcast_probe: bool | None = None,
    top_n: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Amortized batch form of the flagship search: B query tables
    answered in ONE pass over the posting index.

    Returns ``(tables, columns)`` with a leading ``qid`` column; per
    ``qid`` the rows equal the single-query search exactly
    (differential-tested query-by-query and against the SQL oracle).
    Both run :func:`_search_plan`; the batch finishes with per-qid
    top-k windows where the single search uses ``orderBy().limit()``.
    Index-side work in the plan is CONSTANT in B (gated by
    ``tests/test_search_batch.py``); B sequential searches would pay the
    fact-sized shuffle B times.

    Heterogeneous dialects (VERDICT r8 task #7): each batch entry may
    carry its own scoring rank bound as an optional 4th element —
    ``(qid, query_df, attrs, entry_top_n)`` — so one batch can mix a
    Seq-dialect caller (``top_n=2``) with Par-default callers. The
    bound rides the broadcast query metadata as ``_rank_n`` (like
    ``_n``), so the shared index-side plan is unchanged. Precedence:
    entry ``top_n`` > batch-wide ``top_n`` > that entry's attr count.
    """
    _, _, _, top_cols = _search_plan(postings, batch, broadcast_probe, top_n)
    w_tab = Window.partitionBy("qid").orderBy(F.desc("join_score"), F.asc("table"))
    table_scores = (
        top_cols.groupBy("qid", "table")
        .agg(F.sum("join_score").alias("join_score"))
        .withColumn("_rn", F.row_number().over(w_tab))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("qid", F.desc("join_score"), F.asc("table"))
    )
    w_col = Window.partitionBy("qid").orderBy(
        F.desc("join_score"), F.asc("table"), F.asc("column")
    )
    column_scores = (
        top_cols.withColumn("_rn", F.row_number().over(w_col))
        .filter(F.col("_rn") <= 2 * k)
        .drop("_rn", "_rank_n")
        .orderBy("qid", F.desc("join_score"), F.asc("table"), F.asc("column"))
    )
    return table_scores, column_scores


def join_search_batch_sql(
    index_sql: str,
    batch: list[tuple],
    k: int = DEFAULT_TOP_K,
    result: str = "tables",
    top_n: int | None = None,
) -> str:
    """DuckDB oracle for the batch search: the union of per-query
    single-search oracles, each tagged with its qid — the batch
    semantics ARE per-query semantics, only the execution is shared.
    ``top_n`` applies the Seq scoring dialect batch-wide; a 4th entry
    element overrides it per query (mirrors
    :func:`multi_attribute_join_search_batch`)."""
    _validate_top_n(top_n)
    parts = []
    for entry in batch:
        qid, tbl, attrs = entry[0], entry[1], entry[2]
        entry_top_n = entry[3] if len(entry) > 3 else None
        eff = entry_top_n if entry_top_n is not None else top_n
        parts.append(
            f"SELECT '{qid}' AS qid, * FROM "
            f"({join_search_sql(index_sql, tbl, attrs, k, result, eff)})"
        )
    union = "\nUNION ALL\n".join(parts)
    order = (
        'qid, join_score DESC, "table" ASC'
        if result == "tables"
        else 'qid, join_score DESC, "table" ASC, "column" ASC'
    )
    return f"SELECT * FROM (\n{union}\n) ORDER BY {order}"


def join_search_sql(
    index_sql: str,
    query_table: str,
    attrs: list[str],
    k: int = DEFAULT_TOP_K,
    result: str = "tables",
    top_n: int | None = None,
) -> str:
    """DuckDB SQL computing the identical result (differential oracle).

    ``index_sql`` is a SELECT producing ``(key, table, column, row)``
    (see :func:`..index.posting_index_sql`); ``result`` picks which of
    the two outputs to return ('tables' or 'columns'); ``top_n``
    mirrors :func:`multi_attribute_join_search`'s scoring-rank knob
    (None = len(attrs) = Par dialect; 2 = Seq dialect).
    """
    _validate_top_n(top_n)
    n = len(attrs)
    rank_n = n if top_n is None else top_n
    norm_cols = ", ".join(
        f"{normalize_sql(a)} AS _a{i}" for i, a in enumerate(attrs)
    )
    nonempty = " AND ".join(f"_a{i} <> ''" for i in range(len(attrs)))
    mapkey = ", ".join(f"_a{i}" for i in range(len(attrs)))
    key_union = "\nUNION ALL\n".join(
        f"SELECT _a{i} AS key, MapKey FROM qnorm" for i in range(len(attrs))
    )
    final = (
        """
SELECT "table", CAST(SUM(join_score) AS BIGINT) AS join_score
FROM top_cols GROUP BY "table"
ORDER BY join_score DESC, "table" ASC
LIMIT {k}
""".format(k=k)
        if result == "tables"
        else """
SELECT "table", "column", join_score FROM top_cols
ORDER BY join_score DESC, "table" ASC, "column" ASC
LIMIT {kk}
""".format(kk=2 * k)
    )
    return f"""
WITH postings AS ({index_sql}),
qraw AS (SELECT DISTINCT * FROM (
    SELECT {norm_cols} FROM {query_table}
) WHERE {nonempty}),
qnorm AS (SELECT *, concat_ws(chr(31), {mapkey}) AS MapKey FROM qraw),
mappings AS ({key_union}),
probed AS (
    SELECT p."table", p.row, p.key, MIN(p."column") AS "column"
    FROM postings p WHERE p.key IN (SELECT DISTINCT key FROM mappings)
    GROUP BY p."table", p.row, p.key
),
reduced AS (
    SELECT * FROM probed
    QUALIFY COUNT(*) OVER (PARTITION BY "table", row) >= {n}
),
matches AS (
    SELECT r."table", r.row, r."column", m.MapKey
    FROM reduced r JOIN mappings m ON r.key = m.key
    QUALIFY COUNT(*) OVER (PARTITION BY r."table", r.row, m.MapKey) >= {n}
),
col_scores AS (
    SELECT "table", "column", CAST(COUNT(*) AS BIGINT) AS join_score
    FROM matches GROUP BY "table", "column"
),
top_cols AS (
    SELECT "table", "column", join_score FROM col_scores
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY "table" ORDER BY join_score DESC, "column" ASC
    ) <= {rank_n}
)
{final}
"""
