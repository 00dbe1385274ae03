"""The main query path — SURVEY.md §3.1 / §2.3 F11-F14 / §2.5 O1-O7.

Reproduces ``GET /api/json/<rib>?filter=…&skip&limit&maxdepth&onlyactive&
changed_after&changed_before`` (src/ribservice.rs:35-113, defaults :253) as
a composition of DataFrame operators:

    route match (existential over history)  →  deterministic key order  →
    offset/limit pagination  →  history emission (newest-maxdepth)  →
    supernet fallback when the page is empty  →  nested-map JSON shaping.

Scale shape: one action returns the page and ``found`` (an ``observe``
count under the ordered offset/limit); a second runs only for the
supernet fallback; the page's history is one map-only collect keyed on
the page's route keys, and the route → session → path → ts nesting is
built on the driver from those ≤ limit × depth rows. On the serving copy
(:func:`serving_copy`: partitioned by route key, each entry's slot from
the newest precomputed) a request without entry filters runs no window
and no exchange. Requests with ``onlyactive``/``changed_after``/
``changed_before``, and ``asof`` requests, compute the windows per
request. The filter column itself is pure predicate algebra pushed into
the scan.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, Row, Window
from pyspark.sql import functions as F

from bgpexplorer_spark.filterlang import parse_filter
from bgpexplorer_spark.filterlang.compile import filter_to_column, pushdown_prefilter
from bgpexplorer_spark.functions.timeutil import parse_ts_param, ts_cutoff_str, ts_to_millis
from bgpexplorer_spark.schemas import KEY_COLS

ROUTE_COLS = ["rib", "nlri_str"]  # route identity (sessions/paths nest under it)

# the serving copy's extra column: each entry's 1-based slot counted from
# the newest entry of its KEY_COLS key
SLOT_COL = "_slot"

@dataclass
class QueryParams:
    """URL params with reference defaults (src/ribservice.rs:253)."""

    filter: str = ""
    skip: int = 0
    limit: int = 1000
    maxdepth: int = 10
    onlyactive: bool = False
    changed_after: dt.datetime | str | int | None = None
    changed_before: dt.datetime | str | int | None = None
    # time travel: answer the query as the RIB stood at this instant
    # (history truncated at ts <= asof before anything else runs)
    asof: dt.datetime | str | int | None = None

    def __post_init__(self) -> None:
        if self.changed_after is not None:
            self.changed_after = parse_ts_param(self.changed_after)
        if self.changed_before is not None:
            self.changed_before = parse_ts_param(self.changed_before)
        if self.asof is not None:
            self.asof = parse_ts_param(self.asof)

def history_entry_filter(p: QueryParams) -> Column:
    """F11/F12 — ``filter_ah`` (src/ribservice.rs:72-89): onlyactive plus
    STRICT ts bounds on both ends."""
    c = F.lit(True)
    if p.onlyactive:
        c = c & F.col("active")
    # string-literal cutoffs (ts_cutoff_str), not F.lit(datetime): a
    # datetime literal is interpreted through the session timezone
    # against TIMESTAMP_NTZ history (host-tz shift) and its cast blocks
    # parquet pushdown — same rationale as the asof path in query_rib
    if p.changed_before is not None:
        c = c & (F.col("ts") < F.lit(ts_cutoff_str(p.changed_before)))
    if p.changed_after is not None:
        c = c & (F.col("ts") > F.lit(ts_cutoff_str(p.changed_after)))
    return c

def serving_copy(history: DataFrame) -> DataFrame:
    """The history as the serving layer holds it once per state version:
    hash-partitioned by route key (so the route-level dedup and every
    KEY_COLS window above it need no exchange) plus :data:`SLOT_COL`.
    With the slot, the match window of :func:`matched_routes` and the
    maxdepth cut of :func:`emitted_history` are plain filters for every
    request that does not filter entries. The caller caches it.

    The copy is detached from the table's file index first (rebuilt over
    the history's planned RDD of internal rows, no row conversion): a
    cached plan that reads a path is refreshed in place by every
    in-process append to that path (CacheManager.recacheByPath), which
    would move an older version's copy — and the frames sharing its
    file index — onto newer files, and would make every version's copy
    one and the same cache entry."""
    spark = history.sparkSession
    # Spark internals, checked on Spark 4.1: Dataset.queryExecution().toRdd()
    # and the private[sql] SparkSession.internalCreateDataFrame.
    # tests/test_served_copy.py::test_serving_copy_reads_no_files fails
    # if an upgrade changes them
    jdf = history._jdf
    detached = DataFrame(
        spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        ),
        spark,
    )
    n = spark.sparkContext.defaultParallelism
    w = Window.partitionBy(*KEY_COLS).orderBy(F.col("ts").desc())
    return detached.repartition(n, *ROUTE_COLS).withColumn(
        SLOT_COL, F.row_number().over(w)
    )

def _uses_slots(history: DataFrame, p: QueryParams) -> bool:
    """Slots rank the unfiltered history: they serve a request only when
    filter_ah keeps every entry."""
    filters_entries = (
        p.onlyactive or p.changed_after is not None or p.changed_before is not None
    )
    return SLOT_COL in history.columns and not filters_entries

def _route_sort_key() -> list[Column]:
    """Deterministic route order standing in for BTreeMap key order (O1
    pagination; SURVEY.md §7 risk register). RD sorts before prefix
    (src/ribfilter.rs:472-483); addr forms are the sortable numerics."""
    return [
        F.col("rd_hi").asc_nulls_first(),
        F.col("rd_lo").asc_nulls_first(),
        F.col("addr_v4").asc_nulls_first(),
        F.col("addr_v6").asc_nulls_first(),
        F.col("prefixlen").asc(),
        F.col("nlri_str").asc(),
    ]

def _key_len() -> Column:
    """Key bit-length for supernet most-specific-first ordering
    (src/ribfilter.rs:12-34 SortIter + len(): labels*24 + 64 per RD +
    prefixlen)."""
    return (
        F.coalesce(F.size("labels"), F.lit(0)) * 24
        + F.when(F.col("rd_hi").isNotNull(), 64).otherwise(0)
        + F.coalesce(F.col("prefixlen"), F.lit(0))
    )

def matched_routes(
    history: DataFrame, rib: str, p: QueryParams, supernet: bool = False
) -> DataFrame:
    """F14 — route-level existential: a route matches iff ∃ history entry
    that (a) passes filter_ah, (b) sits inside the reference's quirky
    match window — the newest ``maxdepth`` slots computed from the
    UNFILTERED per-path entry count (src/ribfilter.rs:595-609: the skip
    count uses ``items.len()``, not the filtered length), and (c) the
    3-valued filter says Yes.

    Returns one row per route key with the sortable key columns.
    """
    terms = parse_filter(p.filter)
    df = history.filter(F.col("rib") == rib)
    if not supernet:
        # the 3VL tree below runs ABOVE two windows, where Catalyst
        # cannot push it; the prefilter's plain range/equality conjuncts
        # reference only route-KEY columns (constant per KEY_COLS
        # partition), so applying them before the windows is sound —
        # whole keys are kept or dropped, never split — and restores
        # parquet min/max pruning for the serving path. Supernet mode
        # reverses containment, where the prefilter does not apply.
        df = df.filter(pushdown_prefilter(terms, rib))
    # NB maxdepth=0 ⇒ zero match-window slots ⇒ no route matches: the
    # reference's own semantics (src/ribfilter.rs:601-606 skips len-0
    # entries) — deliberately asymmetric with emitted_history's
    # "0 = unlimited" (src/bgpsvc.rs:521-526), replicated as-is
    if _uses_slots(history, p):
        # no entry filter: the window is the newest maxdepth slots
        df = df.filter(F.col(SLOT_COL) <= F.lit(p.maxdepth))
    else:
        wk = Window.partitionBy(*KEY_COLS)
        df = df.withColumn("_total", F.count(F.lit(1)).over(wk))
        df = df.filter(history_entry_filter(p))
        df = df.withColumn(
            "_rn_asc", F.row_number().over(wk.orderBy(F.col("ts").asc()))
        )
        df = df.filter(F.col("_rn_asc") > F.col("_total") - F.lit(p.maxdepth))
    df = df.filter(F.coalesce(filter_to_column(terms, rib, supernet), F.lit(False)))
    return df.select(
        "rib", "nlri_str", "rd_hi", "rd_lo", "addr_v4", "addr_v6",
        "prefixlen", "labels",
    ).dropDuplicates(ROUTE_COLS)

def page_routes(
    routes: DataFrame, p: QueryParams, supernet: bool = False
) -> DataFrame:
    """O1/O4 — deterministic order + offset/limit. Supernet pages order
    most-specific-first (src/bgpsvc.rs:638-658)."""
    if supernet:
        ordered = routes.orderBy(F.desc(_key_len().alias("_kl")), *_route_sort_key())
    else:
        ordered = routes.orderBy(*_route_sort_key())
    return ordered.offset(p.skip).limit(p.limit)

def _key_in(keys: list[str]) -> Column:
    """``nlri_str IN (keys)`` as ONE expression (one py4j call, where
    ``isin(*keys)`` pays one per key). Each key is a hex binary literal
    cast to string — no quoting to get wrong — which constant folding
    turns back into a plain literal set for the scan."""
    if not keys:
        return F.lit(False)
    lits = ", ".join(f"CAST(X'{k.encode().hex()}' AS STRING)" for k in keys)
    return F.expr(f"nlri_str IN ({lits})")

def emitted_history(
    history: DataFrame, rib: str, keys: list[str], p: QueryParams
) -> DataFrame:
    """F13/O7 input — for the paged routes (``keys``: their ``nlri_str``
    in ``rib``), the newest ``maxdepth`` filter_ah-passing entries per
    (session, path); maxdepth=0 = unlimited (BAHItems,
    src/bgpsvc.rs:516-532).

    The page keys are a predicate on a window PARTITION key, so Catalyst
    pushes it below the KEY_COLS window into the scan; whole keys are
    kept or dropped, never split. On the serving copy without entry
    filters the maxdepth cut is a slot filter and the fetch is map-only."""
    df = history.filter((F.col("rib") == rib) & _key_in(keys))
    if _uses_slots(history, p):
        if p.maxdepth > 0:
            df = df.filter(F.col(SLOT_COL) <= F.lit(p.maxdepth))
        return df.drop(SLOT_COL)
    df = df.drop(SLOT_COL).filter(history_entry_filter(p))
    w = Window.partitionBy(*KEY_COLS).orderBy(F.col("ts").desc())
    df = df.withColumn("_rn", F.row_number().over(w))
    if p.maxdepth > 0:
        df = df.filter(F.col("_rn") <= F.lit(p.maxdepth))
    return df.drop("_rn")

@dataclass
class RibQueryResult:
    """The /api/json response envelope (src/bgpsvc.rs:690-706)."""

    ribtype: str
    length: int          # O3 — total routes in the rib
    found: int           # O2 — full match count ignoring skip/limit
    skip: int
    limit: int
    maxdepth: int
    onlyactive: bool
    routes: list[Row]    # the emitted page of route keys, in page order
    history: DataFrame   # flat emitted history rows for those routes
    from_supernet: bool  # True when the supernet fallback produced the page

def query_rib(
    history: DataFrame, rib: str, p: QueryParams, *, length: int | None = None
) -> RibQueryResult:
    """§3.1 end-to-end, including the two-query supernet fallback (O5):
    when the primary page is empty the serving layer re-plans with
    reversed containment and most-specific-first order
    (src/bgpsvc.rs:625-658).

    ``length`` — the per-rib route count. The reference serves it as an
    O(1) map size (src/bgpsvc.rs:677); pass the maintained count
    (operators/rib.py route_counts / read_route_counts, refreshed at
    snapshot-write/compaction) so a 100 TB table doesn't pay a full
    dedup-count scan per HTTP request. None → computed exactly (the
    explicit exact path).

    ``p.asof`` truncates the history at ts <= asof first, so the whole
    pipeline (length, match, windows, nested output) answers as the RIB
    stood at that instant — the serving form of analytics.rib_asof. The
    maintained ``length`` describes the full table, so it is recomputed
    under asof (the cutoff filter pushes down to the scan; partition
    pruning on ts_date bounds the read). Slots of a serving copy rank
    the untruncated history, so asof drops them and runs the windows."""
    if p.asof is not None:
        from bgpexplorer_spark.functions.timeutil import asof_prune

        history = asof_prune(history.drop(SLOT_COL), p.asof)
        length = None
    if length is None:
        rib_df = history.filter(F.col("rib") == rib)
        length = rib_df.dropDuplicates(ROUTE_COLS).count()

    terms = parse_filter(p.filter)
    matched = matched_routes(history, rib, p)
    # O2: count short-circuits to table size on empty filter
    # (src/bgpsvc.rs:603-613); otherwise the count is observed in the
    # page's own action. limit 0 is optimized into an empty relation
    # that never reports the metric, so it counts on its own.
    observed = bool(terms) and p.limit > 0
    if observed:
        obs = Observation()
        matched = matched.observe(obs, F.count(F.lit(1)).alias("found"))
    page = page_routes(matched, p).collect()
    if not terms:
        found = length
    elif observed:
        found = obs.get["found"]
    else:
        found = matched.count()
    from_supernet = False
    # the primary page is empty iff found <= skip (page = matched rows
    # after OFFSET skip); only then does the supernet fallback
    # (src/bgpsvc.rs:625-658) run its own action
    if found <= p.skip:
        page = page_routes(
            matched_routes(history, rib, p, supernet=True), p, supernet=True
        ).collect()
        from_supernet = True
    hist = emitted_history(history, rib, [r.nlri_str for r in page], p)
    return RibQueryResult(
        ribtype=rib, length=length, found=found, skip=p.skip, limit=p.limit,
        maxdepth=p.maxdepth, onlyactive=p.onlyactive, routes=page,
        history=hist, from_supernet=from_supernet,
    )

def to_nested_json(result: RibQueryResult) -> DataFrame:
    """O7 input — the page's emitted history as flat rows (nlri_str,
    session_id, path_id, ts, ts_ms, entry), ``entry`` being the JSON
    text the response carries per timestamp. A projection only: no
    join, no aggregation, no exchange. :func:`nest_items` nests the
    collected rows on the driver."""
    from bgpexplorer_spark.operators.ingest import attrs_struct

    return result.history.select(
        "nlri_str", "session_id", "path_id", "ts",
        ts_to_millis(F.col("ts")).cast("string").alias("ts_ms"),
        F.to_json(
            F.struct(F.col("active"), attrs_struct().alias("attrs"), F.col("labels"))
        ).alias("entry"),
    )

def nest_items(result: RibQueryResult, rows: list[Row]) -> dict:
    """O7 — route → {session → {path → {ts_millis → entry}}}
    (src/bgpsvc.rs:493-596) from the collected :func:`to_nested_json`
    rows: routes in page order, sessions and paths in ascending numeric
    order (BTreeMap serialization order), newest-first inside each path.
    Routes without emitted history are left out.

    The reference keys history by a BTreeMap<ts>, so same-ts entries
    cannot coexist there (the insert overwrites); the history table can
    hold them. They collapse to one entry per ts-millis, keeping the
    (t, ts_ms, entry)-max, the deterministic stand-in for the BTreeMap's
    last-insert-wins (no arrival order survives batch)."""
    by_route: dict[str, dict] = {}
    for r in rows:
        paths = by_route.setdefault(r.nlri_str, {}).setdefault(r.session_id, {})
        paths.setdefault(r.path_id, []).append((r.ts, r.ts_ms, r.entry))
    items = {}
    for key in result.routes:
        sessions = by_route.get(key.nlri_str)
        if sessions is None:
            continue
        out = {}
        for sid in sorted(sessions):
            paths = {}
            for pid in sorted(sessions[sid]):
                hist: dict[str, str] = {}
                for _, ms, entry in sorted(sessions[sid][pid], reverse=True):
                    hist.setdefault(ms, entry)
                paths[str(pid)] = hist
            out[str(sid)] = paths
        items[key.nlri_str] = out
    return items
