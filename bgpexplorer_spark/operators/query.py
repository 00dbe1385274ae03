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

On the serving copy the driver holds a :class:`HistoryStore` per state
version: the copy's page-history projection as one Arrow table, and
the :class:`RouteIndex` (one sorted row per route) derived from it.
A request that does not filter entries takes its page's history from
the store, so it runs no history collect. Key-term requests also skip
both page actions, because the index answers ``found``, the page and
the supernet fallback: they run no Spark job at all. Attribute terms
run their page action only.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, Row, Window
from pyspark.sql import functions as F

from bgpexplorer_spark.filterlang import parse_filter
from bgpexplorer_spark.filterlang.compile import (
    _RD_RIBS, _V4_PREFIX_RIBS, _V6_PREFIX_RIBS, filter_to_column, pushdown_prefilter,
)
from bgpexplorer_spark.filterlang.terms import FilterTerm, RDTerm, V4Term, V6Term
from bgpexplorer_spark.functions.timeutil import parse_ts_param, ts_cutoff_str, ts_to_millis
from bgpexplorer_spark.schemas import KEY_COLS

ROUTE_COLS = ["rib", "nlri_str"]  # route identity (sessions/paths nest under it)

# the serving copy's extra column: each entry's 1-based slot counted from
# the newest entry of its KEY_COLS key
SLOT_COL = "_slot"

# the history store's columns: the route and the slot a page and its
# maxdepth cut select on, and to_nested_json's columns (PAGE_COLS)
PAGE_COLS = ["nlri_str", "session_id", "path_id", "ts", "ts_ms", "entry"]
STORE_COLS = ["rib", *PAGE_COLS, SLOT_COL]

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

# --- the per-version route index ---------------------------------------------

# families whose key is the plain prefix, or an rd→prefix chain on the
# vpn ones (compile.key_match): address bits of the prefix, per rib
_INDEX_BITS = {**dict.fromkeys(_V4_PREFIX_RIBS, 32), **dict.fromkeys(_V6_PREFIX_RIBS, 128)}
_RD_CHAIN = tuple(r for r in _RD_RIBS if r in _INDEX_BITS)
_ONES = (1 << 128) - 1
_U64 = (1 << 64) - 1
# the network mask of each prefix length, as (high, low) 64-bit halves of
# the 128-bit left-aligned address
_MASK_HI = np.array([(_ONES ^ (_ONES >> n)) >> 64 for n in range(129)], np.uint64)
_MASK_LO = np.array([(_ONES ^ (_ONES >> n)) & _U64 for n in range(129)], np.uint64)
_NONE = np.empty(0, np.int64)
_I64_MAX = np.iinfo(np.int64).max

def _ints(col: pa.ChunkedArray, null: int) -> np.ndarray:
    """An integer column as int64, its nulls as ``null``."""
    vals = col.fill_null(0).to_numpy().astype(np.int64)
    return np.where(col.is_null().to_numpy(), null, vals)

def _le(ah, al, bh, bl):
    """(ah, al) <= (bh, bl) on 128-bit values split in uint64 halves."""
    return (ah < bh) | ((ah == bh) & (al <= bl))

@dataclass
class _RibRows:
    """One rib's routes in :func:`_route_sort_key` order. The address of
    the rib's family is left-aligned in 128 bits (``hi``, ``lo``), so a
    v4 prefix a/n is the 128-bit prefix (a << 96)/n and one mask table
    serves both families; null keys sort first as Spark orders them.
    ``starts`` opens each run of rows whose sort columns before the
    address are equal: inside a run the address ascends."""

    nlri: pa.ChunkedArray  # nlri_str
    rd_hi: np.ndarray     # int64, null → int64 min (no RD term equals it)
    rd_lo: np.ndarray
    hi: np.ndarray        # uint64 halves of the family address
    lo: np.ndarray
    plen: np.ndarray      # int64, clipped to 0..128
    keyed: np.ndarray     # bool: address and prefixlen present
    mc: np.ndarray        # bool: prefix inside 224.0.0.0/4 (v4) or ff00::/8 (v6)
    keylen: np.ndarray    # _key_len: labels*24 + 64 per RD + prefixlen
    starts: np.ndarray    # run starts, then len(nlri)
    plens: np.ndarray     # the distinct keyed prefix lengths

    def _bound(self, a: int, b: int, key: int, side: str) -> int:
        """searchsorted for 128-bit ``key`` in the run [a, b)."""
        h, lo = np.uint64(key >> 64), np.uint64(key & _U64)
        i = a + int(np.searchsorted(self.hi[a:b], h, "left"))
        j = a + int(np.searchsorted(self.hi[a:b], h, "right"))
        return i + int(np.searchsorted(self.lo[i:j], lo, side))

    def candidates(self, a: int, b: int, net, supernet: bool) -> np.ndarray:
        """Rows of the run [a, b) that can hold ``net``'s answers: the
        address range [first, last] of a subnet term; for a supernet term
        the address ``first`` masked to each prefix length up to its own
        (routes are stored canonical, iputil.v4_net_last_col)."""
        first, last, n, _ = net
        if not supernet:
            return np.arange(self._bound(a, b, first, "left"),
                             self._bound(a, b, last, "right"))
        probes = {first & (_ONES ^ (_ONES >> int(m))) for m in self.plens if m <= n}
        return np.sort(np.concatenate([_NONE] + [
            np.arange(self._bound(a, b, k, "left"), self._bound(a, b, k, "right"))
            for k in probes
        ]))

    def keeps(self, rows: np.ndarray, net, supernet: bool) -> np.ndarray:
        """The key's Yes of ``net`` on ``rows``: _key_v4prefix /
        _key_v6prefix with containment (reversed for a supernet term),
        prefix lengths and the route-multicast gate."""
        first, last, n, multicast = net
        hi, lo, plen = self.hi[rows], self.lo[rows], self.plen[rows]
        fh, fl = np.uint64(first >> 64), np.uint64(first & _U64)
        if supernet:
            inside = ((fh & _MASK_HI[plen]) == hi) & ((fl & _MASK_LO[plen]) == lo) \
                & (plen <= n)
        else:
            lh, ll = np.uint64(last >> 64), np.uint64(last & _U64)
            inside = _le(fh, fl, hi, lo) & _le(hi, lo, lh, ll) & (plen >= n) \
                & (self.mc[rows] == multicast)
        return self.keyed[rows] & inside

class RouteIndex:
    """The served copy's routes held on the driver, one row per route of
    the index-answered families (:data:`_INDEX_BITS`), sorted per rib in
    :func:`_route_sort_key` order: the sorted global index DITA prunes
    with, here over a whole rib (the reference's BTreeMap range scan,
    src/ribfilter.rs:563-580). Built once per state version from the
    :class:`HistoryStore`'s collect, counting every rib's routes
    (``counts``)."""

    def __init__(self, counts: dict[str, int], ribs: dict[str, _RibRows]):
        self.counts = counts
        self._ribs = ribs

    @classmethod
    def build(cls, keys: pa.Table) -> RouteIndex:
        """From Arrow rows of ``rib``, ``nlri_str``, the sortable key
        columns and ``nlabels``, at least one per route: sorted as
        :func:`_route_sort_key` sorts (nulls first), and a route's
        repeats (adjacent, as they share every sort column) dropped."""
        t = keys.take(pc.sort_indices(keys, sort_keys=[(c, "ascending") for c in (
            "rib", "rd_hi", "rd_lo", "addr_v4", "addr_v6", "prefixlen", "nlri_str",
        )], null_placement="at_start"))
        if t.num_rows > 1:
            rib, nlri = t["rib"], t["nlri_str"]
            repeat = pc.and_(pc.equal(rib[1:], rib[:-1]), pc.equal(nlri[1:], nlri[:-1]))
            t = t.filter(pa.array(~np.append(False, repeat.to_numpy())))
        counts = pc.value_counts(t["rib"])  # ribs in sorted order
        sizes = dict(zip(counts.field("values").to_pylist(),
                         counts.field("counts").to_pylist()))
        starts = dict(zip(sizes, np.cumsum([0, *sizes.values()]).tolist()))
        low = np.iinfo(np.int64).min
        ribs = {}
        for name, bits in _INDEX_BITS.items():
            size = sizes.get(name, 0)
            r = t.slice(starts.get(name, 0), size)
            rd_hi, rd_lo = _ints(r["rd_hi"], low), _ints(r["rd_lo"], low)
            v4 = _ints(r["addr_v4"], -1)  # addresses are unsigned: -1 sorts first
            plen = _ints(r["prefixlen"], -1)
            if bits == 32:
                keyed = (v4 >= 0) & (plen >= 0)
                hi = np.where(keyed, v4, 0).astype(np.uint64) << np.uint64(32)
                lo = np.zeros(size, np.uint64)
                mc = keyed & (plen >= 4) & ((hi >> np.uint64(60)) == 0xE)
                run_cols = (rd_hi, rd_lo)
            else:
                v6 = r["addr_v6"]
                hi, lo = np.frombuffer(
                    b"".join(x or bytes(16) for x in v6.to_pylist()), ">u8"
                ).reshape(-1, 2).astype(np.uint64).T
                keyed = ~v6.is_null().to_numpy() & (plen >= 0)
                mc = keyed & (plen >= 8) & ((hi >> np.uint64(56)) == 0xFF)
                run_cols = (rd_hi, rd_lo, v4)
            change = np.zeros(size, bool)
            change[:1] = True
            for c in run_cols:
                change[1:] |= c[1:] != c[:-1]
            ribs[name] = _RibRows(
                nlri=r["nlri_str"], rd_hi=rd_hi, rd_lo=rd_lo,
                hi=hi, lo=lo, plen=np.clip(plen, 0, 128), keyed=keyed, mc=mc,
                keylen=_ints(r["nlabels"], 0) * 24 + np.where(rd_hi != low, 64, 0)
                + np.maximum(plen, 0),
                starts=np.append(np.flatnonzero(change), size),
                plens=np.unique(plen[keyed]),
            )
        return cls(sizes, ribs)

    def select(self, rib: str, terms: list[FilterTerm], supernet: bool) -> np.ndarray:
        """Row numbers, in page order, of ``rib``'s routes that ``terms``
        (all index-exact: :func:`_index_exact`) say Yes to. An RD term
        keeps the runs of its RD; the first prefix term picks candidate
        rows by binary search inside each run, and every prefix term is
        then checked exactly on them."""
        ix = self._ribs[rib]
        if not terms:
            return np.arange(len(ix.nlri))
        bits = _INDEX_BITS[rib]
        runs = np.arange(len(ix.starts) - 1)
        nets = []
        for t in terms:
            it = t.item
            if isinstance(it, RDTerm):
                if rib not in _RD_CHAIN:
                    return _NONE
                s = ix.starts[runs]
                runs = runs[(ix.rd_hi[s] == it.hi) & (ix.rd_lo[s] == it.lo)]
            elif isinstance(it, V4Term) != (bits == 32) or (supernet and it.multicast):
                # a term of the other family, or a multicast term reversed:
                # the key says Unknown, which never emits
                return _NONE
            else:
                first = int(it.addr) << 96 if bits == 32 else int.from_bytes(it.addr, "big")
                nets.append((first, first | (_ONES >> it.plen), it.plen, it.multicast))
        out = []
        for r in runs:
            a, b = int(ix.starts[r]), int(ix.starts[r + 1])
            rows = ix.candidates(a, b, nets[0], supernet) if nets else np.arange(a, b)
            for net in nets:
                rows = rows[ix.keeps(rows, net, supernet)]
            out.append(rows)
        return np.concatenate([_NONE] + out)

    def page(
        self, rib: str, terms: list[FilterTerm], p: QueryParams, length: int
    ) -> tuple[int, list[Row], bool]:
        """``found``, the page and whether the supernet fallback made it,
        as :func:`query_rib`'s Spark path computes them."""
        hits = self.select(rib, terms, False)
        found = len(hits) if terms else length
        rows = hits
        if found <= p.skip:
            rows = self.select(rib, terms, True)
            # most specific first, then page order
            rows = rows[np.argsort(-self._ribs[rib].keylen[rows], kind="stable")]
        nlri = self._ribs[rib].nlri.take(rows[p.skip:p.skip + p.limit]).to_pylist()
        return found, [Row(rib=rib, nlri_str=s) for s in nlri], found <= p.skip

def _index_exact(history: DataFrame, rib: str, p: QueryParams, terms) -> bool:
    """The index answers a request exactly when its whole filter is key
    terms on an index-answered rib (an empty filter included) and, on
    the serving copy, every route sits in the match window: no entry
    filter, no asof, and maxdepth > 0 (every key has its newest slot)."""
    return (
        rib in _INDEX_BITS and p.asof is None and p.maxdepth > 0
        and _uses_slots(history, p)
        and all(
            not t.negated and (
                isinstance(t.item, (V4Term, V6Term))
                # an RD beyond BIGINT is not a literal Spark compares alike
                or isinstance(t.item, RDTerm) and max(t.item.hi, t.item.lo) <= _I64_MAX
            )
            for t in terms
        )
    )

def _entry_cols() -> list[Column]:
    """``ts_ms`` and ``entry`` as the response carries them: the one
    expression :func:`to_nested_json` and :class:`HistoryStore` share,
    so both serve the same bytes."""
    from bgpexplorer_spark.operators.ingest import attrs_struct

    return [
        ts_to_millis(F.col("ts")).cast("string").alias("ts_ms"),
        F.to_json(
            F.struct(F.col("active"), attrs_struct().alias("attrs"), F.col("labels"))
        ).alias("entry"),
    ]

class HistoryStore:
    """The serving copy's page-history projection held on the driver,
    one Arrow table of :data:`STORE_COLS` per state version, and the
    :class:`RouteIndex` derived from the same collect: Krypton's
    interactive serving copy beside the analytical store. A request that
    does not filter entries takes its page's history rows from here (the
    maxdepth cut is a slot filter), so it runs no history collect."""

    def __init__(self, table: pa.Table, index: RouteIndex):
        self.table = table
        self.index = index

    @classmethod
    def build(cls, served: DataFrame) -> HistoryStore:
        """One Arrow collect of ``served`` (a serving copy); it also
        materializes the copy's cache. The route key columns come along
        for the index, which reads them from the slot-1 rows only (one
        per session and path of each route)."""
        t = served.select(
            *STORE_COLS[:5], *_entry_cols(), SLOT_COL,
            "rd_hi", "rd_lo", "addr_v4", "addr_v6", "prefixlen",
            F.coalesce(F.size("labels"), F.lit(0)).alias("nlabels"),
        ).toArrow()
        # the route and key columns only, so the slot-1 filter and the
        # index's sort copy no entry text
        keys = t.drop_columns(PAGE_COLS[1:]).filter(pc.equal(t[SLOT_COL], 1))
        return cls(t.select(STORE_COLS), RouteIndex.build(keys))

    def rows(self, rib: str, keys: list[str], maxdepth: int) -> list[tuple]:
        """The :data:`PAGE_COLS` rows of ``rib``'s routes ``keys``, as
        :func:`emitted_history` selects them on the serving copy without
        entry filters: the newest ``maxdepth`` slots, 0 = all."""
        t = self.table
        keep = pc.and_(
            pc.equal(t["rib"], rib),
            pc.is_in(t["nlri_str"], value_set=pa.array(keys, pa.string())),
        )
        if maxdepth > 0:
            keep = pc.and_(keep, pc.less_equal(t[SLOT_COL], maxdepth))
        page = t.filter(keep)
        return list(zip(*(page[c].to_pylist() for c in PAGE_COLS)))

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
    routes: list[Row]    # the page's routes (rib, nlri_str, ...), in page order
    history: DataFrame | None  # flat emitted history rows for those routes
    from_supernet: bool  # True when the supernet fallback produced the page
    # those rows already on the driver (PAGE_COLS tuples, from the history
    # store), history then being None
    rows: list[tuple] | None = None

def _spark_page(
    history: DataFrame, rib: str, p: QueryParams, terms, length: int
) -> tuple[int, list[Row], bool]:
    """``found``, the page and whether the supernet fallback made it, in
    one Spark action (two with the fallback)."""
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
    found = None
    if not terms:
        found = length
    elif observed:
        try:
            found = obs.get["found"]
        except Py4JJavaError:
            # a filter that can never say Yes (a v4 term on a v6 rib) is
            # optimized into an empty relation, which reports no metric
            pass
    if found is None:
        found = matched.count()
    # the primary page is empty iff found <= skip (page = matched rows
    # after OFFSET skip); only then does the supernet fallback
    # (src/bgpsvc.rs:625-658) run its own action
    if found <= p.skip:
        page = page_routes(
            matched_routes(history, rib, p, supernet=True), p, supernet=True
        ).collect()
    return found, page, found <= p.skip

def query_rib(
    history: DataFrame, rib: str, p: QueryParams, *, length: int | None = None,
    store: HistoryStore | None = None,
) -> RibQueryResult:
    """§3.1 end-to-end, including the two-query supernet fallback (O5):
    when the primary page is empty the serving layer re-plans with
    reversed containment and most-specific-first order
    (src/bgpsvc.rs:625-658).

    ``length`` — the per-rib route count. The reference serves it as an
    O(1) map size (src/bgpsvc.rs:677); the serving layer passes
    ``store.index.counts[rib]``, counted when the served copy's store was
    built, so a request pays no dedup-count scan. None → counted here
    with one Spark job.

    ``store`` — the :class:`HistoryStore` of ``history`` (a serving
    copy). When the request is index-exact (:func:`_index_exact`) its
    index answers ``found`` and the page on the driver; any other
    request runs the Spark page path. A request that does not filter
    entries (:func:`_uses_slots`) then takes the page's history rows
    from the store (``rows``); any other builds the ``history`` frame.

    ``p.asof`` truncates the history at ts <= asof first, so the whole
    pipeline (length, match, windows, nested output) answers as the RIB
    stood at that instant — the serving form of analytics.rib_asof. The
    passed ``length`` describes the full table, so it is recomputed
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
    if store is not None and _index_exact(history, rib, p, terms):
        found, page, from_supernet = store.index.page(rib, terms, p, length)
    else:
        found, page, from_supernet = _spark_page(history, rib, p, terms, length)
    keys = [r.nlri_str for r in page]
    rows = hist = None
    if store is not None and _uses_slots(history, p):
        rows = store.rows(rib, keys, p.maxdepth)
    else:
        hist = emitted_history(history, rib, keys, p)
    return RibQueryResult(
        ribtype=rib, length=length, found=found, skip=p.skip, limit=p.limit,
        maxdepth=p.maxdepth, onlyactive=p.onlyactive, routes=page,
        history=hist, from_supernet=from_supernet, rows=rows,
    )

def to_nested_json(result: RibQueryResult) -> DataFrame:
    """O7 input — the page's emitted history as flat rows (nlri_str,
    session_id, path_id, ts, ts_ms, entry), ``entry`` being the JSON
    text the response carries per timestamp. A projection only: no
    join, no aggregation, no exchange. :func:`nest_items` nests the
    collected rows on the driver."""
    return result.history.select(*PAGE_COLS[:4], *_entry_cols())

def nest_items(result: RibQueryResult, rows: list[tuple]) -> dict:
    """O7 — route → {session → {path → {ts_millis → entry}}}
    (src/bgpsvc.rs:493-596) from the page's history rows in
    :data:`PAGE_COLS` order (the collected :func:`to_nested_json` rows,
    or ``result.rows`` from the history store): routes in page order,
    sessions and paths in ascending numeric order (BTreeMap
    serialization order), newest-first inside each path. Routes without
    emitted history are left out.

    The reference keys history by a BTreeMap<ts>, so same-ts entries
    cannot coexist there (the insert overwrites); the history table can
    hold them. They collapse to one entry per ts-millis, keeping the
    (t, ts_ms, entry)-max, the deterministic stand-in for the BTreeMap's
    last-insert-wins (no arrival order survives batch)."""
    by_route: dict[str, dict] = {}
    for nlri, sid, pid, ts, ms, entry in rows:
        paths = by_route.setdefault(nlri, {}).setdefault(sid, {})
        paths.setdefault(pid, []).append((ts, ms, entry))
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
