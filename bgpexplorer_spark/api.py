"""HTTP JSON serving layer (SURVEY.md §2.1 S6-S8, §2.5 O7-O8, §3.1).

The reference serves ``/api/json/<rib>``, ``/api/statistics``,
``/api/sessions``, ``/api/state``, ``/api/ping``, ``/api/whois``,
``/api/dns`` plus a static UI (src/main.rs:137-175,
src/bgpsvc.rs:457-491). Here the serving layer is a thin stdlib
``http.server`` over the Spark engine — queries run through the same
operators as the programmatic API; the response envelope matches
src/bgpsvc.rs:690-706 ``{ribtype, length, skip, limit, maxdepth,
onlyactive, found, items}``.

The reference's RwLock + 120 s read-timeout + HTTP 408 path (U11) has no
analog: DataFrames over immutable snapshots need no reader lock.
"""

from __future__ import annotations

import json
import logging
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bgpexplorer_spark.functions.timeutil import parse_ts_param
from bgpexplorer_spark.operators.query import (
    HistoryStore, QueryParams, nest_items, query_rib, serving_copy, to_nested_json,
)
from bgpexplorer_spark.operators.rib import statistics
from bgpexplorer_spark.schemas import RIB_NAMES

log = logging.getLogger(__name__)

class BgpExplorerService:
    """Programmatic facade (what the HTTP layer and tests call).

    ``/api/json`` answers from a per-state-version served copy of the
    history and its :class:`HistoryStore` on the driver. The store's
    route index carries every rib's route count, so O3 ``length`` is
    served O(1) like the reference's map size (src/bgpsvc.rs:677);
    ``asof`` requests count it at the cutoff."""

    def __init__(
        self,
        history: DataFrame,
        sessions: DataFrame | None = None,
        ws_apply_filter: bool = False,
        roas: DataFrame | None = None,
        roas_v6: DataFrame | None = None,
        state_changes: DataFrame | None = None,
        svc_config=None,
        asof_history=None,
    ):
        from bgpexplorer_spark.streaming.wsfeed import LiveFeed

        self.history = history
        # serving-layer batch view for time-travel requests: a callable
        # returning the MATERIALIZED history (the daemon's maintained
        # parquet table / the snapshot keeper's CURRENT version, WITH its
        # ts_date partition column so the as-of cutoff prunes whole date
        # partitions) or None to fall back to the live frame. Staleness
        # contract: the view answers from the last persisted state —
        # rows ingested after that save are not visible through it, so
        # wire it only where the table is maintained continuously (the
        # daemon refreshes it per ingest micro-batch).
        self.asof_history = asof_history
        self.sessions = sessions
        # RFC 6811 ROA tables for /api/analytics/rpki: v4 (net, plen,
        # max_len, asn) and the BINARY(16)-net v6 form (rib=ipv6u)
        self.roas = roas
        self.roas_v6 = roas_v6
        # FSM transition log (read_mrt_state_changes) for /api/analytics/sessions
        self.state_changes = state_changes
        self.state = "Established"  # O8 (src/bgpsvc.rs:429-435)
        # S7 live feed: publish micro-batches via self.feed.publish_batch
        # (e.g. from run_ingest's foreachBatch); ws_apply_filter=True turns
        # on the superset that honors subscriber filters
        self.feed = LiveFeed()
        self.ws_apply_filter = ws_apply_filter
        # whois deployment knobs (src/config.rs:338-342): registry→server
        # map (whoisjsonconfig) + pinned resolvers (whoisdns) + timeout
        self.svc_config = svc_config
        # per-state memo for the analytics reports that materialize a
        # localCheckpointed distinct set per request (relationships /
        # deagg / hijacks): repeated dashboard polls reuse the
        # checkpointed result instead of rebuilding it. Keyed by
        # (report, rib, state_version); bump_state_version() invalidates
        # after new ingest — the same discipline as the served copy — and a
        # TTL (analytics_memo_ttl seconds, default 60) bounds staleness
        # for deployments that ingest live WITHOUT wiring
        # run_ingest(service=...), so a memoized report can never
        # outlive the poll interval by much. TTL 0 disables memoization.
        # The memoized frames are report-sized (per-AS / per-pair rows),
        # not RIB-sized.
        self._state_version = 0
        self.analytics_memo_ttl = 60.0
        self._analytics_memo: dict[tuple, tuple[DataFrame, float]] = {}
        # ThreadingHTTPServer serves requests from many threads and the
        # ingest sink bumps the version from the foreachBatch thread:
        # _memo_lock guards the memo dicts, _memo_building holds one
        # per-key build lock so concurrent first requests for the SAME
        # report build it once (different reports still build in
        # parallel)
        self._memo_lock = threading.Lock()
        self._memo_building: dict[tuple, threading.Lock] = {}
        # the in-memory served copy of the history: (state version,
        # cached query.serving_copy frame, its query.HistoryStore or None
        # when the store failed to build). Built by the first /api/json
        # request of a version, so the ingest sink's bump does no Spark
        # work; _served_lock makes concurrent first requests build it once
        self._served: tuple[int, DataFrame, HistoryStore | None] | None = None
        self._served_lock = threading.Lock()
        self.whois_server_map = None
        if svc_config is not None and getattr(svc_config, "whoisjsonconfig", None):
            from bgpexplorer_spark.operators.whois import WhoisServerMap

            self.whois_server_map = WhoisServerMap.from_json_file(
                svc_config.whoisjsonconfig
            )

    def _served_copy(self) -> tuple[DataFrame, HistoryStore | None]:
        """The served copy for the current state version and its history
        store, built together on first use: ``serving_copy(self.history)``
        cached, materialized by the store's collect. The previous
        version's copy is unpersisted once the new one is in place; a
        request still holding it keeps its answers (the frame recomputes
        from the files planned when it was built, and the store is its
        own).

        A store that fails to build (say, a collect past
        ``spark.driver.maxResultSize``) is logged once with its traceback
        and the version is served from the cached copy alone: every
        request then runs the Spark path and counts ``length`` itself."""
        with self._served_lock:
            with self._memo_lock:
                version, history = self._state_version, self.history
            old = self._served
            if old is not None and old[0] == version:
                return old[1], old[2]
            df = serving_copy(history).cache()
            t0 = time.perf_counter()
            try:
                store = HistoryStore.build(df)
            except Exception:
                log.exception(
                    "served copy v%d: history store build failed, serving"
                    " this version from Spark", version,
                )
                store = None
            else:
                log.info(
                    "served copy v%d: %d history rows, %d routes, %d store"
                    " bytes, built in %.0f ms", version, store.table.num_rows,
                    sum(store.index.counts.values()), store.table.nbytes,
                    (time.perf_counter() - t0) * 1000,
                )
            self._served = (version, df, store)
        if old is not None:
            old[1].unpersist()
        return df, store

    def release_served_copy(self) -> None:
        """Unpersist the served copy (the daemon's stop): the cache
        manager holds a cached frame until it is unpersisted, whether or
        not the service is still referenced. A later request rebuilds."""
        with self._served_lock:
            old, self._served = self._served, None
        if old is not None:
            old[1].unpersist()

    def api_json(self, rib: str, **params) -> dict:
        """GET /api/json/<rib> — the §3.1 pipeline; unknown rib names fall
        back to ipv4u like the reference (src/ribservice.rs:276)."""
        if rib not in RIB_NAMES:
            rib = "ipv4u"
        p = QueryParams(**params)
        if p.asof is not None:
            # answered as of the cutoff: length is recomputed there
            r = query_rib(self._history_for_asof(), rib, p)
        else:
            served, store = self._served_copy()
            length = None if store is None else store.index.counts.get(rib, 0)
            r = query_rib(served, rib, p, length=length, store=store)
        rows = r.rows if r.rows is not None else to_nested_json(r).collect()
        items = nest_items(r, rows)
        return {
            "ribtype": r.ribtype,
            "length": r.length,
            "skip": r.skip,
            "limit": r.limit,
            "maxdepth": r.maxdepth,
            "onlyactive": r.onlyactive,
            "found": r.found,
            "items": items,
        }

    def _memo_report(self, name: str, rib: str, build):
        """Materialize-once serving memo: ``build()`` runs (and is
        localCheckpointed eagerly) only on the first request for this
        (report, rib) at the current state version; later identical
        requests page the checkpointed rows until the TTL expires or
        the state version bumps. Old entries drop out of the dict and
        their blocks are context-cleaned on GC."""
        if not self.analytics_memo_ttl:
            return build()
        # capture the version ONCE: a bump between lookup and store must
        # not change the key mid-request (the stored frame stays keyed to
        # the state it was built from and ages out on the next clear)
        key = (name, rib, self._state_version)
        with self._memo_lock:
            hit = self._analytics_memo.get(key)
            if (
                hit is not None
                and time.monotonic() - hit[1] < self.analytics_memo_ttl
            ):
                return hit[0]
            keylock = self._memo_building.setdefault(key, threading.Lock())
        with keylock:
            with self._memo_lock:
                hit = self._analytics_memo.get(key)
                if (
                    hit is not None
                    and time.monotonic() - hit[1] < self.analytics_memo_ttl
                ):
                    return hit[0]
            df = build().localCheckpoint(eager=True)
            with self._memo_lock:
                self._analytics_memo[key] = (df, time.monotonic())
                self._memo_building.pop(key, None)
        return df

    def bump_state_version(self) -> None:
        """New state landed (ingest batch applied / snapshot reloaded):
        invalidate every per-state serving memo — the analytics reports
        and the served copy of the history with its route index — so
        the next request recomputes. With a ``history_provider`` set (a
        zero-arg callable returning the current history DataFrame — the
        live-daemon wiring, since a batch DataFrame binds its file
        listing at creation), the history itself is re-read too: a file
        listing, no Spark job. The served copy is rebuilt (and the old
        one unpersisted) by the next /api/json request, not here, so the
        ingest sink's bump stays cheap."""
        # refresh the history FIRST: bumping before the refresh opens a
        # window where a request computes a new-version memo key but
        # build() still reads the old history — the stale frame would
        # then serve under the new version for a full TTL. A request
        # racing ahead of the bump memos new history under the OLD
        # version, which the clear below discards — harmless.
        provider = getattr(self, "history_provider", None)
        if provider is not None:
            self.history = provider()
        with self._memo_lock:
            self._state_version += 1
            self._analytics_memo.clear()
            self._memo_building.clear()

    def _history_for_asof(self):
        """History frame for time-travel (?asof=) requests: the
        materialized batch view when a provider is wired and answers
        (daemon table / snapshot CURRENT — partition-prunable, no wire
        re-derivation), else the live frame. The ts_date partition
        column the view may carry is consumed by the as-of cutoff
        (timeutil.asof_prune) before any downstream schema sees it."""
        if self.asof_history is not None:
            df = self.asof_history()
            if df is not None:
                return df
        return self.history

    @staticmethod
    def _page(df, k: int, skip: int):
        """Serving-layer result cap (deterministic order assumed set by
        the caller): every analytics endpoint collects at most ``k``
        rows after ``skip`` — at DFZ scale these reports run 10^3-10^5
        rows and an uncapped collect is a driver-memory DoS."""
        if skip:
            df = df.offset(skip)
        return df.limit(k)

    def api_moas(
        self, rib: str = "ipv4u", asof=None, k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/moas[?rib=&asof=&k=&skip=] — Multiple-
        Origin-AS conflicts over the (optionally time-traveled) active
        state."""
        from bgpexplorer_spark.operators.analytics import moas_conflicts, rib_asof
        from bgpexplorer_spark.operators.rib import current_state

        st = (
            rib_asof(self._history_for_asof(), asof)
            if asof is not None
            else current_state(self.history)
        )
        rows = self._page(
            moas_conflicts(st.filter(F.col("rib") == rib)).orderBy("nlri_str"),
            k, skip,
        ).collect()
        return [
            {
                "nlri": r.nlri_str,
                "origins": list(r.origins),
                "n_origins": r.n_origins,
            }
            for r in rows
        ]

    def api_rpki(
        self, rib: str = "ipv4u", asof=None, k: int = 1000, skip: int = 0
    ) -> dict:
        """GET /api/analytics/rpki[?rib=&asof=&k=&skip=] — RFC 6811
        route-origin validation of the (optionally time-traveled) active
        state against the configured ROA table: per-verdict counts (over
        the FULL state — aggregates, not row collects) plus up to ``k``
        of the Invalid routes themselves (the list an operator acts on)."""
        from bgpexplorer_spark.operators.analytics import (
            origin_as, rib_asof, rpki_validate, rpki_validate_v6,
        )
        from bgpexplorer_spark.operators.rib import current_state

        v6 = rib.startswith("ipv6")
        roa_table = self.roas_v6 if v6 else self.roas
        if roa_table is None:
            return {"error": "no ROA table configured"}
        st = (
            rib_asof(self._history_for_asof(), asof)
            if asof is not None
            else current_state(self.history)
        )
        addr_col = "addr_v6" if v6 else "addr_v4"
        routes = st.filter(
            (F.col("rib") == rib) & F.col(addr_col).isNotNull()
        ).select(
            "nlri_str", addr_col, "prefixlen",
            origin_as(F.col("aspath_flat")).alias("origin_as"),
        )
        validate = rpki_validate_v6 if v6 else rpki_validate
        v = validate(routes, roa_table).cache()
        try:
            summary = {r["validity"]: r["n"] for r in
                       v.groupBy("validity").agg(F.count(F.lit(1)).alias("n")).collect()}
            invalid = [
                {"nlri": r.nlri_str, "origin_as": r.origin_as}
                for r in self._page(
                    v.filter(F.col("validity") == "Invalid")
                    .orderBy("nlri_str", "origin_as"),
                    k, skip,
                ).collect()
            ]
        finally:
            v.unpersist()
        return {
            "rib": rib,
            "valid": summary.get("Valid", 0),
            "invalid": summary.get("Invalid", 0),
            "notfound": summary.get("NotFound", 0),
            "invalid_routes": invalid,
        }

    def api_diff(
        self, rib: str = "ipv4u", t1=None, t2=None,
        k: int = 1000, skip: int = 0,
    ) -> list[dict]:
        """GET /api/analytics/diff?t1=&t2=[&rib=&k=&skip=] — per-prefix
        diff of two time-traveled states (added / removed /
        origin_changed)."""
        from bgpexplorer_spark.operators.analytics import rib_diff

        if t1 is None or t2 is None:
            return [{"error": "t1 and t2 are required"}]
        rows = self._page(
            rib_diff(self.history.filter(F.col("rib") == rib), t1, t2)
            .orderBy("nlri_str"),
            k, skip,
        ).collect()
        return [
            {
                "nlri": r.nlri_str,
                "change": r.change,
                "origins_before": r.origins_before,
                "origins_after": r.origins_after,
            }
            for r in rows
        ]

    def api_bogons(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/bogons[?rib=&k=&skip=] — active routes
        whose AS path carries a reserved/private ASN, plus
        martian-prefix offenders. Both detectors union into one paged
        report so the cap spans the whole result, not each list."""
        from bgpexplorer_spark.operators.analytics import (
            bogon_asns, martian_prefixes,
        )
        from bgpexplorer_spark.operators.rib import current_state

        st = current_state(self.history).filter(F.col("rib") == rib)
        asns = bogon_asns(st).select(
            "nlri_str",
            F.lit("bogon-asn").alias("kind"),
            F.concat_ws(
                ",", F.transform("bogon_asns", lambda a: a.cast("string"))
            ).alias("detail"),
        )
        martians = martian_prefixes(
            st.filter(F.col("addr_v4").isNotNull())
        ).select(
            "nlri_str",
            F.lit("martian-prefix").alias("kind"),
            F.col("martian").alias("detail"),
        )
        rows = self._page(
            asns.unionByName(martians).orderBy("kind", "nlri_str"), k, skip
        ).collect()
        return [
            {"nlri": r.nlri_str, "kind": r.kind, "detail": r.detail}
            for r in rows
        ]

    def api_damping(
        self, rib: str = "ipv4u", at=None, half_life: int = 900,
        k: int = 1000, skip: int = 0,
    ) -> list[dict]:
        """GET /api/analytics/damping[?rib=&at=&half_life=&k=&skip=] —
        RFC 2439 flap-damping figures (decayed penalties, suppress/reuse)
        at the evaluation instant (default: the newest event in the
        table), highest-penalty first."""
        import datetime

        from bgpexplorer_spark.operators.analytics import flap_damping

        h = self.history.filter(F.col("rib") == rib)
        if at is None:
            newest = h.agg(F.max("ts")).first()[0]
            if newest is None:
                return []
            at = int(
                newest.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000
            )
        rows = self._page(
            flap_damping(h, at, half_life_sec=float(half_life))
            .orderBy(F.col("penalty").desc(), "nlri_str"),
            k, skip,
        ).collect()
        return [
            {
                "nlri": r.nlri_str, "n_flaps": r.n_flaps, "penalty": r.penalty,
                "suppressed": r.suppressed, "reusable": r.reusable,
            }
            for r in rows
        ]

    def api_flappers(self, rib: str = "ipv4u", k: int = 20) -> list[dict]:
        """GET /api/analytics/flappers[?rib=&k=] — the k noisiest
        prefixes by announce<->withdraw flips."""
        from bgpexplorer_spark.operators.analytics import top_flappers

        rows = top_flappers(self.history.filter(F.col("rib") == rib), k).collect()
        return [
            {"nlri": r.nlri_str, "n_events": r.n_events, "n_flips": r.n_flips}
            for r in rows
        ]

    def api_session_stability(self, k: int = 1000, skip: int = 0) -> list[dict]:
        """GET /api/analytics/sessions[?k=&skip=] — per-peer FSM rollup
        (times Established reached/lost, last state, observation span)
        from the state-change log, when the service holds one."""
        if self.state_changes is None:
            return []
        from bgpexplorer_spark.functions.timeutil import ts_to_millis
        from bgpexplorer_spark.operators.analytics import session_stability

        rows = self._page(
            session_stability(self.state_changes)
            .withColumn("first_ts_ms", ts_to_millis(F.col("first_ts")))
            .withColumn("last_ts_ms", ts_to_millis(F.col("last_ts")))
            .orderBy("peer_addr", "peer_as"),
            k, skip,
        ).collect()
        return [
            {
                "peer": r.peer_addr, "peer_as": r.peer_as,
                "transitions": r.n_transitions,
                "established": r.n_established, "lost": r.n_lost,
                "last_state": r.last_state,
                "first_ts": r.first_ts_ms, "last_ts": r.last_ts_ms,
            }
            for r in rows
        ]

    def api_route_ages(self, rib: str = "ipv4u", asof=None, k: int = 100) -> list[dict]:
        """GET /api/analytics/ages[?rib=&asof=&k=] — oldest-first route
        age report over the (optionally time-traveled) active state."""
        from bgpexplorer_spark.operators.analytics import route_age_report

        at = (
            int(parse_ts_param(asof).timestamp() * 1000)
            if asof is not None
            else None
        )
        rows = (
            route_age_report(self.history.filter(F.col("rib") == rib), at)
            .orderBy(F.col("age_sec").desc(), "nlri_str")
            .limit(k)
            .collect()
        )
        return [
            {
                "nlri": r.nlri_str, "session_id": r.session_id,
                "age_sec": r.age_sec, "n_events": r.n_events,
            }
            for r in rows
        ]

    def api_peer_agreement(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/agreement[?rib=&k=&skip=] — pairwise
        Jaccard of the sessions' active prefix sets."""
        from bgpexplorer_spark.operators.analytics import peer_agreement
        from bgpexplorer_spark.operators.rib import current_state

        st = current_state(self.history.filter(F.col("rib") == rib))
        rows = self._page(
            peer_agreement(st).orderBy("session_a", "session_b"), k, skip
        ).collect()
        return [
            {
                "session_a": r.session_a, "session_b": r.session_b,
                "n_shared": r.n_shared, "jaccard": r.jaccard,
            }
            for r in rows
        ]

    def api_as_relationships(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/relationships[?rib=&k=&skip=] — Gao-style
        c2p/p2c/p2p inference over the active state's AS paths."""
        from bgpexplorer_spark.operators.analytics import as_relationships
        from bgpexplorer_spark.operators.rib import current_state

        rel = self._memo_report(
            "relationships", rib,
            lambda: as_relationships(
                current_state(self.history.filter(F.col("rib") == rib))
            ),
        )
        rows = self._page(rel.orderBy("as_low", "as_high"), k, skip).collect()
        return [
            {
                "as_low": r.as_low, "as_high": r.as_high, "rel": r.rel,
                "votes_low_customer": r.n_low_customer,
                "votes_high_customer": r.n_high_customer,
            }
            for r in rows
        ]

    def api_martians(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/martians[?rib=&k=&skip=] — active routes
        inside RFC 6890 special-purpose space, v4 and v6 registries."""
        from bgpexplorer_spark.functions.iputil import v4_to_dotted
        from bgpexplorer_spark.operators.analytics import (
            martian_prefixes,
            martian_prefixes_v6,
        )
        from bgpexplorer_spark.operators.rib import current_state

        st = current_state(self.history.filter(F.col("rib") == rib))
        v4 = martian_prefixes(st.filter(F.col("addr_v4").isNotNull()))
        v6 = martian_prefixes_v6(st.filter(F.col("addr_v6").isNotNull()))
        rows = self._page(
            v4.select("nlri_str", "martian")
            .unionByName(v6.select("nlri_str", "martian"))
            .orderBy("nlri_str"),
            k, skip,
        ).collect()
        return [{"nlri": r.nlri_str, "range": r.martian} for r in rows]

    def api_route_leaks(
        self, rib: str = "ipv4u", k: int = 100, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/leaks[?rib=&k=&skip=] — RFC 7908
        valley-free violations over the active state's paths under the
        inferred relationship graph."""
        from bgpexplorer_spark.operators.analytics import route_leaks
        from bgpexplorer_spark.operators.rib import current_state

        st = current_state(self.history.filter(F.col("rib") == rib))
        rows = self._page(
            route_leaks(st).orderBy("path_str"), k, skip
        ).collect()
        return [
            {
                "path": r.path_str, "leaker_asn": r.leaker_asn,
                "leak_pos": r.leak_pos,
            }
            for r in rows
        ]

    def api_upstream_diversity(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/upstreams[?rib=&k=&skip=] — per-origin
        distinct penultimate-hop count over the active state (single- vs
        multi-homed resilience report)."""
        from bgpexplorer_spark.operators.analytics import upstream_diversity
        from bgpexplorer_spark.operators.rib import current_state

        st = current_state(self.history.filter(F.col("rib") == rib))
        rows = self._page(
            upstream_diversity(st).orderBy(
                F.col("n_upstreams"), F.col("n_prefixes").desc(), "origin_as"
            ),
            k, skip,
        ).collect()
        return [
            {
                "origin_as": r.origin_as, "n_upstreams": r.n_upstreams,
                "n_prefixes": r.n_prefixes, "single_homed": r.single_homed,
            }
            for r in rows
        ]

    def api_deaggregation(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/deagg[?rib=&k=&skip=] — per-origin
        deaggregation report (prefixes covered by a same-origin shorter
        mask), worst offenders first."""
        from bgpexplorer_spark.operators.analytics import deaggregation
        from bgpexplorer_spark.operators.rib import current_state

        report = self._memo_report(
            "deagg", rib,
            lambda: deaggregation(
                current_state(self.history.filter(F.col("rib") == rib))
            ),
        )
        rows = self._page(
            report.orderBy(
                F.col("deagg_ratio").desc(), F.col("n_prefixes").desc(),
                "origin_as",
            ),
            k, skip,
        ).collect()
        return [
            {
                "origin_as": r.origin_as, "n_prefixes": r.n_prefixes,
                "n_covered": r.n_covered, "deagg_ratio": r.deagg_ratio,
            }
            for r in rows
        ]

    def api_customer_cones(
        self, rib: str = "ipv4u", k: int = 50, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/cones[?rib=&k=&skip=] — top-k
        customer-cone sizes from the inferred relationship graph."""
        from bgpexplorer_spark.operators.analytics import (
            as_relationships,
            customer_cone,
        )
        from bgpexplorer_spark.operators.rib import current_state

        rel = self._memo_report(
            "relationships", rib,  # shared with /relationships
            lambda: as_relationships(
                current_state(self.history.filter(F.col("rib") == rib))
            ),
        )
        rows = self._page(
            customer_cone(rel).orderBy(F.col("cone_size").desc(), "asn"),
            k, skip,
        ).collect()
        return [{"asn": r.asn, "cone_size": r.cone_size} for r in rows]

    def api_subprefix_hijacks(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/hijacks[?rib=&k=&skip=] — announced
        more-specifics whose most-specific covering announcement carries
        a different origin AS (sub-prefix hijack candidates), most
        suspicious (longest specific) first."""
        from bgpexplorer_spark.functions.iputil import v4_to_dotted
        from bgpexplorer_spark.operators.analytics import subprefix_hijacks
        from bgpexplorer_spark.operators.rib import current_state

        report = self._memo_report(
            "hijacks", rib,
            lambda: subprefix_hijacks(
                current_state(self.history.filter(F.col("rib") == rib))
            ),
        )
        rows = self._page(
            report
            .withColumn("prefix", F.concat_ws(
                "/", v4_to_dotted(F.col("addr_v4")),
                F.col("prefixlen").cast("string"),
            ))
            .orderBy(
                F.col("prefixlen").desc(), "addr_v4", "origin_as"
            ),
            k, skip,
        ).collect()
        return [
            {
                "prefix": r.prefix, "origin_as": r.origin_as,
                "cover_plen": r.cover_plen,
                "cover_origins": r.cover_origins_str,
            }
            for r in rows
        ]

    def api_path_inflation(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/inflation[?rib=&k=&skip=] — per-prefix
        collapsed-path-length spread vs the shortest observed route,
        most inflated first."""
        from bgpexplorer_spark.operators.analytics import path_inflation
        from bgpexplorer_spark.operators.rib import current_state

        st = current_state(self.history.filter(F.col("rib") == rib))
        rows = self._page(
            path_inflation(st).orderBy(
                (F.col("max_len") - F.col("min_len")).desc(),
                F.col("n_inflated").desc(), "nlri_str",
            ),
            k, skip,
        ).collect()
        return [
            {
                "prefix": r.nlri_str, "min_len": r.min_len,
                "max_len": r.max_len, "n_routes": r.n_routes,
                "n_inflated": r.n_inflated,
            }
            for r in rows
        ]

    def api_route_uptime(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/uptime[?rib=&k=&skip=] — per-route
        announced-time fraction (interval algebra over the history),
        least stable first."""
        from bgpexplorer_spark.operators.analytics import route_uptime

        hist = self.history.filter(F.col("rib") == rib)
        rows = self._page(
            route_uptime(hist).orderBy(
                F.col("uptime_fraction").asc_nulls_last(),
                F.col("n_events").desc(), "nlri_str", "session_id",
                "path_id",
            ),
            k, skip,
        ).collect()
        return [
            {
                "prefix": r.nlri_str, "session_id": r.session_id,
                "path_id": r.path_id,
                "n_events": r.n_events, "uptime_ms": r.uptime_ms,
                "observed_ms": r.observed_ms,
                "uptime_fraction": r.uptime_fraction,
            }
            for r in rows
        ]

    def api_convergence(
        self, rib: str = "ipv4u", gap_sec: int = 300,
        k: int = 1000, skip: int = 0,
    ) -> list[dict]:
        """GET /api/analytics/convergence[?rib=&gap=&k=&skip=] —
        gap-sessionized update bursts per prefix, slowest-converging
        (longest burst) first."""
        from bgpexplorer_spark.operators.analytics import convergence_report

        hist = self.history.filter(F.col("rib") == rib)
        rows = self._page(
            convergence_report(hist, gap_sec=gap_sec)
            .orderBy(
                F.col("duration_ms").desc(), "nlri_str", "burst_id"
            ),
            k, skip,
        ).collect()
        return [
            {
                "prefix": r.nlri_str, "burst": r.burst_id,
                "n_events": r.n_events, "n_sessions": r.n_sessions,
                "start": str(r.burst_start), "duration_ms": r.duration_ms,
            }
            for r in rows
        ]

    def api_statistics(self) -> dict:
        """GET /api/statistics (O6) — the REFERENCE envelope
        (src/ribservice.rs:168-219): ``stores`` (hash-consing store
        sizes; here distinct-counts over the event table), ``ribs``
        (route count per family, 0 for empty — all 15 keys always
        present like the reference), ``counters`` (updates/withdraws).
        The engine's richer per-rib detail rides along under
        ``ribs_detail`` (a superset key the reference doesn't emit)."""
        from bgpexplorer_spark.operators.ingest import attrs_struct

        rows = [r.asDict() for r in statistics(self.history).collect()]
        by_rib = {r["rib"]: r for r in rows}
        # the reference's stores are GLOBAL hash-cons sizes — a per-rib
        # sum would overcount values shared across families, so the
        # store counters run as one global distinct-count pass
        stores = self.history.agg(
            F.approx_count_distinct(attrs_struct()).alias("attrs"),
            F.approx_count_distinct("aspath_flat").alias("pathes"),
            F.approx_count_distinct("comms").alias("comms"),
            F.approx_count_distinct("lcomms").alias("lcomms"),
            F.approx_count_distinct("extcomms").alias("extcomms"),
            F.approx_count_distinct("clusterlist").alias("clusters"),
        ).first().asDict()
        return {
            "stores": stores,
            "ribs": {
                name: by_rib.get(name, {}).get("routes", 0)
                for name in RIB_NAMES
            },
            "counters": {
                "updates": sum(r["cnt_updates"] or 0 for r in rows),
                "withdraws": sum(r["cnt_withdraws"] or 0 for r in rows),
            },
            "ribs_detail": by_rib,
        }

    def api_sessions(self) -> dict:
        """GET /api/sessions — the reference's BgpSessionStorage map
        shape (src/bgpsvc.rs:733-745): ``{session_id: {"peer1": {"addr",
        "as_num"}, "peer2": {...}}}`` (serde_json renders the numeric
        BTreeMap key as a string). peer2 fields are null for
        single-sided sources (MRT archives) where only the announcing
        peer is known."""
        if self.sessions is None:
            return {}
        return {
            str(r["session_id"]): {
                "peer1": {"addr": r["peer1_addr"], "as_num": r["peer1_as"]},
                "peer2": {"addr": r["peer2_addr"], "as_num": r["peer2_as"]},
            }
            for r in self.sessions.collect()
        }

    def api_state(self) -> dict:
        return {"state": self.state}

    def api_ping(self) -> str:
        return "pong"

    # --- S9/S10 serving (src/whoissvc.rs:520-600) -------------------------
    # The HTTP layer keeps a small in-process TTL cache with
    # stale-while-revalidate (the reference's sled cache,
    # src/whoissvc.rs:458-490); the parquet cache (operators/whois
    # cache_lookup/upsert) is the batch-enrichment path (S11/J5).

    _WHOIS_SECTION_RE = {
        "aut-num": r"(aut-num|ASNumber):", "as": r"(aut-num|ASNumber):",
        "r": r"route:", "r4": r"route:", "route": r"route:",
        "r6": r"route6:", "route6": r"route6:",
    }

    def _cached(self, key: str, fetch, ttl: float = 1800.0) -> str:
        if not hasattr(self, "_ttl_cache"):
            self._ttl_cache = {}
        hit = self._ttl_cache.get(key)
        if hit is not None:
            ts, val = hit
            if time.time() - ts > ttl:  # stale: serve + refresh behind
                def refresh():
                    try:
                        self._ttl_cache[key] = (time.time(), fetch())
                    except Exception:
                        pass

                threading.Thread(target=refresh, daemon=True).start()
            return val
        val = fetch()
        self._ttl_cache[key] = (time.time(), val)
        return val

    @staticmethod
    def _filterout_comments(text: str) -> list[str]:
        return [ln for ln in text.split("\n") if ln and ln[0] != "%"]

    @classmethod
    def _findstr(cls, text: str, pattern: str | None) -> list[str]:
        import itertools
        import re as _re

        if pattern is None:
            return cls._filterout_comments(text)
        rx = _re.compile(pattern)
        lines = [ln for ln in text.split("\n") if ln and ln[0] not in "%#"]
        return list(itertools.dropwhile(lambda x: not rx.search(x), lines))

    def api_whois(self, query: str, mode: str | None = None) -> str:
        """GET /api/whois[/<mode>]?query=… — referral-recursive whois with
        section extraction per mode (src/whoissvc.rs:546-590)."""
        from bgpexplorer_spark.operators.whois import query_whois, socket_transport

        timeout = float(getattr(self.svc_config, "whoisreqtimeout", 30) or 30)
        transport = getattr(self, "whois_transport", None) or socket_transport(timeout)
        text = self._cached(
            f"whois:{query}",
            lambda: query_whois(
                query, transport, server_map=self.whois_server_map
            )[1],
        )
        if mode == "raw":
            return text
        pattern = self._WHOIS_SECTION_RE.get(mode or "")
        found = self._findstr(text, pattern)
        if pattern is not None and not found:
            found = self._filterout_comments(text)
        return "\n".join(found)

    def api_dns(self, target: str) -> str:
        """GET /api/dns/<addr> — PTR resolution over the wire transport
        (src/whoissvc.rs:529-543)."""
        from bgpexplorer_spark.operators.whois import query_dns_ptr, udp_dns_transport

        servers = list(getattr(self.svc_config, "whoisdnses", None) or []) or None
        transport = getattr(self, "dns_transport", None) or udp_dns_transport(servers)
        return self._cached(f"dns:{target}", lambda: query_dns_ptr(target, transport))

_BOOL = {"true": True, "1": True, "false": False, "0": False}

# every integer URL parameter and its smallest accepted value
_INT_PARAMS = {
    "skip": 0, "limit": 0, "maxdepth": 0, "k": 0, "gap": 0, "half_life": 1,
}

class BadParam(ValueError):
    """A malformed URL parameter: answered 400, not 500."""

def _int_params(qs: dict[str, str]) -> dict[str, int]:
    """The integer URL parameters present in ``qs``, parsed and range
    checked; raises :class:`BadParam` naming the first bad one."""
    out = {}
    for name, lo in _INT_PARAMS.items():
        if name not in qs:
            continue
        try:
            v = int(qs[name])
        except ValueError:
            v = None
        if v is None or v < lo:
            raise BadParam(f"{name} must be an integer >= {lo}, got {qs[name]!r}")
        out[name] = v
    return out

# every time URL parameter: epoch millis or RFC 3339
_TS_PARAMS = ("asof", "changed_after", "changed_before", "t1", "t2", "at")

def _check_ts_params(qs: dict[str, str]) -> None:
    """Raise :class:`BadParam` naming the first time parameter in ``qs``
    that is neither epoch millis nor RFC 3339."""
    for name in _TS_PARAMS:
        if name not in qs:
            continue
        try:
            parse_ts_param(qs[name])
        except (ValueError, OverflowError, OSError):
            raise BadParam(
                f"{name} must be epoch millis or RFC 3339, got {qs[name]!r}"
            ) from None

def _make_handler(svc: BgpExplorerService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, obj, code=200):
            body = (obj if isinstance(obj, str) else json.dumps(obj)).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _ws_upgrade(self):
            """GET /api/ws → RFC 6455 handshake + per-client feed loop
            (src/main.rs:103-157 upgrade, src/subscriber.rs:58-137 loop)."""
            from bgpexplorer_spark.streaming.wsfeed import on_ws_client, ws_accept_key

            key = self.headers.get("Sec-WebSocket-Key")
            if not key or "websocket" not in self.headers.get("Upgrade", "").lower():
                return self._send({"error": "bad websocket request"}, 400)
            self.send_response(101, "Switching Protocols")
            self.send_header("Upgrade", "websocket")
            self.send_header("Connection", "Upgrade")
            self.send_header("Sec-WebSocket-Accept", ws_accept_key(key))
            self.end_headers()
            self.close_connection = True
            on_ws_client(
                self.connection, svc.feed, apply_filter=svc.ws_apply_filter
            )

        def _send_file(self, urlpath: str):
            """S8 — static files from ``httproot`` with the reference's
            ``"/" → /index.html`` default (src/main.rs:168-173
            simple_file_send; httproot ini key src/config.rs + shipped
            contrib/ UI). Paths are resolved inside the root so ``..``
            traversal can't escape it."""
            import mimetypes
            import os

            # no config = the ini default (config.SvcConfig.httproot)
            configured = getattr(svc.svc_config, "httproot", None)
            root = configured or "./contrib"
            if not os.path.isdir(root) and configured in (None, "./contrib"):
                # only when httproot was NOT explicitly configured: the
                # cwd-relative default is absent, so serve the UI bundled
                # with the package — `GET /` works out of the box like
                # the reference's shipped explorer. An explicitly
                # configured-but-missing root stays a VISIBLE 404 (a
                # silent fallback would mask the deploy mistake).
                bundled = os.path.join(
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "contrib",
                )
                if os.path.isdir(bundled):
                    root = bundled
            if not os.path.isdir(root):
                return self._send({"error": "not found"}, 404)
            rel = "/index.html" if urlpath == "/" else urlpath
            root_abs = os.path.realpath(root)
            full = os.path.realpath(os.path.join(root_abs, rel.lstrip("/")))
            if not (full == root_abs or full.startswith(root_abs + os.sep)):
                return self._send({"error": "not found"}, 404)
            if not os.path.isfile(full):
                return self._send({"error": "not found"}, 404)
            with open(full, "rb") as f:
                body = f.read()
            ctype = mimetypes.guess_type(full)[0] or "application/octet-stream"
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802
            u = urlparse(self.path)
            parts = [p for p in u.path.split("/") if p]
            qs = {k: v[0] for k, v in parse_qs(u.query).items()}
            try:
                if parts[:2] == ["api", "ws"]:
                    return self._ws_upgrade()
                if parts[:2] == ["api", "whois"]:
                    if not qs.get("query"):
                        return self._send("Invalid WHOIS query", 400)
                    mode = parts[2] if len(parts) > 2 else None
                    return self._send(svc.api_whois(qs["query"], mode))
                if parts[:2] == ["api", "dns"] and len(parts) > 2:
                    return self._send(svc.api_dns(parts[2]))
                if parts[:2] == ["api", "ping"]:
                    return self._send("pong")
                if parts[:2] == ["api", "state"]:
                    return self._send(svc.api_state())
                if parts[:2] == ["api", "statistics"]:
                    return self._send(svc.api_statistics())
                rib = qs.get("rib", "ipv4u")
                ints = _int_params(qs)
                _check_ts_params(qs)

                def page(default_k=1000):
                    # every analytics list endpoint takes the same
                    # k (limit) + skip (offset) cap
                    return {"k": ints.get("k", default_k),
                            "skip": ints.get("skip", 0)}

                if parts[:3] == ["api", "analytics", "moas"]:
                    return self._send(
                        svc.api_moas(rib, qs.get("asof"), **page())
                    )
                if parts[:3] == ["api", "analytics", "rpki"]:
                    return self._send(
                        svc.api_rpki(rib, qs.get("asof"), **page())
                    )
                if parts[:3] == ["api", "analytics", "diff"]:
                    return self._send(
                        svc.api_diff(
                            rib, qs.get("t1"), qs.get("t2"), **page()
                        )
                    )
                if parts[:3] == ["api", "analytics", "damping"]:
                    return self._send(
                        svc.api_damping(
                            rib, qs.get("at"),
                            ints.get("half_life", 900), **page(),
                        )
                    )
                if parts[:3] == ["api", "analytics", "bogons"]:
                    return self._send(svc.api_bogons(rib, **page()))
                if parts[:3] == ["api", "analytics", "sessions"]:
                    return self._send(svc.api_session_stability(**page()))
                if parts[:3] == ["api", "analytics", "ages"]:
                    return self._send(
                        svc.api_route_ages(
                            rib, qs.get("asof"), ints.get("k", 100),
                        )
                    )
                if parts[:3] == ["api", "analytics", "agreement"]:
                    return self._send(svc.api_peer_agreement(rib, **page()))
                if parts[:3] == ["api", "analytics", "relationships"]:
                    return self._send(
                        svc.api_as_relationships(rib, **page())
                    )
                if parts[:3] == ["api", "analytics", "martians"]:
                    return self._send(svc.api_martians(rib, **page()))
                if parts[:3] == ["api", "analytics", "upstreams"]:
                    return self._send(
                        svc.api_upstream_diversity(rib, **page())
                    )
                if parts[:3] == ["api", "analytics", "deagg"]:
                    return self._send(svc.api_deaggregation(rib, **page()))
                if parts[:3] == ["api", "analytics", "leaks"]:
                    return self._send(svc.api_route_leaks(rib, **page(100)))
                if parts[:3] == ["api", "analytics", "cones"]:
                    return self._send(svc.api_customer_cones(rib, **page(50)))
                if parts[:3] == ["api", "analytics", "inflation"]:
                    return self._send(
                        svc.api_path_inflation(rib, **page())
                    )
                if parts[:3] == ["api", "analytics", "uptime"]:
                    return self._send(svc.api_route_uptime(rib, **page()))
                if parts[:3] == ["api", "analytics", "hijacks"]:
                    return self._send(
                        svc.api_subprefix_hijacks(rib, **page())
                    )
                if parts[:3] == ["api", "analytics", "convergence"]:
                    return self._send(
                        svc.api_convergence(
                            rib, ints.get("gap", 300), **page()
                        )
                    )
                if parts[:3] == ["api", "analytics", "flappers"]:
                    return self._send(
                        svc.api_flappers(rib, ints.get("k", 20))
                    )
                if parts[:2] == ["api", "sessions"]:
                    return self._send(svc.api_sessions())
                if parts[:2] == ["api", "json"] and len(parts) == 3:
                    params = {}
                    if "filter" in qs:
                        params["filter"] = qs["filter"]
                    for k in ("skip", "limit", "maxdepth"):
                        if k in ints:
                            params[k] = ints[k]
                    if "onlyactive" in qs:
                        params["onlyactive"] = _BOOL.get(qs["onlyactive"].lower(), False)
                    for k in ("changed_after", "changed_before", "asof"):
                        if k in qs:
                            params[k] = qs[k]
                    return self._send(svc.api_json(parts[2], **params))
                if parts[:1] != ["api"]:
                    return self._send_file(u.path)
                return self._send({"error": "not found"}, 404)
            except BadParam as e:
                return self._send({"error": str(e)}, 400)
            except Exception as e:  # surface engine errors as 500 JSON
                log.exception("500 on GET %s", self.path)
                return self._send({"error": str(e)[:500]}, 500)

    return Handler

def serve(svc: BgpExplorerService, host: str = "127.0.0.1", port: int = 8080):
    """Start the HTTP server on a background thread; returns the server
    (call ``.shutdown()`` to stop)."""
    httpd = ThreadingHTTPServer((host, port), _make_handler(svc))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd
