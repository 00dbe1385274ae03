"""Spans around the daemon's public layer functions, for the traced run.

``install(tracer)`` wraps each function where it is looked up (a name
imported into another module is patched in that module), before the
daemon starts. Spans are ``(name, start, end, parent, request id)``
tuples kept in memory; ``Tracer.dump`` writes them out at stop. The
request id is the ``X-Request-Id`` header the load generator sends.
"""

from __future__ import annotations

import functools
import json
import threading
import time

PROBE_LO = (198 << 24) | (18 << 16)
PROBE_HI = PROBE_LO + (2 << 16)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple | None] = []   # (name, start, end, parent, rid)
        self.counts: dict[str, float] = {}
        self.probe_spool: list[tuple[int, int, float]] = []  # (addr, med, written at)
        self.start = 0   # first span of the measured window
        self._tls = threading.local()
        self._lock = threading.Lock()

    def mark(self) -> None:
        """Start the measured window; spans still open keep their slots."""
        with self._lock:
            self.start = len(self.spans)
            self.counts.clear()
            self.probe_spool.clear()

    def span(self, name: str, fn, *a, **kw):
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1] if stack else -1
        rid = getattr(self._tls, "rid", None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(None)
        stack.append(idx)
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans[idx] = (name, t0, t1, parent, rid)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def set_rid(self, rid) -> None:
        self._tls.rid = rid

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            return self.span(name, fn, *a, **kw)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="ascii") as f:
            for s in self.spans:
                if s is not None:
                    f.write(json.dumps(s) + "\n")


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one empty span on this host, in seconds."""
    t = Tracer()
    noop = t.wrap("x", lambda: None)
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    return (time.perf_counter() - t0) / n


class _Collected:
    """Stand-in for the frame ``to_nested_json`` returns: the serving
    layer only calls ``collect()`` on it, which is the span."""

    def __init__(self, tracer: Tracer, df):
        self._tracer, self._df = tracer, df

    def collect(self):
        return self._tracer.span("query.nested_json", self._df.collect)

    def __getattr__(self, name):
        return getattr(self._df, name)


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries named in the benchmark's README."""
    from pyspark.sql.streaming import DataStreamWriter

    from bgpexplorer_spark import api, snapshotd
    from bgpexplorer_spark.operators import analytics, ingest, query, rib
    from bgpexplorer_spark.streaming import livebase, wsfeed

    svc = api.BgpExplorerService

    # api: HTTP handling, the JSON endpoint, the state bump, reports
    make_handler = api._make_handler

    def traced_make_handler(service):
        base = make_handler(service)

        class Handler(base):
            def do_GET(self):  # noqa: N802
                tracer.set_rid(self.headers.get("X-Request-Id"))
                try:
                    return tracer.span("api.http", base.do_GET, self)
                finally:
                    tracer.set_rid(None)

        return Handler

    api._make_handler = traced_make_handler
    svc.api_json = tracer.wrap("api.api_json", svc.api_json)
    svc.bump_state_version = tracer.wrap("api.bump", svc.bump_state_version)
    for meth, name in (("api_statistics", "statistics"), ("api_moas", "moas"),
                       ("api_subprefix_hijacks", "hijacks"),
                       ("api_as_relationships", "relationships")):
        setattr(svc, meth, tracer.wrap(f"api.report.{name}", getattr(svc, meth)))

    # analytics: the report operators (lazy plans) and the memo builds
    for fn in ("moas_conflicts", "subprefix_hijacks", "as_relationships"):
        setattr(analytics, fn, tracer.wrap(f"analytics.{fn}", getattr(analytics, fn)))
    api.statistics = tracer.wrap("analytics.statistics", api.statistics)
    memo = svc._memo_report

    def traced_memo(self, name, rib_name, build):
        built = []

        def counted_build():
            built.append(1)
            return build()

        out = tracer.span(f"analytics.memo.{name}", memo, self, name, rib_name,
                          counted_build)
        tracer.count("analytics.memo_calls")
        tracer.count("analytics.memo_hits", 0 if built else 1)
        return out

    svc._memo_report = traced_memo

    # filterlang, as the query layer looks it up
    query.parse_filter = tracer.wrap("filterlang.parse", query.parse_filter)
    query.filter_to_column = tracer.wrap("filterlang.compile", query.filter_to_column)

    # operators/query, as the api layer looks it up
    query_rib = api.query_rib

    def traced_query_rib(*a, **kw):
        r = tracer.span("query.query_rib", query_rib, *a, **kw)
        tracer.count("query.requests")
        return r

    api.query_rib = traced_query_rib
    nested = api.to_nested_json
    api.to_nested_json = lambda result: _Collected(tracer, nested(result))

    # operators/rib + snapshotd: the restore at boot
    snapshotd.load_snapshot_dir = tracer.wrap(
        "rib.load_snapshot_dir", snapshotd.load_snapshot_dir)
    rib.write_snapshot = tracer.wrap("rib.write_snapshot", rib.write_snapshot)

    # streaming/bgplive + livebase: spool files, probe spool time
    write_parquet = livebase.LiveListenerBase._write_parquet

    def traced_write_parquet(self, rows):
        out = tracer.span("bgplive.spool_write", write_parquet, self, rows)
        now = time.time()
        tracer.count("bgplive.spool_files")
        tracer.count("bgplive.spool_rows", len(rows))
        for r in rows:
            a = r.get("addr_v4")
            if a is not None and PROBE_LO <= a < PROBE_HI and r.get("med") is not None:
                tracer.probe_spool.append((a, r["med"], now))
        return out

    livebase.LiveListenerBase._write_parquet = traced_write_parquet

    # streaming/feed + operators/ingest: the whole micro-batch sink
    # (fold, parquet append, publish, bump) and the fold's plan build
    for_each_batch = DataStreamWriter.foreachBatch

    def traced_for_each_batch(self, func):
        return for_each_batch(
            self, lambda df, epoch: tracer.span("feed.batch", func, df, epoch))

    DataStreamWriter.foreachBatch = traced_for_each_batch
    ingest.build_history = tracer.wrap("ingest.build_history", ingest.build_history)

    # streaming/wsfeed
    publish = wsfeed.LiveFeed.publish_batch

    def traced_publish(self, updates):
        n = tracer.span("wsfeed.publish", publish, self, updates)
        tracer.count("wsfeed.rows_published", n)
        return n

    wsfeed.LiveFeed.publish_batch = traced_publish


def self_times(spans: list[tuple | None], start: int = 0) -> dict[str, float]:
    """Self time per layer (the span name's first component) of the
    spans from index ``start`` on, seconds: each span's duration minus
    the part its child spans cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s is not None and s[3] >= 0:
            child[s[3]] += s[2] - s[1]
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s is None or i < start:
            continue
        layer = s[0].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + max(0.0, s[2] - s[1] - child[i])
    return out
