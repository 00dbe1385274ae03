"""Daemon side of the serving benchmark: one process that owns the
SparkSession and runs the daemon exactly as ``daemon.run_from_ini``
builds it. The load generator (``run.py``) drives it over stdin/stdout
JSON lines prefixed with ``@@pb``; everything else on stdout is the
JVM's and is ignored.

    python3 perfbench/launcher.py build --seed N --scale JSON --ini INI --out DIR
    python3 perfbench/launcher.py serve --ini INI --work DIR [--trace]

``build`` makes a snapshot with the engine itself: the seeded RIB as
UPDATE messages, decoded by the live decoder into UPDATES_SCHEMA rows,
folded with ``operators.ingest.build_history`` and persisted with
``SnapshotKeeper.save_once`` into ``DIR/snap``.

``serve`` commands (one JSON object a line on stdin): ``boot`` (start
a daemon in a fresh directory under the work dir), ``drop`` (stop the
running daemon), ``mark`` (start of the measured window), ``stats``
(counters since ``mark``), ``stop``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def emit(**kw) -> None:
    sys.stdout.write("@@pb " + json.dumps(kw) + "\n")
    sys.stdout.flush()


def build(args) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from bgpexplorer_spark.config import from_inifile
    from bgpexplorer_spark.operators.ingest import build_history
    from bgpexplorer_spark.schemas import UPDATES_SCHEMA
    from bgpexplorer_spark.session import get_spark
    from bgpexplorer_spark.snapshotd import SnapshotKeeper
    from bgpexplorer_spark.sources.mrt import parse_bgp_update
    from model import PEER_AS, Rib, Scale

    rib = Rib(args.seed, Scale(**json.loads(args.scale)))
    cols = [f.name for f in UPDATES_SCHEMA.fields]
    schema = to_arrow_schema(UPDATES_SCHEMA)
    upd_dir = os.path.join(args.out, "updates")
    os.makedirs(upd_dir, exist_ok=True)
    recs: list[dict] = []
    part = 0

    def flush():
        nonlocal recs, part
        pq.write_table(pa.Table.from_pylist(recs, schema=schema),
                       os.path.join(upd_dir, f"part-{part:04d}.parquet"))
        recs, part = [], part + 1

    for ts, s, body in rib.history_events():
        for r in parse_bgp_update(body, 0, len(body), ts, f"192.0.2.{s + 1}",
                                  PEER_AS[s]):
            rec = {c: r.get(c) for c in cols}
            rec["session_id"] = s
            rec["ts"] = ts.replace(tzinfo=dt.timezone.utc)
            recs.append(rec)
        if len(recs) >= 100_000:
            flush()
    if recs:
        flush()
    spark = get_spark("perfbench-build")
    updates = spark.read.schema(UPDATES_SCHEMA).parquet(upd_dir)
    hist = build_history(updates, history_mode=from_inifile(args.ini).historymode)
    snap = os.path.join(args.out, "snap")
    if SnapshotKeeper(lambda: hist, snap).save_once() is None:
        raise SystemExit("snapshot save failed")
    spark.stop()
    emit(event="built")


def _files_and_bytes(path: str) -> tuple[int, int]:
    n = b = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, f))
    return n, b


class Counters:
    """Spark status-store counters, read at ``mark`` and at ``stats``."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def executor(self) -> dict:
        ex = self.store.executorList(True)
        tot = dict(run_ms=0, gc_ms=0, tasks=0, input_bytes=0, shuffle_bytes=0)
        for i in range(ex.size()):
            e = ex.apply(i)
            tot["run_ms"] += e.totalDuration()
            tot["gc_ms"] += e.totalGCTime()
            tot["tasks"] += e.totalTasks()
            tot["input_bytes"] += e.totalInputBytes()
            tot["shuffle_bytes"] += e.totalShuffleRead() + e.totalShuffleWrite()
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        tot["jobs"] = (max(ids) + 1) if ids else 0
        return tot


def quick_stop(d) -> None:
    """Stop listeners, the streaming query and HTTP without the
    shutdown drain and store-on-stop snapshot: the benchmark discards
    the work dir, and those writes would only lengthen every run."""
    query, d.query = d.query, None
    d.keeper = None  # its periodic thread sleeps for snapshot_every
    if query is not None:
        query.stop()
    d.stop()


def _ts(progress: dict) -> float:
    return dt.datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _hwm_mb(pid) -> float:
    """Peak resident set of a process (VmHWM), MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stats(d, counters, base, t_mark, tracer) -> dict:
    """Counters since ``mark``, raw: the load generator computes the
    metrics (and refuses percentiles with too few samples)."""
    now = time.time()
    ex = counters.executor()
    files, nbytes = _files_and_bytes(d.table_dir)
    prog = []
    for p in d.query.recentProgress:
        pj = json.loads(p.json) if hasattr(p, "json") else dict(p)
        if _ts(pj) >= t_mark and pj.get("numInputRows", 0) > 0:
            prog.append(pj)
    spool = [os.path.join(d.ingest_dir, f) for f in os.listdir(d.ingest_dir)
             if f.endswith(".parquet")]
    last_t = max((_ts(p) for p in prog), default=t_mark)
    jvm_pid = counters.spark._jvm.java.lang.ProcessHandle.current().pid()
    out = {
        "window_s": now - t_mark,
        "spark": {k: ex[k] - base.get(k, 0) for k in ex},
        "table_files": files,
        "table_bytes": nbytes,
        "rss_mb": _hwm_mb(os.getpid()) + _hwm_mb(jvm_pid),
        "feed": {
            "batch_ms": [p["durationMs"].get("triggerExecution", 0) for p in prog],
            "add_batch_ms": [p["durationMs"].get("addBatch", 0) for p in prog],
            "rows": [p.get("numInputRows", 0) for p in prog],
            "backlog_files": sum(os.path.getmtime(f) > last_t for f in spool),
        },
    }
    if tracer is not None:
        import tracing

        spans = [s for s in tracer.spans[tracer.start:] if s is not None]
        by: dict[str, list[float]] = {}
        for s in spans:
            n_tot = by.setdefault(s[0], [0, 0.0])
            n_tot[0] += 1
            n_tot[1] += s[2] - s[1]
        out["span"] = by
        out["self_s"] = tracing.self_times(tracer.spans, tracer.start)
        out["counts"] = dict(tracer.counts)
        out["api_json_by_rid"] = {
            s[4]: s[2] - s[1] for s in spans
            if s[0] == "api.api_json" and s[4] is not None
        }
        out["probe_spool"] = list(tracer.probe_spool)
        out["span_cost_us"] = 1e6 * tracing.span_cost_s()
        out["spans"] = len(spans)
    return out


def serve(args) -> None:
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)
    from bgpexplorer_spark.daemon import run_from_ini
    from bgpexplorer_spark.session import get_spark

    spark = get_spark("perfbench-daemon")
    jvm = spark._jvm.java.lang
    emit(event="spark_ready", jvm_pid=jvm.ProcessHandle.current().pid(),
         java=jvm.System.getProperty("java.runtime.version"))
    counters = Counters(spark)
    d = None
    boots = 0
    base: dict = {}
    t_mark = time.time()
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        if op == "boot":
            first = len(tracer.spans) if tracer is not None else 0
            boots += 1
            d = run_from_ini(spark, args.ini, os.path.join(args.work, f"boot{boots}"))
            restore_s = None
            if tracer is not None:
                restore_s = sum(s[2] - s[1] for s in tracer.spans[first:]
                                if s is not None and s[0].startswith("rib."))
            emit(event="booted", http=d.http_port, bgp=d.listeners[0].port,
                 restore_s=restore_s)
        elif op == "drop":
            quick_stop(d)
            d = None
            emit(event="dropped")
        elif op == "mark":
            base = counters.executor()
            if tracer is not None:
                tracer.mark()
            t_mark = time.time()
            emit(event="marked")
        elif op == "stats":
            emit(event="stats", **stats(d, counters, base, t_mark, tracer))
        elif op == "stop":
            if d is not None:
                quick_stop(d)
            if tracer is not None:
                tracer.dump(os.path.join(args.work, "spans.jsonl"))
            emit(event="stopped")
            # no spark.stop(): the JVM exits when this process's gateway
            # pipe closes, and the work dir is discarded
            sys.stdout.flush()
            os._exit(0)


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    b = sub.add_parser("build")
    b.add_argument("--seed", type=int, required=True)
    b.add_argument("--scale", required=True)
    b.add_argument("--ini", required=True)
    b.add_argument("--out", required=True)
    s = sub.add_parser("serve")
    s.add_argument("--ini", required=True)
    s.add_argument("--work", required=True)
    s.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    build(args) if args.mode == "build" else serve(args)


if __name__ == "__main__":
    main()
