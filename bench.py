"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], print ONE JSON line.

Each query is forced through a full count() action (no result caching
between runs); session/JVM startup is excluded from per-query times.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bgpexplorer_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "o5_lpm_join",
    "u3_history_differ",
    "rib_current_state",
    "sessionize_events",
    "o4_topk",
    "j1_semijoin",
    "f1_subnet_match",
    "f5_aspath_subseq",
    # the engine's flagship serving shape (build_history → serving_copy →
    # query_rib → to_nested_json → nest_items → flatten). Each timed count
    # rebuilds the copy, fetches the page's history and nests it;
    # query_rib's page action runs once, when the frame is built
    "o7_nested_output",
    # real wire-format ingestion: MRT decode → build_history
    "s1_mrt_decode",
    # RIB time travel (ingest build + as-of window)
    "o9_rib_asof",
    # the SERVED as-of path: daemon-maintained snapshot table, ts_date
    # partition pruning + max_by only — no wire re-derivation per query.
    # Its sf ratio should track the pruned scan, not the derivation CTE
    "o9_rib_asof_served",
    # sub-prefix hijack detection: truncation equi-joins, no range join
    "an_subprefix_hijack",
    # RFC 6811 origin validation: the masked-candidate ROA equi-join is the
    # heaviest analytics shape (LPM-class join + verdict aggregate)
    "an_rpki_validate",
    # dual-instant state diff: one scan, two conditional argmax aggregates
    "an_rib_diff",
    # Gao inference: distinct-path graph, degree join, vote aggregate
    "an_as_relationships",
    # ROA change impact: TWO chained RFC 6811 validations (masked-candidate
    # equi-join + narrow-key verdict aggregate each) — the heaviest
    # analytics composition in the kit
    "an_roa_delta",
    # phi-heavy-hitters: incremental windowed counts + closed-window
    # rank/share finisher sharing one Exchange
    "st_heavy_hitters",
]

def _sf_of(sf_dir: str) -> float:
    return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0


class _StageMetrics:
    """Delta-reader over the driver's AppStatusStore.

    Wall-clock alone can't distinguish "the plan got worse" from "the
    sandbox was busy"; these counters can. executorRunTime is CPU the
    query actually consumed — if wall time rises while executorRunTime,
    task count, and shuffle bytes stay flat, the drift is environmental
    (scheduler contention / noisy neighbor), not a plan regression.
    """

    FIELDS = (
        ("tasks", "numCompleteTasks"),
        ("shuffle_read_b", "shuffleReadBytes"),
        ("shuffle_write_b", "shuffleWriteBytes"),
        ("input_b", "inputBytes"),
        ("exec_run_ms", "executorRunTime"),
        ("gc_ms", "jvmGcTime"),
    )

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._seen_max = -1

    def _stages(self):
        seq = self._store.stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        out = []
        it = seq.iterator()
        while it.hasNext():
            out.append(it.next())
        return out

    def mark(self) -> None:
        """Forget everything executed so far; the next read() reports
        only stages submitted after this point."""
        ids = [s.stageId() for s in self._stages()]
        if ids:
            self._seen_max = max(self._seen_max, max(ids))

    def read(self) -> dict[str, int]:
        agg = {k: 0 for k, _ in self.FIELDS}
        for s in self._stages():
            if s.stageId() <= self._seen_max:
                continue
            for key, attr in self.FIELDS:
                agg[key] += int(getattr(s, attr)())
        return agg

def _run_set(
    spark, qs, sf_dir: str, collect_metrics: dict | None = None,
    n_runs: int = 5,
) -> dict[str, float]:
    # steady-state timing, prepared-statement style: build each query's
    # DataFrame ONCE (a resident service prepares its plans once), warm it
    # (JIT + parquet footer caching), then report the median of 5 timed
    # executions. Every timed count() re-runs the full job — there is no
    # result/data caching anywhere, only the analyzed plan is reused.
    times: dict[str, float] = {}
    metrics = _StageMetrics(spark) if collect_metrics is not None else None
    # pre-build every plan once BEFORE any timing: actions run while a
    # plan is built (e.g. o9_rib_asof_served's one-off snapshot write,
    # cached per sf_dir) execute here, outside the per-query loop, so no
    # query's first-run wall carries another action's scan (r10 ADVICE)
    for name in BENCH_QUERIES:
        qs[name](spark, sf_dir)
    for name in BENCH_QUERIES:
        df = qs[name](spark, sf_dir)
        df.count()  # warmup execution
        if metrics is not None:
            metrics.mark()
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df.count()
            runs.append(time.perf_counter() - t0)
        times[name] = round(sorted(runs)[len(runs) // 2], 4)
        if metrics is not None:
            # per-timed-execution averages over the timed runs: CPU
            # actually burned vs wall-clock median makes env drift visible
            m = metrics.read()
            collect_metrics[name] = {k: v // n_runs for k, v in m.items()}
        # drop this query's persisted intermediates and force a JVM GC so
        # the ContextCleaner reaps dead shuffle/broadcast state: in a short
        # local session the periodic cleaner (30 min default) never fires,
        # and the accumulated state measurably distorts later queries. A
        # resident service gets the same effect from routine generational GC.
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return times

def _bench_streaming(spark, sf_dir: str, amp_factor: int = 10) -> dict:
    """Throughput of the keyed stateful streaming paths
    (applyInPandasWithState): materialize the derived UPDATES_SCHEMA
    events once as a file stream source, then drive live_current_state
    and live_flap_damping end-to-end (availableNow → noop sink).

    Two source sizes per operator — the base event set (~10k at sf0.01)
    and a key-amplified one (``amp_factor``× events AND state keys, the
    nlri_str carries a replica suffix so damping and upsert state both
    scale) — and the reported ``steady_events_per_sec`` is the MARGINAL
    rate (Δevents/Δsec): availableNow job startup, checkpoint
    bootstrap, and first-batch JIT cancel out of the subtraction, so the
    figure tracks the per-event state-path cost the fixed-size runs
    drowned in startup. Regression-tracks the vectorized flap-damping
    fold, Arrow batch crossing, and state (de)serialization — which the
    batch queries never touch."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bgpexplorer_spark.contract import derived_updates
    from bgpexplorer_spark.streaming.feed import (
        live_current_state,
        live_current_state_agg,
        live_flap_damping,
        run_flap_damping_incremental,
        stream_updates_from_files,
    )

    base = derived_updates(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="bench_updates_")
    base.write.mode("overwrite").parquet(src)
    n_base = spark.read.parquet(src).count()
    src_amp = tempfile.mkdtemp(prefix="bench_updates_amp_")
    # replica suffix on the state key: amp_factor x events and x keys
    (
        spark.read.parquet(src)
        .withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(amp_factor - 1))))
        .withColumn(
            "nlri_str", F.concat_ws("#", "nlri_str", F.col("_rep").cast("string"))
        )
        .drop("_rep")
        .write.mode("overwrite")
        .parquet(src_amp)
    )
    n_amp = spark.read.parquet(src_amp).count()
    out: dict = {"sf": _sf_of(sf_dir), "events": n_base, "events_amplified": n_amp}

    def _noop_sink(op):
        """op(stream) transformation → a started availableNow query."""
        def start(stream, ck):
            return (
                op(stream)
                .writeStream.format("noop").outputMode("update")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
        return start

    def drive(starter, path) -> float:
        ck = tempfile.mkdtemp(prefix="bench_ck_")
        stream = stream_updates_from_files(spark, path)
        t0 = time.perf_counter()
        starter(stream, ck).awaitTermination()
        dt = time.perf_counter() - t0
        shutil.rmtree(ck, ignore_errors=True)
        return dt

    try:
        for name, starter in (
            ("st_live_current_state", _noop_sink(live_current_state)),
            # JVM-native max_by variant: no per-key Python crossing —
            # the throughput ceiling the state path can reach
            ("st_live_current_state_native", _noop_sink(live_current_state_agg)),
            ("st_live_flap_damping", _noop_sink(live_flap_damping)),
            # foreachBatch incremental damping: batch-to-batch JVM fold,
            # its own runner (it manages state + sink itself)
            ("st_live_flap_damping_incremental", run_flap_damping_incremental),
        ):
            t_base = drive(starter, src)
            t_amp = drive(starter, src_amp)
            marginal = (
                round((n_amp - n_base) / (t_amp - t_base))
                if t_amp - t_base > 0.05
                else None
            )
            out[name] = {
                "sec": round(t_base, 4),
                "events_per_sec": round(n_base / t_base) if t_base else None,
                "sec_amplified": round(t_amp, 4),
                "events_per_sec_amplified": round(n_amp / t_amp) if t_amp else None,
                "steady_events_per_sec": marginal,
            }
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(src_amp, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")

    from bgpexplorer_spark.contract import all_queries

    qs = all_queries()
    # warm the JVM + file metadata once with a trivial action
    spark.range(1).count()

    load_start = os.getloadavg()
    qmetrics: dict[str, dict] = {}
    times = _run_set(spark, qs, sf_dir, collect_metrics=qmetrics)
    # second back-to-back pass: if run2 differs materially from run1 on
    # identical plans, the variance is session/machine state, not code
    times2nd = _run_set(spark, qs, sf_dir)
    load_end = os.getloadavg()
    total = round(sum(times.values()), 4)
    # digest-tie the artifact to the engine state it measured, the same
    # header class as the selfcheck log (tools/selfcheck.engine_digest):
    # a perf rewrite landing after the bench run fails the gate test
    # until the artifact is regenerated at HEAD
    import importlib.util as _ilu

    _spec = _ilu.spec_from_file_location(
        "selfcheck_mod", Path(__file__).resolve().parent / "tools" / "selfcheck.py"
    )
    _mod = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_mod)
    out = {
        "metric": "headline_queries_steady_state_total_runtime",
        "value": total,
        "unit": "sec",
        "engine_digest": _mod.engine_digest(),
        "queries": times,
        "queries_run2": times2nd,
        "value_run2": round(sum(times2nd.values()), 4),
        # per-timed-run stage-counter averages (from AppStatusStore):
        # tasks, shuffle read/write bytes, input bytes, executor CPU ms,
        # GC ms. Wall-up + CPU-flat = environment; CPU-up = plan/code.
        "query_metrics": qmetrics,
        "env": {
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in load_end],
            "cpus": os.cpu_count(),
        },
        "sf": _sf_of(sf_dir),
    }

    # Secondary scale factor: rerun the same set at a smaller sf and record
    # the per-query scaling ratio. A query whose runtime grows much faster
    # than the ~10x data ratio (after subtracting fixed per-job overhead,
    # which dominates at sf0.01) is flagged before it matters at 100 TB.
    # Disable with SPARK_GRAFT_SF_DIR_2="".
    sf_dir2 = os.environ.get("SPARK_GRAFT_SF_DIR_2", "/root/testdata/sf0.01")
    if sf_dir2 and os.path.isdir(sf_dir2) and os.path.abspath(sf_dir2) != os.path.abspath(sf_dir):
        times2 = _run_set(spark, qs, sf_dir2)
        out["secondary"] = {
            "sf": _sf_of(sf_dir2),
            "value": round(sum(times2.values()), 4),
            "queries": times2,
        }
        ratios = {
            name: round(times[name] / times2[name], 2) if times2.get(name) else None
            for name in times
        }
        out["scaling_ratio"] = ratios
        data_ratio = _sf_of(sf_dir) / max(_sf_of(sf_dir2), 1e-9)
        # a query growing faster than the data (plus slack for fixed
        # overhead amortizing away) is flagged before it matters at 100 TB
        out["superlinear"] = sorted(
            n for n, r in ratios.items() if r and r > data_ratio * 1.2
        )

    # Tertiary LARGE scale factor: 10x the headline sf, generated locally
    # by tools/gen_sf.py (distribution-faithful replica of the driver
    # tables — schemas, cardinalities, join fan-outs). This measures the
    # up-scaling direction the sf0.01 secondary can't: fixed overheads
    # have already amortized at sf0.1, so a ratio much above the data
    # ratio here is a REAL superlinearity, not noise. 3 timed runs per
    # query (it's a scaling check, not the headline figure). Disable with
    # SPARK_GRAFT_SF1_DIR=""; regenerate with
    # `python tools/gen_sf.py 1 .localdata/sf1`.
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        str(Path(__file__).resolve().parent / ".localdata" / "sf1"),
    )
    if sf1_dir and not os.path.isdir(sf1_dir) and "SPARK_GRAFT_SF1_DIR" not in os.environ:
        # first run in a fresh checkout: generate the sf1 slice once
        # (~15 s, deterministic seed 42); it is gitignored local data
        try:
            import contextlib

            from tools.gen_sf import generate

            # generation progress goes to STDERR: stdout is the bench
            # artifact (BENCHLOCAL_r{N}.json captures it verbatim and the
            # gate test parses line 1 as JSON — a fresh checkout's one-off
            # sf1 generation polluted it with row-count lines, r11)
            with contextlib.redirect_stdout(sys.stderr):
                generate(1.0, sf1_dir)
        except Exception as e:  # no sf1 section rather than a failed bench
            print(f"sf1 generation failed: {e}", file=sys.stderr)
    if sf1_dir and os.path.isdir(sf1_dir):
        # stage counters at sf1 too: a creeping sf ratio with CPU
        # (exec_run_ms) growing in step is real compute growth; CPU flat
        # while wall grows is environment — the distinction the r8 creep
        # post-mortem needed and couldn't make from wall times alone
        qmetrics_sf1: dict[str, dict] = {}
        times_sf1 = _run_set(
            spark, qs, sf1_dir, n_runs=3, collect_metrics=qmetrics_sf1
        )
        ratios1 = {
            name: round(times_sf1[name] / times[name], 2) if times.get(name) else None
            for name in times_sf1
        }
        data_ratio1 = _sf_of(sf1_dir) / max(_sf_of(sf_dir), 1e-9)
        out["sf1"] = {
            "sf": _sf_of(sf1_dir),
            "value": round(sum(times_sf1.values()), 4),
            "queries": times_sf1,
            "scaling_ratio_vs_headline": ratios1,
            "data_ratio": round(data_ratio1, 2),
            "superlinear": sorted(
                n for n, r in ratios1.items() if r and r > data_ratio1 * 1.2
            ),
            "query_metrics": qmetrics_sf1,
        }

    # streaming state-path throughput at the secondary (small) sf: the
    # stateful operators are latency-shaped (per-batch state crossing),
    # so the small sf exercises the fixed cost the batch set never sees.
    # Disable with SPARK_GRAFT_STREAM_BENCH=0.
    if os.environ.get("SPARK_GRAFT_STREAM_BENCH", "1") != "0":
        out["streaming"] = _bench_streaming(
            spark, sf_dir2 if sf_dir2 and os.path.isdir(sf_dir2) else sf_dir
        )
    print(json.dumps(out))
    # FINAL stdout line: a compact summary that fits the driver's ~2k
    # tail capture whole, so BENCH_r{N}.json lands parseable instead of
    # a truncated fragment of the (large) full line above (r10 verdict
    # What's-wrong #4). Totals + per-query sf0.1 walls only; everything
    # else rides the committed BENCHLOCAL artifact.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "queries": {n: round(t, 3) for n, t in times.items()},
        "value_run2": out["value_run2"],
        "superlinear": out.get("superlinear", []),
        "sf1_value": out.get("sf1", {}).get("value"),
        "sf1_superlinear": out.get("sf1", {}).get("superlinear", []),
        "engine_digest": out["engine_digest"],
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # must fit the ~2k tail WHOLE or it's useless
        slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:30])
        compact["queries"] = {n: round(t, 2) for n, t in slowest.items()}
        compact["n_queries_omitted"] = len(times) - len(slowest)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()

if __name__ == "__main__":
    main()
