"""Live change feed + streaming RIB materialization (SURVEY.md §2.7).

The reference's feed is an in-process broadcast channel (capacity 2,
lossy; src/bgprib.rs:839, 1045-1052) consumed by WebSocket subscribers
whose per-client filter is parsed but NEVER applied — only the rib name
gates events (src/subscriber.rs:62-95, 123-127). Here the feed is a
Structured Streaming DataFrame:

- ``subscribe`` applies the rib gate, and — as a documented superset of
  the reference — can actually apply the subscriber's filter string using
  the same 3-valued compiler the batch path uses (ST2).
- ``run_ingest`` is ST4: micro-batch append of normalized history rows
  via ``foreachBatch`` re-using the batch ``build_history`` on each
  micro-batch — the single-writer thread (U10) replaced by per-key
  event-time ordering. Exactly-once into the parquet table comes from the
  checkpoointed sink; analytic views (current_state etc.) run on the
  table, which is the batch-first stance of SURVEY §7.
- ``windowed_update_rates`` shows the event-time/watermark capability the
  reference lacks entirely (ST3: "None"), strictly more capable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bgpexplorer_spark.filterlang.compile import matches
from bgpexplorer_spark.schemas import UPDATES_SCHEMA

def stream_updates_from_files(spark: SparkSession, path: str) -> DataFrame:
    """File-based updates stream (the test/dev ingest adapter standing in
    for the S1/S2 network sources; Kafka would be
    ``readStream.format('kafka')`` with the same downstream)."""
    return spark.readStream.schema(UPDATES_SCHEMA).parquet(path)

def subscribe(
    updates: DataFrame, rib: str, filter_str: str | None = None,
    apply_filter: bool = True,
) -> DataFrame:
    """ST2 — per-subscriber event stream. ``apply_filter=False``
    reproduces the reference's actual behavior (filter stored, never
    applied); True is the superset that honors it."""
    out = updates.filter(F.col("rib") == rib)
    if filter_str and apply_filter:
        from bgpexplorer_spark.functions.codecs import aspath_flatten

        out = (
            out.withColumn("aspath_flat", aspath_flatten(F.col("aspath")))
            .filter(matches(filter_str, rib))
            .drop("aspath_flat")
        )
    return out

def run_ingest(
    updates: DataFrame, table_path: str, checkpoint: str,
    history_mode: str = "every",
    feed=None,
    service=None,
    processing_time: str | None = None,
) -> "StreamingQuery":  # noqa: F821
    """ST4 — materialize the stream into the partitioned rib_history
    table. Each micro-batch is normalized by the SAME build_history used
    in batch (tombstones resolved within the batch; cross-batch tombstone
    resolution happens in the analytic views over the full table).

    ``feed``: an optional ``wsfeed.LiveFeed`` — each micro-batch is also
    fanned out to WebSocket subscribers, the analog of the reference
    publishing BgpEvents from the RIB write path into the broadcast
    channel (src/bgprib.rs:1045-1052). Durability first: the parquet
    append commits before the (lossy-by-design) feed publish."""
    from bgpexplorer_spark.operators.ingest import build_history

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        hist = build_history(batch_df, history_mode=history_mode)
        (
            hist.withColumn("ts_date", F.to_date("ts"))
            .write.mode("append")
            .partitionBy("rib", "ts_date")
            .parquet(table_path)
        )
        if feed is not None:
            feed.publish_batch(batch_df)
        if service is not None:
            # new state landed: drop the serving layer's per-state memos
            # (analytics reports, maintained route counts)
            service.bump_state_version()

    w = updates.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    # availableNow (drain-and-stop) for batch-style runs; a live daemon
    # passes processing_time for a continuous micro-batch cadence
    if processing_time is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=processing_time)
    return w.start()

def windowed_update_rates(
    updates: DataFrame, window: str = "1 minute", watermark: str = "5 minutes"
) -> DataFrame:
    """ST3 superset — event-time tumbling-window update/withdraw rates
    with late-data handling (the reference has no event-time at all)."""
    return (
        updates.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("rib"))
        .agg(
            F.sum(F.when(F.col("op") == "update", 1).otherwise(0)).alias("updates"),
            F.sum(F.when(F.col("op") == "withdraw", 1).otherwise(0)).alias("withdraws"),
        )
    )

def windowed_prefix_churn(
    updates: DataFrame, window: str = "1 minute", watermark: str = "5 minutes"
) -> DataFrame:
    """Streaming analog of operators/analytics.prefix_churn: per-prefix
    announce/withdraw counts per event-time tumbling window. Flip
    detection needs per-key ordered history, so it stays a batch/state
    concern; the windowed counts are what a live dashboard plots. Same
    incremental aggregation shape as windowed_update_rates — keyed by
    (window, rib, nlri_str), map-side combinable."""
    return (
        updates.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("rib"), F.col("nlri_str"))
        .agg(
            F.sum(F.when(F.col("op") == "update", 1).otherwise(0)).alias("updates"),
            F.sum(F.when(F.col("op") == "withdraw", 1).otherwise(0)).alias("withdraws"),
        )
    )

def live_key_counts(
    updates: DataFrame, window: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-window per-key event counts — the streaming-safe half of
    heavy-hitter detection. Incremental windowed aggregation keyed by
    (window, rib, nlri_str), map-side combinable, watermark-bounded
    state; works identically on a batch frame (no watermark applied).
    Ranking needs the window CLOSED, so it stays a finishing step
    (:func:`heavy_hitters`) run on the emitted counts — the same
    split as live_rpki_rates' verdict join."""
    src = updates
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return src.groupBy(
        F.window("ts", window).alias("win"), "rib", "nlri_str"
    ).agg(F.count(F.lit(1)).alias("n_updates"))


def heavy_hitters(
    counts: DataFrame, k: int = 10, min_share: float = 0.0
) -> DataFrame:
    """Finish :func:`live_key_counts` into per-window heavy hitters:
    keys ranked by count inside each window, kept while rank ≤ k AND
    share ≥ ``min_share`` (the φ of the classic φ-heavy-hitter
    definition — a key flooding ≥ φ of a window's updates is the
    prefix-flap / deaggregation-storm alarm). One window partition for
    the total and the rank — the window total via a window-partitioned
    sum shares the rank's Exchange (partition key is a prefix of the
    sort key's partitioning)."""
    w_tot = Window.partitionBy("win")
    w_rank = Window.partitionBy("win").orderBy(
        F.col("n_updates").desc(), "rib", "nlri_str"
    )
    return (
        counts.withColumn("_tot", F.sum("n_updates").over(w_tot))
        .withColumn("share", F.round(F.col("n_updates") / F.col("_tot"), 4))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter((F.col("rank") <= k) & (F.col("share") >= min_share))
        .select(
            F.col("win.start").alias("win_start"),
            "rib", "nlri_str", "n_updates", "share", "rank",
        )
    )


def live_current_state_agg(updates: DataFrame) -> DataFrame:
    """JVM-native variant of :func:`live_current_state`: the keyed
    latest-(ts, active) upsert expressed as a BUILT-IN streaming
    ``max_by`` aggregation — state lives JVM-side, no per-key Python
    crossing, so the state path runs at native aggregation throughput
    (measured ~5-10× the applyInPandasWithState variant; see bench's
    streaming section).

    Semantics caveat, documented deliberately: when two arrivals of the
    same key carry the SAME timestamp inside one batch, the built-in
    aggregate has no arrival order to break the tie with — the
    applyInPandasWithState variant preserves the reference's
    later-arrival-wins (src/bgprib.rs BTreeMap insert). Live feeds
    timestamp at ingest with microsecond resolution, so equal-ts
    same-key arrivals are a replay artifact; use the faithful variant
    when exact replay equivalence matters and this one for throughput."""
    latest = F.max_by(
        F.struct(F.col("ts"), (F.col("op") == "update").alias("active")),
        F.col("ts"),
    )
    return (
        updates.groupBy("rib", "nlri_str", "session_id", "path_id")
        .agg(latest.alias("_l"))
        .select(
            "rib", "nlri_str", "session_id", "path_id",
            F.col("_l.ts").alias("ts"), F.col("_l.active").alias("active"),
        )
    )


def live_current_state(updates: DataFrame) -> DataFrame:
    """ST4 (true-streaming variant) — the RIB current-state view kept as
    STREAMING STATE rather than recomputed from the table: one state
    entry per history key (rib, nlri, session, path) holding the latest
    (ts, active); each micro-batch emits the keys it changed, exactly the
    reference's upsert semantics (src/bgprib.rs:623-683) with withdraw
    tombstones as active=false.

    applyInPandasWithState is the documented escape hatch for operators
    Spark's built-ins can't express (a keyed upsert that must OUTLIVE the
    batch); the per-key payload is tiny (16 bytes) so state scales to the
    DFZ-size key space. The batch-first path (run_ingest + analytic
    views) remains the primary stance — this powers low-latency
    subscriber feeds that need current state without a table scan.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "rib string, nlri_str string, session_id int, path_id bigint, "
        "ts timestamp, active boolean"
    )
    state_schema = "ts_us bigint, active boolean"

    # one template row copied per key: pd.DataFrame construction is
    # ~250 µs, template.copy()+iat ~70 µs — at one emit PER KEY PER
    # BATCH this is the state path's dominant cost
    _tmpl = pd.DataFrame(
        [{
            "rib": "", "nlri_str": "", "session_id": 0, "path_id": 0,
            "ts": pd.Timestamp(0, unit="us"), "active": False,
        }]
    )

    def upsert(key, pdfs, state: GroupState):
        ts_us, active = state.get if state.exists else (None, None)
        for pdf in pdfs:
            if pdf.empty:
                continue
            # last max ts wins (same-timestamp later arrival wins, like
            # the BTreeMap insert): reversed argmax beats a full sort
            v = pdf["ts"].to_numpy("datetime64[ns]").astype("int64")
            i = len(v) - 1 - int(v[::-1].argmax())
            t = int(v[i]) // 1000
            if ts_us is None or t >= ts_us:
                ts_us, active = t, pdf["op"].iat[i] == "update"
        state.update((int(ts_us), bool(active)))
        rib, nlri, sid, pid = key
        out = _tmpl.copy()
        out.iat[0, 0] = rib
        out.iat[0, 1] = nlri
        out.iat[0, 2] = sid
        out.iat[0, 3] = pid
        out.iat[0, 4] = pd.Timestamp(ts_us, unit="us")
        out.iat[0, 5] = bool(active)
        yield out

    return updates.groupBy(
        "rib", "nlri_str", "session_id", "path_id"
    ).applyInPandasWithState(
        upsert, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )

def _damping_fold(penalty, last_us, announced, flaps,
                  ts_us, wd, lam, flap_penalty):
    """One micro-batch of the RFC 2439 fold, vectorized: ``ts_us`` is the
    ascending-sorted event times (µs), ``wd`` the is-withdrawal mask.
    Exponential decay composes, so the sequential "decay to each event,
    add at counted withdrawals" loop equals one decay of the entry
    penalty to the batch end plus one flap_penalty decayed from each
    counted withdrawal to the batch end; "counted" (withdrawal while
    announced) is a shift-compare because the announced flag after event
    i is just ``not wd[i]``. Returns (penalty, last_us, announced,
    flaps). Property-tested equal to the event-at-a-time fold."""
    import math

    import numpy as np

    announced_before = np.empty(len(wd), dtype=bool)
    announced_before[0] = announced
    announced_before[1:] = ~wd[:-1]
    counted = wd & announced_before
    # events never rewind the clock: a late event older than the stored
    # last_us neither decays nor advances it (same max() as the
    # sequential fold)
    eff = ts_us if last_us is None else np.maximum(ts_us, last_us)
    t_end = int(eff[-1])
    if last_us is not None:
        penalty *= math.exp(-lam * (t_end - last_us) / 1e6)
    penalty += flap_penalty * float(
        np.exp(-lam * (t_end - eff[counted]) / 1e6).sum()
    )
    return (
        float(penalty), t_end, not bool(wd[-1]), flaps + int(counted.sum())
    )


def live_flap_damping(
    updates: DataFrame,
    half_life_sec: float = 900.0,
    flap_penalty: float = 1000.0,
    suppress_threshold: float = 2000.0,
    reuse_threshold: float = 750.0,
) -> DataFrame:
    """Streaming RFC 2439 flap damping — the live counterpart of
    ``analytics.flap_damping``: per-(rib, nlri) state holds (penalty,
    last event time, was-announced); each micro-batch decays the stored
    penalty to the batch's newest event, adds ``flap_penalty`` per
    withdrawal-after-announce, and emits the prefix's current figure
    with suppress/reuse classification. State is 3 small scalars per
    prefix, so the keyed store scales to the DFZ.

    applyInPandasWithState is the documented escape hatch for operators
    the built-ins can't express — an exponentially-decayed accumulator
    must OUTLIVE the batch (windowed aggs can't carry it).

    The fold is VECTORIZED (no per-row Python in the state path):
    exponential decay composes, so the sequential "decay to each event,
    add penalty at counted withdrawals" loop equals one decay of the
    entry penalty to the batch end plus, per counted withdrawal, one
    flap_penalty decayed from that event to the batch end — and "counted"
    (withdrawal while announced) is a shift-compare on the op sequence
    because the announced flag after event i is just op_i == 'update'.
    On a flap storm this is one numpy pass per key per batch instead of
    a Python loop over every event."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    lam = math.log(2.0) / float(half_life_sec)
    out_schema = (
        "rib string, nlri_str string, n_flaps bigint, penalty double, "
        "suppressed boolean, reusable boolean, ts timestamp"
    )
    state_schema = "penalty double, last_us bigint, announced boolean, flaps bigint"

    # template-copy output (see live_current_state): the per-key
    # DataFrame construction dominates the state path's per-key cost
    _tmpl = pd.DataFrame(
        [{
            "rib": "", "nlri_str": "", "n_flaps": 0, "penalty": 0.0,
            "suppressed": False, "reusable": False,
            "ts": pd.Timestamp(0, unit="us"),
        }]
    )

    def step(key, pdfs, state: GroupState):
        if state.exists:
            penalty, last_us, announced, flaps = state.get
        else:
            penalty, last_us, announced, flaps = 0.0, None, False, 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        ts_us = rows["ts"].to_numpy("datetime64[ns]").astype("int64") // 1000
        wd = rows["op"].to_numpy() == "withdraw"
        if len(ts_us) > 1 and (ts_us[1:] < ts_us[:-1]).any():
            order = ts_us.argsort(kind="stable")
            ts_us, wd = ts_us[order], wd[order]
        penalty, last_us, announced, flaps = _damping_fold(
            penalty, last_us, announced, flaps, ts_us, wd, lam, flap_penalty
        )
        state.update((float(penalty), int(last_us), bool(announced), int(flaps)))
        rib, nlri = key
        out = _tmpl.copy()
        out.iat[0, 0] = rib
        out.iat[0, 1] = nlri
        out.iat[0, 2] = flaps
        out.iat[0, 3] = round(penalty, 4)
        out.iat[0, 4] = bool(penalty >= suppress_threshold)
        out.iat[0, 5] = bool(penalty < reuse_threshold)
        out.iat[0, 6] = pd.Timestamp(last_us, unit="us")
        yield out

    return updates.groupBy("rib", "nlri_str").applyInPandasWithState(
        step, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _require_tws_runtime() -> None:
    """Spark's state-v2 Python runner (TransformWithStateInPySpark)
    speaks protobuf to the JVM — without ``google.protobuf`` the
    streaming driver worker CRASHES mid-query
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE, observed r11).
    Fail at BUILD time with a diagnosis instead."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas requires the google.protobuf "
            "runtime (Spark's state-v2 Python runner); it is not "
            "installed in this environment — use live_current_state / "
            "live_flap_damping (applyInPandasWithState), the default "
            "reference paths"
        ) from e


def live_current_state_tws(updates: DataFrame) -> DataFrame:
    """state-v2 (Spark 4 ``transformWithStateInPandas``) variant of
    :func:`live_current_state` — same keyed upsert semantics, same
    output schema, state held in a named ValueState instead of the
    GroupState tuple. Requires the RocksDB state store provider
    (session knob ``SPARK_GRAFT_STATE_STORE=rocksdb``; the v2 API is
    RocksDB-only by design) AND the google.protobuf runtime
    (:func:`_require_tws_runtime`) — the latter is absent in this
    container, so the r10-ask-#7 A/B is import-gated, one dependency
    away: see ARCHITECTURE.md r11 for the decision paragraph. The
    applyInPandasWithState form stays the default/reference path."""
    _require_tws_runtime()
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = (
        "rib string, nlri_str string, session_id int, path_id bigint, "
        "ts timestamp, active boolean"
    )

    _tmpl = pd.DataFrame(
        [{
            "rib": "", "nlri_str": "", "session_id": 0, "path_id": 0,
            "ts": pd.Timestamp(0, unit="us"), "active": False,
        }]
    )

    class Upsert(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._latest = handle.getValueState(
                "latest", "ts_us bigint, active boolean"
            )

        def handleInputRows(self, key, rows, timerValues):
            got = self._latest.get() if self._latest.exists() else None
            ts_us, active = got if got is not None else (None, None)
            for pdf in rows:
                if pdf.empty:
                    continue
                v = pdf["ts"].to_numpy("datetime64[ns]").astype("int64")
                i = len(v) - 1 - int(v[::-1].argmax())
                t = int(v[i]) // 1000
                if ts_us is None or t >= ts_us:
                    ts_us, active = t, pdf["op"].iat[i] == "update"
            self._latest.update((int(ts_us), bool(active)))
            rib, nlri, sid, pid = key
            out = _tmpl.copy()
            out.iat[0, 0] = rib
            out.iat[0, 1] = nlri
            out.iat[0, 2] = sid
            out.iat[0, 3] = pid
            out.iat[0, 4] = pd.Timestamp(ts_us, unit="us")
            out.iat[0, 5] = bool(active)
            yield out

        def close(self) -> None:
            pass

    return updates.groupBy(
        "rib", "nlri_str", "session_id", "path_id"
    ).transformWithStateInPandas(
        Upsert(), out_schema, "Update", "None"
    )


def live_flap_damping_tws(
    updates: DataFrame,
    half_life_sec: float = 900.0,
    flap_penalty: float = 1000.0,
    suppress_threshold: float = 2000.0,
    reuse_threshold: float = 750.0,
) -> DataFrame:
    """state-v2 variant of :func:`live_flap_damping` (same vectorized
    RFC 2439 fold, ValueState instead of GroupState; RocksDB-only,
    import-gated on google.protobuf). See
    :func:`live_current_state_tws` for why both exist."""
    _require_tws_runtime()
    import math

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    lam = math.log(2.0) / float(half_life_sec)
    out_schema = (
        "rib string, nlri_str string, n_flaps bigint, penalty double, "
        "suppressed boolean, reusable boolean, ts timestamp"
    )
    _tmpl = pd.DataFrame(
        [{
            "rib": "", "nlri_str": "", "n_flaps": 0, "penalty": 0.0,
            "suppressed": False, "reusable": False,
            "ts": pd.Timestamp(0, unit="us"),
        }]
    )

    class Damp(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "damp", "penalty double, last_us bigint, announced boolean, flaps bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            got = self._st.get() if self._st.exists() else None
            penalty, last_us, announced, flaps = (
                got if got is not None else (0.0, None, False, 0)
            )
            pdfs = pd.concat(list(rows), ignore_index=True)
            if pdfs.empty:
                return
            ts_us = pdfs["ts"].to_numpy("datetime64[ns]").astype("int64") // 1000
            wd = pdfs["op"].to_numpy() == "withdraw"
            if len(ts_us) > 1 and (ts_us[1:] < ts_us[:-1]).any():
                order = ts_us.argsort(kind="stable")
                ts_us, wd = ts_us[order], wd[order]
            penalty, last_us, announced, flaps = _damping_fold(
                penalty, last_us, announced, flaps, ts_us, wd, lam, flap_penalty
            )
            self._st.update(
                (float(penalty), int(last_us), bool(announced), int(flaps))
            )
            rib, nlri = key
            out = _tmpl.copy()
            out.iat[0, 0] = rib
            out.iat[0, 1] = nlri
            out.iat[0, 2] = flaps
            out.iat[0, 3] = round(penalty, 4)
            out.iat[0, 4] = bool(penalty >= suppress_threshold)
            out.iat[0, 5] = bool(penalty < reuse_threshold)
            out.iat[0, 6] = pd.Timestamp(last_us, unit="us")
            yield out

        def close(self) -> None:
            pass

    return updates.groupBy("rib", "nlri_str").transformWithStateInPandas(
        Damp(), out_schema, "Update", "None"
    )


FLAP_STATE_SCHEMA = (
    "rib string, nlri_str string, penalty double, last_us bigint, "
    "announced boolean, flaps bigint"
)


def flap_damping_increment(
    state_df: DataFrame,
    batch: DataFrame,
    half_life_sec: float = 900.0,
    flap_penalty: float = 1000.0,
    suppress_threshold: float = 2000.0,
    reuse_threshold: float = 750.0,
) -> DataFrame:
    """One micro-batch of RFC 2439 damping as a PURE JVM batch-to-batch
    fold — the incremental formulation of ``analytics.flap_damping``'s
    closed-form decay, with no per-key Python crossing (the
    applyInPandasWithState path's ~190 µs/key/batch floor).

    ``state_df`` rows are FLAP_STATE_SCHEMA; the return value is the
    UPDATED state for every key the batch touched (same schema plus the
    derived n_flaps/suppressed/reusable/ts output columns). The math
    mirrors ``_damping_fold`` exactly: sort the key's batch events,
    clamp each event time to the stored ``last_us`` (late events never
    rewind the clock), decay the entry penalty to the batch end, and add
    one ``flap_penalty`` decayed from each counted withdrawal
    (withdrawal-while-announced, a shift-compare on the sorted op
    sequence seeded by the stored ``announced`` flag).

    One shuffle (the per-key collect_list) + one co-keyed join with the
    state table; everything after is array expressions inside
    whole-stage codegen, so throughput scales with JVM batch speed, not
    key count × Python crossing."""
    import math

    lam = math.log(2.0) / float(half_life_sec)
    ev = (
        batch.select(
            "rib", "nlri_str",
            F.unix_micros("ts").alias("ts_us"),
            (F.col("op") == "withdraw").alias("wd"),
        )
        .groupBy("rib", "nlri_str")
        .agg(F.array_sort(F.collect_list(F.struct("ts_us", "wd"))).alias("ev"))
    )
    j = ev.join(state_df, ["rib", "nlri_str"], "left")
    # counted[i]: withdrawal while announced; announced-before-first is
    # the carried state flag (false for a never-seen key)
    j = j.withColumn(
        "_counted",
        F.expr(
            "transform(ev, (x, i) -> x.wd AND (CASE WHEN i = 0 "
            "THEN coalesce(announced, false) "
            "ELSE NOT element_at(ev, i).wd END))"
        ),
    ).withColumn(
        "_t_end",
        F.greatest(F.expr("element_at(ev, -1).ts_us"), F.col("last_us")),
    )
    decayed_adds = F.expr(
        "aggregate(zip_with(ev, _counted, (e, c) -> "
        "struct(e.ts_us AS ts_us, c AS c)), CAST(0.0 AS DOUBLE), "
        f"(acc, y) -> acc + (CASE WHEN y.c THEN exp(-{lam!r} * "
        "(_t_end - greatest(y.ts_us, coalesce(last_us, y.ts_us))) / 1e6) "
        "ELSE CAST(0.0 AS DOUBLE) END))"
    )
    new_penalty = (
        F.when(
            F.col("last_us").isNotNull(),
            F.col("penalty")
            * F.exp(F.lit(-lam) * (F.col("_t_end") - F.col("last_us")) / F.lit(1e6)),
        ).otherwise(F.lit(0.0))
        + F.lit(float(flap_penalty)) * decayed_adds
    )
    n_counted = F.expr(
        "aggregate(_counted, 0L, (acc, c) -> acc + (CASE WHEN c THEN 1L ELSE 0L END))"
    )
    out = j.select(
        "rib", "nlri_str",
        # FULL precision into the carried state (the keyed-state path
        # rounds only for display; re-rounding each batch would drift
        # chained increments near the thresholds)
        new_penalty.alias("penalty_raw"),
        F.col("_t_end").alias("last_us"),
        # the stored flag only advances on in-order data: a batch whose
        # newest event predates the carried clock (out-of-order delivery)
        # must not overwrite `announced` with stale polarity
        F.when(
            F.expr("element_at(ev, -1).ts_us")
            >= F.coalesce(F.col("last_us"), F.lit(0)),
            F.expr("NOT element_at(ev, -1).wd"),
        ).otherwise(F.col("announced")).alias("announced"),
        (F.coalesce(F.col("flaps"), F.lit(0)) + n_counted).alias("flaps"),
    )
    return out.select(
        "rib", "nlri_str",
        F.col("flaps").alias("n_flaps"),
        F.round("penalty_raw", 4).alias("penalty"),
        (F.col("penalty_raw") >= suppress_threshold).alias("suppressed"),
        (F.col("penalty_raw") < reuse_threshold).alias("reusable"),
        F.timestamp_micros("last_us").alias("ts"),
        "penalty_raw", "last_us", "announced", "flaps",
    )


def _checkpoint_query_id(spark: SparkSession, checkpoint: str) -> str | None:
    """The streaming query id from the checkpoint's own metadata — stable
    across same-checkpoint restarts, NEW when the checkpoint dir is
    wiped/recreated (epochs renumber then). The path alone can't tell
    those apart. Local checkpoints read directly; non-local URIs
    (hdfs://, s3a://) go through the session's Hadoop filesystem.
    Returns None when the metadata can't be read (no lineage claim)."""
    import json as _json
    import os as _os

    meta = _os.path.join(checkpoint, "metadata")
    try:
        with open(meta, encoding="utf-8") as f:
            return _json.load(f)["id"]
    except Exception:  # noqa: BLE001 — not a local path; try Hadoop FS
        try:
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(meta)
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            stream = fs.open(p)
            try:
                text = jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
            return _json.loads(text)["id"]
        except Exception:  # noqa: BLE001 — no metadata → no lineage claim
            return None


def run_flap_damping_incremental(
    updates: DataFrame,
    checkpoint: str,
    half_life_sec: float = 900.0,
    flap_penalty: float = 1000.0,
    suppress_threshold: float = 2000.0,
    reuse_threshold: float = 750.0,
    on_batch=None,
    state_dir: str | None = None,
):
    """Streaming RFC 2439 damping via foreachBatch + the JVM-native
    incremental fold — the high-throughput alternative to
    ``live_flap_damping`` (which stays as the keyed-state formulation).

    Per micro-batch: fold the batch into the carried state table with
    :func:`flap_damping_increment` (localCheckpointed ONCE — the fold is
    reused by the state merge, the anti-join and ``on_batch``), merge
    into the carried state (O(state keys) per batch — the cost traded
    against the state path's O(keys × Python crossing)), and hand the
    batch's updated figures to ``on_batch``. With ``state_dir`` the
    merged state is also persisted each batch under versioned subdirs
    with an atomic CURRENT marker (a crash mid-write never destroys the
    previous durable copy), and a restarted query RESTORES the carried
    state from it — the restart durability the built-in state store
    gives the keyed path. foreachBatch is at-least-once and the state is
    persisted BEFORE Spark commits the epoch to the streaming
    checkpoint, so a same-checkpoint restart that REPLAYS the last epoch
    onto state that already folded it skips the fold (idempotent per
    epoch; the persisted CKPT file scopes the epoch comparison to one
    checkpoint lineage)."""
    import os
    import shutil

    _lineage_cache: list = []  # [id-or-None]; the query id never changes

    def _lineage_id(spark: SparkSession) -> str | None:
        """Cached wrapper over :func:`_checkpoint_query_id` — the id is
        immutable for the query's lifetime, so the first SUCCESSFUL read
        is cached. A failed read is NOT cached: it is retried on the
        next call, so one transient metadata-read hiccup doesn't strip
        replay protection for the rest of the query."""
        if _lineage_cache:
            return _lineage_cache[0]
        lineage = _checkpoint_query_id(spark, checkpoint)
        if lineage is not None:
            _lineage_cache.append(lineage)
        return lineage

    def _persist_state(new_state: DataFrame, epoch_id: int) -> None:
        version = f"v{epoch_id}"
        os.makedirs(state_dir, exist_ok=True)
        vdir = os.path.join(state_dir, version)
        new_state.write.mode("overwrite").parquet(vdir)
        # the lineage id lives INSIDE the version dir, before the marker
        # flip — marker and lineage can never disagree (the old marker
        # keeps pointing at the old vdir with its own _LINEAGE)
        lineage = _lineage_id(new_state.sparkSession)
        wrote_lineage = False
        if lineage is not None:
            with open(os.path.join(vdir, "_LINEAGE"), "w", encoding="ascii") as f:
                f.write(lineage)
            wrote_lineage = True
        marker = os.path.join(state_dir, "CURRENT")
        prev = None
        try:
            with open(marker, encoding="ascii") as f:
                prev = f.read().strip()
        except OSError:
            pass
        tmp = f"{marker}.part-{epoch_id}"
        with open(tmp, "w", encoding="ascii") as f:
            f.write(version)
        os.replace(tmp, marker)  # commit point
        for d in os.listdir(state_dir):
            if d.startswith("v") and d not in (version, prev):
                shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)
        if wrote_lineage:
            # retire the pre-_LINEAGE layout's marker ONLY once the new
            # version dir actually carries a _LINEAGE file — if the
            # metadata read failed this batch, CKPT stays as the sole
            # remaining replay guard for a same-checkpoint restart
            try:
                os.remove(os.path.join(state_dir, "CKPT"))
            except OSError:
                pass

    def _restore_state(spark: SparkSession) -> tuple[DataFrame, int] | None:
        """(state df, last folded epoch) — epoch is -1 when the persisted
        state came from a DIFFERENT streaming query lineage (fresh or
        recreated checkpoint renumbers epochs from 0, so the ids aren't
        comparable and every incoming epoch must fold)."""
        if state_dir is None:
            return None
        try:
            with open(os.path.join(state_dir, "CURRENT"), encoding="ascii") as f:
                current = f.read().strip()
            vdir = os.path.join(state_dir, current)
            df = spark.read.parquet(vdir).select(
                "rib", "nlri_str", "penalty", "last_us", "announced", "flaps"
            )
            epoch = -1
            try:
                with open(os.path.join(vdir, "_LINEAGE"), encoding="ascii") as f:
                    stored = f.read().strip()
                if stored and stored == _lineage_id(spark):
                    epoch = int(current[1:])
            except OSError:
                # migration: state persisted by the pre-_LINEAGE layout
                # recorded the checkpoint PATH in a CKPT file — honor it
                # (same-path = same lineage was that layout's contract)
                try:
                    with open(os.path.join(state_dir, "CKPT"), encoding="utf-8") as f:
                        if f.read().strip() == os.path.abspath(checkpoint):
                            epoch = int(current[1:])
                except OSError:
                    pass
            return df, epoch
        except Exception:  # noqa: BLE001 — no durable state yet
            return None

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        st = getattr(sink, "_state", None)
        if st is None:
            restored = _restore_state(spark)
            if restored is not None:
                st, restored_epoch = restored
                if epoch_id <= restored_epoch:
                    # foreachBatch is at-least-once: the state for this
                    # epoch was persisted but the crash hit before the
                    # streaming checkpoint committed, so the epoch is
                    # replayed onto state that ALREADY folded it. Folding
                    # again would double-count penalty/flaps — skip the
                    # fold and re-emit the batch keys' persisted figures
                    # instead (idempotent per epoch).
                    sink._state = st.localCheckpoint(eager=True)
                    if on_batch is not None:
                        on_batch(
                            sink._state
                            .join(
                                batch_df.select("rib", "nlri_str").distinct(),
                                ["rib", "nlri_str"],
                            )
                            .select(
                                "rib", "nlri_str",
                                F.col("flaps").alias("n_flaps"),
                                F.round("penalty", 4).alias("penalty"),
                                (F.col("penalty") >= suppress_threshold)
                                .alias("suppressed"),
                                (F.col("penalty") < reuse_threshold)
                                .alias("reusable"),
                                F.timestamp_micros("last_us").alias("ts"),
                            )
                        )
                    return
        if st is None:
            st = spark.createDataFrame([], FLAP_STATE_SCHEMA)
        changed = flap_damping_increment(
            st, batch_df, half_life_sec, flap_penalty,
            suppress_threshold, reuse_threshold,
        ).localCheckpoint(eager=True)
        new_state = (
            changed.select(
                "rib", "nlri_str",
                F.col("penalty_raw").alias("penalty"),
                "last_us", "announced", "flaps",
            )
            .unionByName(
                st.join(changed, ["rib", "nlri_str"], "left_anti")
            )
            .localCheckpoint(eager=True)
        )
        sink._state = new_state
        if state_dir is not None:
            _persist_state(new_state, epoch_id)
        if on_batch is not None:
            on_batch(
                changed.select(
                    "rib", "nlri_str", "n_flaps", "penalty",
                    "suppressed", "reusable", "ts",
                )
            )

    return (
        updates.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def live_exact_dedup(
    updates: DataFrame,
    keys: tuple = ("rib", "nlri_str", "session_id", "path_id", "ts"),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — drop redundant re-deliveries of the same
    update inside the watermark horizon (the streaming face of U3's
    differ dedup and the standard at-least-once-source cleanup: a BMP
    session replay or an MRT re-read must not double-apply).

    Uses ``dropDuplicatesWithinWatermark`` so the dedup state is
    bounded: a key is remembered only until the watermark passes it,
    i.e. state size tracks the event-time horizon, not the stream
    length — the property that keeps this runnable forever at
    100 TB/day. Works unchanged in batch mode (falls back to plain
    dropDuplicates semantics over the bounded input).
    """
    wm = updates.withWatermark("ts", watermark)
    if updates.isStreaming:
        return wm.dropDuplicatesWithinWatermark(list(keys))
    return updates.dropDuplicates(list(keys))


def live_moas_alerts(
    updates: DataFrame, window: str = "10 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Live Multiple-Origin-AS alerting — the streaming analog of
    operators/analytics.moas_conflicts: per event-time tumbling window,
    prefixes announced with ≥ 2 distinct origin ASes (the classic
    hijack/leak alarm a live BGP monitor exists to raise).

    Incremental windowed aggregation keyed by (window, rib, nlri_str);
    collect_set is bounded by the real origin diversity of a prefix
    (single digits even under a hijack), and the watermark bounds
    state. Works identically on a batch frame (no watermark applied),
    which is what the oracle verifies."""
    from bgpexplorer_spark.functions.codecs import aspath_flatten
    from bgpexplorer_spark.operators.analytics import origin_as

    src = updates.filter(F.col("op") == "update").select(
        "ts", "rib", "nlri_str",
        origin_as(aspath_flatten(F.col("aspath"))).alias("origin_as"),
    ).filter(F.col("origin_as").isNotNull())
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    g = src.groupBy(F.window("ts", window).alias("win"), "rib", "nlri_str").agg(
        F.array_sort(F.collect_set("origin_as")).alias("origins"),
        F.count(F.lit(1)).alias("n_updates"),
    )
    return g.filter(F.size("origins") >= 2).select(
        F.col("win.start").alias("win_start"),
        "rib", "nlri_str", "origins",
        F.size("origins").alias("n_origins"), "n_updates",
    )


def live_rpki_rates(
    updates: DataFrame,
    roas: DataFrame,
    roa_plens: list[int],
    window: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Live RFC 6811 validity mix: per event-time window, how many
    announced v4 routes were Valid / Invalid / NotFound against the
    (static) ROA table — the "are we suddenly propagating invalids"
    monitor.

    Streaming-safe by construction: the batch validator's per-route
    ``max(ok)`` aggregation is replaced by one broadcast LEFT JOIN PER
    ROA PREFIX LENGTH against per-(net, plen) ROA lists pre-aggregated
    on the static side, with the verdict an ``exists`` over the joined
    lists — so the only stateful operator in the plan is the final
    windowed count. ``roa_plens`` is required (a stream cannot run the
    discovery action). len(roa_plens) is ~15 for the real v4 table;
    each join is against a broadcast dim."""
    from functools import reduce

    from bgpexplorer_spark.functions.codecs import aspath_flatten
    from bgpexplorer_spark.operators.analytics import origin_as

    src = updates.filter(
        (F.col("op") == "update") & F.col("addr_v4").isNotNull()
    ).select(
        "ts", "addr_v4", "prefixlen",
        origin_as(aspath_flatten(F.col("aspath"))).alias("origin_as"),
    )
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    roa_sets = roas.groupBy("net", "plen").agg(
        F.collect_list(F.struct("max_len", "asn")).alias("_rl")
    )
    cur = src
    covered = []
    oks = []
    for pl in sorted(roa_plens):
        span = 2 ** (32 - pl)
        net = (F.floor(F.col("addr_v4") / span).cast("bigint") * span)
        rs = roa_sets.filter(F.col("plen") == pl).select(
            F.col("net").alias(f"_net{pl}"), F.col("_rl").alias(f"_rl{pl}")
        )
        cur = cur.withColumn(
            f"_net{pl}", F.when(F.col("prefixlen") >= pl, net)
        ).join(F.broadcast(rs), f"_net{pl}", "left")
        covered.append(F.col(f"_rl{pl}").isNotNull())
        oks.append(
            F.coalesce(
                F.exists(
                    F.col(f"_rl{pl}"),
                    lambda x: (F.col("prefixlen") <= x["max_len"])
                    & (F.col("origin_as") == x["asn"]),
                ),
                F.lit(False),
            )
        )
    is_cov = reduce(lambda a, b: a | b, covered)
    is_ok = reduce(lambda a, b: a | b, oks)
    validity = (
        F.when(~is_cov, "NotFound").when(is_ok, "Valid").otherwise("Invalid")
    )
    return (
        cur.select("ts", validity.alias("validity"))
        .groupBy(F.window("ts", window).alias("win"))
        .agg(
            F.sum(F.when(F.col("validity") == "Valid", 1).otherwise(0)).alias("n_valid"),
            F.sum(F.when(F.col("validity") == "Invalid", 1).otherwise(0)).alias("n_invalid"),
            F.sum(F.when(F.col("validity") == "NotFound", 1).otherwise(0)).alias("n_notfound"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "n_valid", "n_invalid", "n_notfound", "n_total",
        )
    )
