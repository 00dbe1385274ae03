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
  checkpointed sink; analytic views (current_state etc.) run on the
  table, which is the batch-first stance of SURVEY §7.
- ``live_current_state`` keeps the current-state view as keyed streaming
  state (later arrival wins a same-timestamp tie, like the reference's
  BTreeMap insert).
- ``windowed_update_rates`` and the other ``windowed_*`` / ``live_*``
  aggregates show the event-time/watermark capability the reference
  lacks entirely (ST3: "None"). Flap damping is batch-only
  (``analytics.flap_damping``, served at ``/api/analytics/damping``).
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
            # (analytics reports, the served copy and its route index)
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
