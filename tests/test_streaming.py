"""Streaming surface — ST1/ST2 feed, ST4 ingest, ST3 windows
(SURVEY §2.7)."""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import functions as F

from bgpexplorer_spark.operators.rib import current_state
from bgpexplorer_spark.schemas import UPDATES_SCHEMA
from bgpexplorer_spark.streaming.feed import (
    run_ingest,
    stream_updates_from_files,
    subscribe,
    windowed_update_rates,
)

from tests.ribdata import make_updates, u

def _updates_dir(spark, rows):
    d = tempfile.mkdtemp()
    make_updates(spark, rows).write.mode("overwrite").parquet(d)
    return d

def test_subscribe_rib_gate_and_filter(spark):
    d = _updates_dir(
        spark,
        [
            u("10.0.0.0/24", t=1, aspath=[("Seq", [100])]),
            u("11.0.0.0/24", t=2, aspath=[("Seq", [200])]),
            u("2c0a::/64", rib="ipv6u", t=3),
        ],
    )
    stream = stream_updates_from_files(spark, d)
    assert stream.isStreaming
    q = (
        subscribe(stream, "ipv4u", "as:100")
        .writeStream.format("memory").queryName("feed1").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    got = {r.nlri_str for r in spark.sql("SELECT nlri_str FROM feed1").collect()}
    assert got == {"10.0.0.0/24"}
    # reference-faithful mode: filter ignored, rib gate only
    q2 = (
        subscribe(stream, "ipv4u", "as:100", apply_filter=False)
        .writeStream.format("memory").queryName("feed2").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(60)
    got2 = {r.nlri_str for r in spark.sql("SELECT nlri_str FROM feed2").collect()}
    assert got2 == {"10.0.0.0/24", "11.0.0.0/24"}

def test_streaming_ingest_materializes_history(spark):
    d = _updates_dir(
        spark,
        [
            u("10.0.0.0/24", t=1, aspath=[("Seq", [100])]),
            u("10.0.0.0/24", t=2, op="withdraw"),
            u("10.0.1.0/24", t=3),
        ],
    )
    out = tempfile.mkdtemp()
    ck = tempfile.mkdtemp()
    stream = stream_updates_from_files(spark, d)
    q = run_ingest(stream, out + "/tbl", ck)
    q.awaitTermination(120)
    hist = spark.read.parquet(out + "/tbl")
    assert hist.count() == 3  # tombstone resolved within the micro-batch
    cur = current_state(hist.drop("ts_date"))
    assert {r.nlri_str for r in cur.select("nlri_str").collect()} == {"10.0.1.0/24"}

def test_windowed_update_rates(spark):
    d = _updates_dir(
        spark,
        [u("10.0.0.0/24", t=1), u("10.0.1.0/24", t=30), u("10.0.2.0/24", t=70),
         u("10.0.0.0/24", t=75, op="withdraw")],
    )
    stream = stream_updates_from_files(spark, d)
    # complete mode: append would hold windows open until the watermark
    # passes, and availableNow ends the stream before that
    q = (
        windowed_update_rates(stream)
        .writeStream.format("memory").queryName("rates").outputMode("complete")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM rates ORDER BY window").collect()
    per_window = {r.window.start.second + r.window.start.minute * 60: (r.updates, r.withdraws) for r in rows}
    assert per_window.get(0) == (2, 0)
    assert per_window.get(60) == (1, 1)

def test_live_current_state_stateful(spark):
    from bgpexplorer_spark.streaming.feed import live_current_state

    d = _updates_dir(
        spark,
        [
            u("10.0.0.0/24", t=1),
            u("10.0.0.0/24", t=5, op="withdraw"),   # latest for key → inactive
            u("10.0.1.0/24", t=2),
            u("10.0.1.0/24", t=3),                   # re-announce stays active
            u("10.0.2.0/24", t=4, session_id=7),
        ],
    )
    stream = stream_updates_from_files(spark, d)
    q = (
        live_current_state(stream)
        .writeStream.format("memory").queryName("livecs").outputMode("update")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {
        (r.nlri_str, r.session_id): (r.active, r.ts)
        for r in spark.sql("SELECT * FROM livecs").collect()
    }
    assert rows[("10.0.0.0/24", 0)][0] is False         # tombstoned
    assert rows[("10.0.1.0/24", 0)][0] is True          # latest update wins
    assert rows[("10.0.2.0/24", 7)][0] is True
    assert rows[("10.0.1.0/24", 0)][1].second == 3      # ts of newest entry

# --- S7: WebSocket live feed (src/subscriber.rs:58-137) ---------------------

def _ws_connect(port: int):
    import base64
    import socket

    s = socket.create_connection(("127.0.0.1", port), timeout=10)
    key = base64.b64encode(b"0123456789abcdef").decode()
    req = (
        "GET /api/ws HTTP/1.1\r\nHost: localhost\r\nUpgrade: websocket\r\n"
        f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
        "Sec-WebSocket-Version: 13\r\n\r\n"
    )
    s.sendall(req.encode())
    buf = b""
    while b"\r\n\r\n" not in buf:
        buf += s.recv(1024)
    status = buf.split(b"\r\n")[0]
    assert b"101" in status, status
    from bgpexplorer_spark.streaming.wsfeed import ws_accept_key

    assert ws_accept_key(key).encode() in buf
    return s

def _client_frame(payload: bytes, opcode: int = 0x1) -> bytes:
    import struct

    mask = b"\x01\x02\x03\x04"
    head = bytes([0x80 | opcode])
    n = len(payload)
    if n < 126:
        head += bytes([0x80 | n])
    else:
        head += bytes([0x80 | 126]) + struct.pack(">H", n)
    return head + mask + bytes(b ^ mask[i % 4] for i, b in enumerate(payload))

def _wait_for(cond, timeout=10.0):
    import time

    t0 = time.time()
    while time.time() - t0 < timeout:
        if cond():
            return True
        time.sleep(0.05)
    return False

def test_websocket_feed_e2e(spark):
    import json

    from bgpexplorer_spark.api import BgpExplorerService, serve
    from bgpexplorer_spark.operators.ingest import build_history
    from bgpexplorer_spark.streaming.wsfeed import read_frame

    hist = build_history(make_updates(spark, [u("10.0.0.0/24", t=1)])).cache()
    svc = BgpExplorerService(hist, route_counts={"ipv4u": 1})
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        s = _ws_connect(port)
        assert _wait_for(lambda: len(svc.feed._subs) == 1)

        # ping → pong with payload echo
        s.sendall(_client_frame(b"hello", 0x9))
        op, data = read_frame(s)
        assert (op, data) == (0xA, b"hello")

        # default rib is ipv4u: ipv6u events are gated out
        svc.feed.publish_rows(
            [
                {"rib": "ipv6u", "nlri_str": "2001:db8::/32", "session_id": 9, "op": "update"},
                {"rib": "ipv4u", "nlri_str": "10.0.0.0/24", "session_id": 3, "op": "withdraw"},
            ]
        )
        op, data = read_frame(s)
        evt = json.loads(data.decode())
        assert evt["addrs"]["nlri"] == "10.0.0.0/24"
        assert evt["sessionid"] == 3 and "attrs" not in evt  # withdraw: no attrs

        # subscribe to ipv6u (reference ClientCmd JSON), then the v6 event flows
        s.sendall(
            _client_frame(json.dumps({"Subscribe": {"rib": "ipv6u", "filter": ""}}).encode())
        )
        assert _wait_for(lambda: svc.feed._subs and svc.feed._subs[0].rib == "ipv6u")
        svc.feed.publish_rows(
            [{"rib": "ipv6u", "nlri_str": "2001:db8::/32", "session_id": 1, "op": "update"}]
        )
        op, data = read_frame(s)
        assert json.loads(data.decode())["addrs"]["rib"] == "ipv6u"

        # close handshake
        s.sendall(_client_frame(b"", 0x8))
        assert _wait_for(lambda: not svc.feed._subs)
        s.close()
    finally:
        httpd.shutdown()

def test_websocket_filter_superset_via_publish_batch(spark):
    import json

    from bgpexplorer_spark.api import BgpExplorerService, serve
    from bgpexplorer_spark.operators.ingest import build_history
    from bgpexplorer_spark.streaming.wsfeed import read_frame

    hist = build_history(make_updates(spark, [u("10.0.0.0/24", t=1)])).cache()
    svc = BgpExplorerService(hist, route_counts={"ipv4u": 1}, ws_apply_filter=True)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        s = _ws_connect(port)
        assert _wait_for(lambda: len(svc.feed._subs) == 1)
        s.sendall(
            _client_frame(
                json.dumps({"Subscribe": {"rib": "ipv4u", "filter": "11.0.0.0/8"}}).encode()
            )
        )
        assert _wait_for(
            lambda: svc.feed._subs and svc.feed._subs[0].filter_str == "11.0.0.0/8"
        )
        batch = make_updates(
            spark, [u("10.0.0.0/24", t=1), u("11.2.3.0/24", t=2)]
        )
        delivered = svc.feed.publish_batch(batch)
        assert delivered == 1  # 3VL filter keeps only the 11/8 route
        op, data = read_frame(s)
        assert json.loads(data.decode())["addrs"]["nlri"] == "11.2.3.0/24"
        s.close()
    finally:
        httpd.shutdown()

def test_run_ingest_publishes_to_feed(spark, tmp_path):
    """ST4 → S7 bridge: the streaming sink both materializes the table
    AND fans the micro-batch out to feed subscribers (the reference's
    write-path broadcast, src/bgprib.rs:1045-1052)."""
    from bgpexplorer_spark.streaming.wsfeed import LiveFeed, Subscriber

    d = _updates_dir(
        spark,
        [u("10.0.0.0/24", t=1), u("2001:db8::/32", t=2, rib="ipv6u")],
    )
    feed = LiveFeed()
    sub = Subscriber()
    sub.rib = "ipv4u"
    feed.register(sub)
    stream = stream_updates_from_files(spark, d)
    q = run_ingest(stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), feed=feed)
    q.awaitTermination(120)
    # table materialized AND the v4 event delivered (v6 gated out)
    assert spark.read.parquet(str(tmp_path / "tbl")).count() == 2
    events = []
    while not sub.q.empty():
        events.append(sub.q.get_nowait())
    assert len(events) == 1 and '"nlri": "10.0.0.0/24"' in events[0].replace("'", '"')


def test_windowed_prefix_churn_streaming(spark):
    from bgpexplorer_spark.streaming.feed import windowed_prefix_churn

    d = _updates_dir(
        spark,
        [
            u("10.0.0.0/24", t=1),
            u("10.0.0.0/24", t=30, op="withdraw"),
            u("10.0.1.0/24", t=40),
            u("10.0.0.0/24", t=70),
        ],
    )
    stream = stream_updates_from_files(spark, d)
    q = (
        windowed_prefix_churn(stream)
        .writeStream.format("memory").queryName("churn").outputMode("complete")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM churn").collect()
    got = {
        (r.nlri_str, r.window.start.minute): (r.updates, r.withdraws) for r in rows
    }
    assert got[("10.0.0.0/24", 0)] == (1, 1)
    assert got[("10.0.1.0/24", 0)] == (1, 0)
    assert got[("10.0.0.0/24", 1)] == (1, 0)

def test_live_flap_damping_stateful(spark):
    """Streaming damping: penalties accumulate per withdrawal, decay
    across micro-batches, and only announce->withdraw transitions count."""
    import math

    from bgpexplorer_spark.streaming.feed import live_flap_damping

    d = _updates_dir(
        spark,
        [
            u("10.0.0.0/24", t=0),
            u("10.0.0.0/24", t=10, op="withdraw"),
            u("10.0.0.0/24", t=20),
            u("10.0.0.0/24", t=30, op="withdraw"),
            u("10.0.1.0/24", t=0, op="withdraw"),   # never announced: no flap
            u("10.0.2.0/24", t=5),                   # announced only
        ],
    )
    stream = stream_updates_from_files(spark, d)
    q = (
        live_flap_damping(stream, half_life_sec=20.0)
        .writeStream.format("memory").queryName("damp1").outputMode("update")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {r.nlri_str: r for r in spark.sql("SELECT * FROM damp1").collect()}
    lam = math.log(2) / 20.0
    # flap at t=10 decayed to t=30, plus the fresh flap at t=30
    expect = 1000.0 * math.exp(-lam * 20) + 1000.0
    r = rows["10.0.0.0/24"]
    assert (r.n_flaps, r.penalty) == (2, round(expect, 4))
    assert r.suppressed is False and r.reusable is False  # 1500 between thresholds
    assert rows["10.0.1.0/24"].n_flaps == 0
    assert rows["10.0.2.0/24"].n_flaps == 0


def test_damping_fold_matches_sequential_reference():
    """The vectorized micro-batch fold (feed._damping_fold) must equal
    the event-at-a-time RFC 2439 fold on random event sequences, entry
    states, duplicate timestamps, and late (pre-state) events."""
    import math
    import random

    import pytest

    import numpy as np

    from bgpexplorer_spark.streaming.feed import _damping_fold

    def sequential(penalty, last_us, announced, flaps, ts_us, wd, lam, fp):
        for t_us, w in zip(ts_us, wd):
            t_us = int(t_us)
            if last_us is not None and t_us > last_us:
                penalty *= math.exp(-lam * (t_us - last_us) / 1e6)
            last_us = t_us if last_us is None else max(last_us, t_us)
            if w:
                if announced:
                    penalty += fp
                    flaps += 1
                announced = False
            else:
                announced = True
        return penalty, last_us, announced, flaps

    rnd = random.Random(7)
    lam, fp = math.log(2.0) / 900.0, 1000.0
    for trial in range(300):
        n = rnd.randint(1, 40)
        # sorted, with frequent duplicate timestamps
        ts = np.sort(np.array(
            [rnd.randrange(0, 50) * 1_000_000 for _ in range(n)], dtype=np.int64
        ))
        wd = np.array([rnd.random() < 0.5 for _ in range(n)])
        if rnd.random() < 0.5:
            entry = (0.0, None, False, 0)
        else:
            # entry last_us sometimes AFTER some batch events (late data)
            entry = (
                rnd.uniform(0, 5000), rnd.randrange(0, 60) * 1_000_000,
                rnd.random() < 0.5, rnd.randint(0, 5),
            )
        want = sequential(*entry, ts, wd, lam, fp)
        got = _damping_fold(*entry, ts, wd, lam, fp)
        assert got[1:] == want[1:], (trial, got, want)
        assert got[0] == pytest.approx(want[0], rel=1e-12, abs=1e-9), (
            trial, got, want,
        )


def test_publish_batch_rows_capped(spark):
    """A broad (full-table) subscription cannot materialize a whole
    micro-batch through the driver: per-subscriber delivery is capped at
    feed.max_rows_per_batch, keeping the NEWEST events (the lossy queue
    would drop the oldest anyway)."""
    import json

    from bgpexplorer_spark.streaming.wsfeed import LiveFeed, Subscriber

    feed = LiveFeed(max_rows_per_batch=2)
    sub = Subscriber(capacity=64)
    feed.register(sub)
    batch = make_updates(
        spark, [u(f"10.0.{i}.0/24", t=i) for i in range(5)]
    )
    delivered = feed.publish_batch(batch)
    assert delivered == 2
    got = []
    while not sub.q.empty():
        got.append(json.loads(sub.q.get_nowait())["addrs"]["nlri"])
    # the two newest, delivered oldest-first
    assert got == ["10.0.3.0/24", "10.0.4.0/24"]


def test_live_exact_dedup_streaming(spark):
    from bgpexplorer_spark.streaming.feed import live_exact_dedup

    # the same update delivered twice (BMP session replay) plus a
    # genuinely distinct later update for the same key
    rows = [
        u("10.0.0.0/24", t=1, aspath=[("Seq", [100])]),
        u("10.0.0.0/24", t=1, aspath=[("Seq", [100])]),  # exact re-delivery
        u("10.0.0.0/24", t=2, aspath=[("Seq", [100, 200])]),  # new event
        u("11.0.0.0/24", t=1),
    ]
    d = _updates_dir(spark, rows)
    stream = stream_updates_from_files(spark, d)
    q = (
        live_exact_dedup(stream)
        .writeStream.format("memory").queryName("dedup1").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    got = [
        (r.nlri_str, r.ts) for r in
        spark.sql("SELECT nlri_str, ts FROM dedup1 ORDER BY nlri_str, ts").collect()
    ]
    assert len(got) == 3  # the re-delivery is dropped, the new event kept
    assert [n for n, _ in got] == ["10.0.0.0/24", "10.0.0.0/24", "11.0.0.0/24"]

    # batch-mode fallback keeps the same semantics on bounded input
    batch = make_updates(spark, rows)
    assert live_exact_dedup(batch).count() == 3


def test_live_moas_alerts_streaming(spark):
    """Streaming hijack alarm e2e: two origins for 10.0.0.0/24 inside
    one window -> one alert with the sorted origin set; the
    single-origin prefix and the withdraw never alert."""
    from bgpexplorer_spark.streaming.feed import live_moas_alerts

    d = _updates_dir(
        spark,
        [
            u("10.0.0.0/24", t=1, aspath=[("Seq", [100, 300])]),
            u("10.0.0.0/24", t=20, session_id=1, aspath=[("Seq", [100, 301])]),
            u("10.0.0.0/24", t=30, aspath=[("Seq", [100, 300])]),
            u("10.1.0.0/16", t=5, aspath=[("Seq", [200, 400])]),
            u("10.2.0.0/16", t=6, op="withdraw"),
        ],
    )
    stream = stream_updates_from_files(spark, d)
    q = (
        live_moas_alerts(stream, window="1 minute", watermark="1 minute")
        .writeStream.format("memory").queryName("moasal")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM moasal").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.nlri_str == "10.0.0.0/24" and r.origins == [300, 301]
    assert r.n_origins == 2 and r.n_updates == 3


def test_live_rpki_rates_streaming(spark):
    """RPKI validity mix as a real stream: the verdict path is
    join-only (one broadcast left join per ROA length), so the windowed
    count is the sole stateful operator and the query runs in append
    mode under availableNow."""
    from bgpexplorer_spark.streaming.feed import live_rpki_rates

    d = _updates_dir(
        spark,
        [
            u("10.0.0.0/24", t=1, aspath=[("Seq", [65000, 100])]),   # Valid
            u("10.0.1.0/24", t=2, aspath=[("Seq", [65000, 999])]),   # Invalid
            u("10.0.2.0/28", t=3, aspath=[("Seq", [100])]),          # > max_len
            u("11.0.0.0/24", t=4, aspath=[("Seq", [100])]),          # NotFound
            u("10.0.3.0/24", t=5, op="withdraw"),                    # ignored
        ],
    )
    roas = spark.createDataFrame(
        [(10 * 2**24, 16, 24, 100)], "net long, plen int, max_len int, asn long"
    )
    stream = stream_updates_from_files(spark, d)
    q = (
        live_rpki_rates(stream, roas, roa_plens=[16],
                        window="1 minute", watermark="1 minute")
        .writeStream.format("memory").queryName("rpkirates")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM rpkirates").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_valid, r.n_invalid, r.n_notfound, r.n_total) == (1, 2, 1, 4)


def test_live_current_state_agg_matches_python_variant(spark, tmp_path):
    """The JVM-native max_by variant must produce the same final
    per-key (ts, active) as the applyInPandasWithState upsert on a
    unique-ts stream (the only regime where both define the same
    answer — ties are the documented difference)."""
    import pandas as pd

    from bgpexplorer_spark.streaming.feed import (
        live_current_state,
        live_current_state_agg,
        stream_updates_from_files,
    )
    from tests.ribdata import make_updates, u

    rows = []
    for i in range(60):
        rows.append(u(
            f"10.{i % 7}.0.0/24", t=i, session_id=i % 2,
            op="withdraw" if i % 5 == 0 else "update",
            aspath=None if i % 5 == 0 else [("Seq", [100 + i % 3])],
        ))
    src = tmp_path / "upd"
    make_updates(spark, rows).write.parquet(str(src))

    def drive(op, ck):
        outs = []
        stream = stream_updates_from_files(spark, str(src))
        q = (
            op(stream).writeStream
            .foreachBatch(lambda df, _e: outs.append(df.toPandas()))
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        pdf = pd.concat(outs, ignore_index=True)
        # last emission per key = final state
        return {
            (r.rib, r.nlri_str, r.session_id, r.path_id): (r.ts, r.active)
            for r in pdf.itertuples()
        }

    a = drive(live_current_state, "ck_py")
    b = drive(live_current_state_agg, "ck_agg")
    assert a == b and len(a) == 14  # 7 prefixes x 2 sessions


def test_live_current_state_resumes_from_checkpoint(spark, tmp_path):
    """State must survive a stream RESTART: phase 2 reuses phase 1's
    checkpoint, and a LATE (older-ts) arrival for a key seen in phase 1
    must NOT regress the state — provable only if the keyed state
    actually crossed the restart."""
    import os

    import pandas as pd

    from bgpexplorer_spark.streaming.feed import (
        live_current_state,
        stream_updates_from_files,
    )
    from tests.ribdata import make_updates, u

    src = tmp_path / "upd"
    ck = str(tmp_path / "ck")
    outs = []

    def run_once():
        stream = stream_updates_from_files(spark, str(src))
        q = (
            live_current_state(stream).writeStream
            .foreachBatch(lambda df, _e: outs.append(df.toPandas()))
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: A announced at t=10
    make_updates(spark, [
        u("10.0.0.0/24", t=10, session_id=0, aspath=[("Seq", [100])]),
    ]).write.mode("overwrite").parquet(str(src))
    run_once()
    p1 = pd.concat(outs, ignore_index=True)
    assert len(p1) == 1 and bool(p1.iloc[0]["active"])

    # phase 2: a LATE replay of A at t=5 (older) plus a new key B;
    # append as a new file so only it is a new micro-batch
    extra = make_updates(spark, [
        u("10.0.0.0/24", t=5, session_id=0, op="withdraw"),
        u("10.1.0.0/24", t=20, session_id=0, aspath=[("Seq", [200])]),
    ])
    extra.write.mode("append").parquet(str(src))
    outs.clear()
    run_once()
    p2 = pd.concat(outs, ignore_index=True)
    got = {r.nlri_str: (r.active, r.ts) for r in p2.itertuples()}
    # A: the stale t=5 withdraw must lose to the t=10 state from phase 1
    assert got["10.0.0.0/24"][0] is True or bool(got["10.0.0.0/24"][0])
    assert got["10.0.0.0/24"][1].second == 10
    # B is fresh state
    assert bool(got["10.1.0.0/24"][0])
    assert os.path.isdir(ck)


def test_flap_damping_increment_matches_fold(spark):
    """The JVM-native batch-to-batch fold (flap_damping_increment) must
    chain across arbitrary micro-batch splits to the same (penalty,
    last_us, announced, flaps) as the vectorized reference fold over the
    whole sequence — randomized keys, event counts, ops, entry states."""
    import math
    import random

    import numpy as np
    import pytest as _pt

    from bgpexplorer_spark.streaming.feed import (
        FLAP_STATE_SCHEMA, _damping_fold, flap_damping_increment,
    )

    rnd = random.Random(20260815)
    lam, fp = math.log(2.0) / 900.0, 1000.0
    keys = [f"10.0.{i}.0/24" for i in range(12)]
    events: dict[str, list] = {}
    for k in keys:
        n = rnd.randint(1, 15)
        # distinct, ascending times per key: both formulations sort by
        # ts, so tie order between a same-instant update+withdraw is
        # format-ambiguous — excluded by construction here
        ts = sorted(rnd.sample(range(0, 10_000), n))
        events[k] = [(t, rnd.random() < 0.5) for t in ts]

    # expected: one whole-sequence fold per key
    want = {}
    for k, evs in events.items():
        t_us = np.array([t * 1_000_000 for t, _ in evs], dtype=np.int64)
        wd = np.array([w for _, w in evs])
        want[k] = _damping_fold(0.0, None, False, 0, t_us, wd, lam, fp)

    # got: chain increments over random batch splits (interleaved keys)
    flat = [
        (k, t, w) for k, evs in events.items() for t, w in evs
    ]
    flat.sort(key=lambda x: x[1])
    n_splits = rnd.randint(2, 5)
    cuts = sorted(rnd.sample(range(1, len(flat)), n_splits))
    bounds = [0] + cuts + [len(flat)]
    state = spark.createDataFrame([], FLAP_STATE_SCHEMA)
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    for a, b in zip(bounds, bounds[1:]):
        batch = make_updates(spark, [
            u(k, t=t, op="withdraw" if w else "update")
            for k, t, w in flat[a:b]
        ])
        changed = flap_damping_increment(state, batch, 900.0, fp)
        state = (
            changed.select("rib", "nlri_str",
                           F.col("penalty_raw").alias("penalty"),
                           "last_us", "announced", "flaps")
            .unionByName(state.join(changed, ["rib", "nlri_str"], "left_anti"))
            .localCheckpoint(eager=True)
        )
    got = {r.nlri_str: r for r in state.collect()}
    assert set(got) == set(want)
    epoch = dt.datetime(1970, 1, 1)
    for k, (pen, last_us, ann, flaps) in want.items():
        r = got[k]
        # make_updates builds ts as t0 + t seconds; map back to the
        # fold's µs-since-0 clock
        off_us = int((t0 - epoch).total_seconds() * 1e6)
        assert r.last_us - off_us == last_us, k
        assert (r.announced, r.flaps) == (ann, flaps), k
        assert r.penalty == _pt.approx(round(pen, 4), abs=1e-3), k


def test_run_flap_damping_incremental_end_to_end(spark, tmp_path):
    """foreachBatch incremental damping end-to-end: same figures as the
    keyed-state live_flap_damping on the same stream, state persisted to
    the optional parquet state_dir."""
    import math

    from bgpexplorer_spark.streaming.feed import run_flap_damping_incremental

    d = _updates_dir(
        spark,
        [
            u("10.0.0.0/24", t=0),
            u("10.0.0.0/24", t=10, op="withdraw"),
            u("10.0.0.0/24", t=20),
            u("10.0.0.0/24", t=30, op="withdraw"),
            u("10.0.1.0/24", t=0, op="withdraw"),
            u("10.0.2.0/24", t=5),
        ],
    )
    got = {}

    def on_batch(df):
        for r in df.collect():
            got[r.nlri_str] = r

    stream = stream_updates_from_files(spark, d)
    q = run_flap_damping_incremental(
        stream, str(tmp_path / "ck"), half_life_sec=20.0,
        on_batch=on_batch, state_dir=str(tmp_path / "state"),
    )
    q.awaitTermination(120)
    lam = math.log(2) / 20.0
    expect = 1000.0 * math.exp(-lam * 20) + 1000.0
    r = got["10.0.0.0/24"]
    assert (r.n_flaps, r.penalty) == (2, round(expect, 4))
    assert r.suppressed is False and r.reusable is False
    assert got["10.0.1.0/24"].n_flaps == 0
    assert got["10.0.2.0/24"].n_flaps == 0
    # durable state table round-trips through the versioned layout
    cur = (tmp_path / "state" / "CURRENT").read_text().strip()
    st = {r.nlri_str: r for r in
          spark.read.parquet(str(tmp_path / "state" / cur)).collect()}
    assert st["10.0.0.0/24"].flaps == 2 and st["10.0.2.0/24"].announced

    # restart durability: a NEW query (fresh checkpoint) over new events
    # restores the carried state from state_dir — the flap count and the
    # decayed penalty continue, they don't reset
    d2 = _updates_dir(spark, [
        u("10.0.0.0/24", t=40),
        u("10.0.0.0/24", t=50, op="withdraw"),
    ])
    got2 = {}

    def on_batch2(df):
        for r in df.collect():
            got2[r.nlri_str] = r

    q2 = run_flap_damping_incremental(
        stream_updates_from_files(spark, d2), str(tmp_path / "ck2"),
        half_life_sec=20.0, on_batch=on_batch2,
        state_dir=str(tmp_path / "state"),
    )
    q2.awaitTermination(120)
    r2 = got2["10.0.0.0/24"]
    assert r2.n_flaps == 3  # 2 restored + 1 new
    expect2 = (expect * math.exp(-lam * 20)) + 1000.0
    assert r2.penalty == round(expect2, 4)


def test_run_flap_damping_incremental_epoch_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: state_dir is persisted BEFORE the
    epoch commits to the streaming checkpoint, so a crash in that window
    replays the epoch onto state that already folded it. The replay must
    NOT double-count — the sink skips the fold when the persisted
    marker's epoch (same checkpoint lineage) is >= the incoming epoch,
    and re-emits the batch keys' persisted figures."""
    import math
    import os as _os

    import pytest as _pt

    from bgpexplorer_spark.streaming.feed import run_flap_damping_incremental

    d = _updates_dir(
        spark,
        [
            u("10.0.0.0/24", t=0),
            u("10.0.0.0/24", t=10, op="withdraw"),
            u("10.0.0.0/24", t=20),
            u("10.0.0.0/24", t=30, op="withdraw"),
        ],
    )
    ck, sd = str(tmp_path / "ck"), str(tmp_path / "state")
    q = run_flap_damping_incremental(
        stream_updates_from_files(spark, d), ck,
        half_life_sec=20.0, state_dir=sd,
    )
    q.awaitTermination(120)
    lam = math.log(2) / 20.0
    expect = 1000.0 * math.exp(-lam * 20) + 1000.0

    # simulate the crash window: state v0 persisted, epoch-0 commit gone
    # (drop the hidden .crc twins too — a stale ChecksumFs crc makes the
    # replayed commit write fail)
    commits = _os.path.join(ck, "commits")
    assert any(not f.startswith(".") for f in _os.listdir(commits))
    for f in _os.listdir(commits):
        _os.remove(_os.path.join(commits, f))

    got = {}
    q2 = run_flap_damping_incremental(
        stream_updates_from_files(spark, d), ck,
        half_life_sec=20.0, state_dir=sd,
        on_batch=lambda df: got.update({r.nlri_str: r for r in df.collect()}),
    )
    q2.awaitTermination(120)
    # the replayed epoch re-emits the persisted figures, unchanged
    r = got["10.0.0.0/24"]
    assert (r.n_flaps, r.penalty) == (2, round(expect, 4))
    cur = (tmp_path / "state" / "CURRENT").read_text().strip()
    st = {x.nlri_str: x for x in
          spark.read.parquet(str(tmp_path / "state" / cur)).collect()}
    assert st["10.0.0.0/24"].flaps == 2  # not 4
    assert st["10.0.0.0/24"].penalty == _pt.approx(expect, abs=1e-3)

    # a WIPED-and-recreated checkpoint at the SAME path is a new query
    # lineage (new query id, epochs renumber from 0): the guard must NOT
    # skip — new data folds onto the restored state
    import shutil as _sh

    _sh.rmtree(ck)
    d2 = _updates_dir(spark, [
        u("10.0.0.0/24", t=40),
        u("10.0.0.0/24", t=50, op="withdraw"),
    ])
    q3 = run_flap_damping_incremental(
        stream_updates_from_files(spark, d2), ck,
        half_life_sec=20.0, state_dir=sd,
    )
    q3.awaitTermination(120)
    cur = (tmp_path / "state" / "CURRENT").read_text().strip()
    st = {x.nlri_str: x for x in
          spark.read.parquet(str(tmp_path / "state" / cur)).collect()}
    assert st["10.0.0.0/24"].flaps == 3  # 2 restored + 1 NEW (not skipped)


def test_flap_damping_increment_late_batch_keeps_announced(spark):
    """A batch whose events are ALL older than the carried clock must not
    overwrite `announced` with stale last-event polarity (out-of-order
    delivery would otherwise flip state and miscount later flaps)."""
    import datetime as dt

    from bgpexplorer_spark.streaming.feed import (
        FLAP_STATE_SCHEMA, flap_damping_increment,
    )

    # make_updates timestamps are t0(2024-01-01) + t seconds
    off_us = int(
        (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()
        * 1e6
    )
    state = spark.createDataFrame(
        [("ipv4u", "10.0.0.0/24", 1000.0, off_us + 50_000_000, True, 1)],
        FLAP_STATE_SCHEMA,
    )
    # one late withdraw at t=10 (carried clock t=50)
    batch = make_updates(spark, [u("10.0.0.0/24", t=10, op="withdraw")])
    r = flap_damping_increment(state, batch, 900.0, 1000.0).collect()[0]
    assert r.announced is True               # stale polarity NOT taken
    assert r.last_us == off_us + 50_000_000  # clock clamped (pre-existing)
    # in-order delivery still advances the flag
    batch2 = make_updates(spark, [u("10.0.0.0/24", t=60, op="withdraw")])
    r2 = flap_damping_increment(state, batch2, 900.0, 1000.0).collect()[0]
    assert r2.announced is False and r2.last_us == off_us + 60_000_000


def test_live_key_counts_heavy_hitters_streaming(spark):
    """Heavy hitters end-to-end: streaming windowed counts (watermark
    state) finished by the closed-window rank — the flooding key tops
    every window it floods, share and rank match the batch math."""
    from bgpexplorer_spark.streaming.feed import heavy_hitters, live_key_counts

    rows = []
    # minute 0: p0 floods (6 updates), p1/p2 get 2 and 1
    rows += [u("10.0.0.0/24", t=i) for i in range(0, 30, 5)]
    rows += [u("10.0.1.0/24", t=2), u("10.0.1.0/24", t=7)]
    rows += [u("10.0.2.0/24", t=9)]
    # minute 1: p2 floods (3), p0 once
    rows += [u("10.0.2.0/24", t=61), u("10.0.2.0/24", t=65),
             u("10.0.2.0/24", t=69), u("10.0.0.0/24", t=63)]
    d = _updates_dir(spark, rows)
    stream = stream_updates_from_files(spark, d)
    q = (
        live_key_counts(stream, window="1 minute")
        .writeStream.format("memory").queryName("hh_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    counts = spark.table("hh_counts")
    out = heavy_hitters(counts, k=2, min_share=0.2)
    got = {(r.win_start.minute, r.rank): (r.nlri_str, r.n_updates, r.share)
           for r in out.collect()}
    assert got[(0, 1)] == ("10.0.0.0/24", 6, round(6 / 9, 4))
    assert got[(0, 2)] == ("10.0.1.0/24", 2, round(2 / 9, 4))
    assert got[(1, 1)] == ("10.0.2.0/24", 3, 0.75)
    assert got[(1, 2)] == ("10.0.0.0/24", 1, 0.25)
    # p2 in minute 0 (share 1/9) fails the 0.2 phi gate
    assert len(got) == 4


def test_heavy_hitters_lateness_watermark(spark):
    """φ-alarm correctness under disorder: late events that arrive INSIDE
    the watermark merge into their (still-open) window and the closed
    window's ranks equal a batch recompute over the in-watermark events;
    late events arriving AFTER their window was finalized are dropped and
    never perturb (or re-emit) the already-closed ranking. Note Spark's
    watermark contract is one-directional — a row later than the
    watermark is only GUARANTEED dropped once its window's state was
    evicted, so the too-late burst lands in a batch after the emission."""
    from bgpexplorer_spark.streaming.feed import heavy_hitters, live_key_counts

    d = tempfile.mkdtemp()

    def _append(rows):
        make_updates(spark, rows).coalesce(1).write.mode("append").parquet(d)

    # batch 0 — minute 0: p0×3, p1×1; minute 2: p1×2, p2×1; a minute-3
    # sentinel pushes the watermark to t=170 (1-minute delay), past the
    # minute-0 window's end (60) but NOT past minute 2's (180)
    _append(
        [u("10.0.0.0/24", t=0), u("10.0.0.0/24", t=5), u("10.0.0.0/24", t=10),
         u("10.0.1.0/24", t=20),
         u("10.0.1.0/24", t=125), u("10.0.1.0/24", t=130),
         u("10.0.2.0/24", t=135),
         u("99.0.0.0/24", t=230)]
    )
    # batch 1 — p2×2 land late but in-watermark (window end 180 >= 170):
    # must merge, flipping minute 2's leader from p1 to p2. Minute 0
    # (end 60 < 170) is emitted and evicted at this batch's close; the
    # sentinel advances the watermark past minute 2 so IT can finalize.
    late_in = [u("10.0.2.0/24", t=140), u("10.0.2.0/24", t=150)]
    _append(late_in + [u("99.0.0.0/24", t=400)])
    # batch 2 — p9×5 target the FINALIZED minute-0 window: must be
    # dropped (they would out-rank p0's 3 and force a second, append-
    # mode-violating emission of the window otherwise)
    too_late = [u("10.0.9.0/24", t=30 + i) for i in range(5)]
    _append(too_late + [u("99.0.0.0/24", t=1000)])

    stream = (
        spark.readStream.schema(UPDATES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        live_key_counts(stream, window="1 minute", watermark="1 minute")
        .writeStream.format("memory").queryName("hh_late")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    closed = spark.table("hh_late")
    got = {
        (r.win_start.minute, r.rank): (r.nlri_str, r.n_updates, r.share)
        for r in heavy_hitters(closed, k=5).collect()
        if r.win_start.minute in (0, 2)
    }
    # minute 0 finalized BEFORE the too-late burst: p9 absent, p0 leads
    assert got[(0, 1)] == ("10.0.0.0/24", 3, 0.75)
    assert got[(0, 2)] == ("10.0.1.0/24", 1, 0.25)
    assert not any(n == "10.0.9.0/24" for n, _, _ in got.values())
    # minute 2 absorbed the in-watermark stragglers: p2 3 > p1 2
    assert got[(2, 1)] == ("10.0.2.0/24", 3, 0.6)
    assert got[(2, 2)] == ("10.0.1.0/24", 2, 0.4)
    # the closed-window ranks equal a batch recompute over exactly the
    # in-watermark events (everything except the dropped p9 burst)
    batch_rows = (
        [u("10.0.0.0/24", t=0), u("10.0.0.0/24", t=5), u("10.0.0.0/24", t=10),
         u("10.0.1.0/24", t=20),
         u("10.0.1.0/24", t=125), u("10.0.1.0/24", t=130),
         u("10.0.2.0/24", t=135)]
        + late_in
    )
    want = {
        (r.win_start.minute, r.rank): (r.nlri_str, r.n_updates, r.share)
        for r in heavy_hitters(
            live_key_counts(make_updates(spark, batch_rows), window="1 minute"),
            k=5,
        ).collect()
    }
    assert got == want


def test_run_flap_damping_incremental_legacy_ckpt_migration(spark, tmp_path):
    """State persisted by the pre-_LINEAGE layout (a CKPT file recording
    the checkpoint path) must still be honored: a same-path replay after
    upgrading skips the fold instead of double-counting, and the next
    persist retires the legacy marker."""
    import math
    import os as _os

    import pytest as _pt

    from bgpexplorer_spark.streaming.feed import run_flap_damping_incremental

    d = _updates_dir(spark, [
        u("10.0.0.0/24", t=0),
        u("10.0.0.0/24", t=10, op="withdraw"),
        u("10.0.0.0/24", t=20),
        u("10.0.0.0/24", t=30, op="withdraw"),
    ])
    ck, sd = str(tmp_path / "ck"), str(tmp_path / "state")
    q = run_flap_damping_incremental(
        stream_updates_from_files(spark, d), ck,
        half_life_sec=20.0, state_dir=sd,
    )
    q.awaitTermination(120)

    # devolve the state dir to the legacy layout: drop _LINEAGE, write
    # the CKPT path marker the old code used
    cur = (tmp_path / "state" / "CURRENT").read_text().strip()
    _os.remove(_os.path.join(sd, cur, "_LINEAGE"))
    (tmp_path / "state" / "CKPT").write_text(_os.path.abspath(ck))

    # crash window: epoch commit gone -> replay
    commits = _os.path.join(ck, "commits")
    for f in _os.listdir(commits):
        _os.remove(_os.path.join(commits, f))
    q2 = run_flap_damping_incremental(
        stream_updates_from_files(spark, d), ck,
        half_life_sec=20.0, state_dir=sd,
    )
    q2.awaitTermination(120)
    lam = math.log(2) / 20.0
    expect = 1000.0 * math.exp(-lam * 20) + 1000.0
    cur = (tmp_path / "state" / "CURRENT").read_text().strip()
    st = {x.nlri_str: x for x in
          spark.read.parquet(str(tmp_path / "state" / cur)).collect()}
    assert st["10.0.0.0/24"].flaps == 2  # replay skipped, not 4
    assert st["10.0.0.0/24"].penalty == _pt.approx(expect, abs=1e-3)

    # the NEXT real fold persists the new layout and retires the legacy
    # marker (the skip path never persists, so retirement waits for it)
    d2 = _updates_dir(spark, [u("10.0.0.0/24", t=40)])
    q3 = run_flap_damping_incremental(
        stream_updates_from_files(spark, d2), str(tmp_path / "ck2"),
        half_life_sec=20.0, state_dir=sd,
    )
    q3.awaitTermination(120)
    assert not (tmp_path / "state" / "CKPT").exists()  # legacy retired


def test_run_flap_damping_incremental_transient_lineage_read(
    spark, tmp_path, monkeypatch
):
    """One transient checkpoint-metadata read failure must not strip
    replay protection: the failed read is RETRIED on the next batch (not
    cached as None), and the legacy CKPT marker survives until a batch
    actually writes a _LINEAGE file for its version dir."""
    import os as _os

    import bgpexplorer_spark.streaming.feed as feedmod

    d = tempfile.mkdtemp()
    for row in (u("10.0.0.0/24", t=0), u("10.0.0.0/24", t=10, op="withdraw")):
        make_updates(spark, [row]).coalesce(1).write.mode("append").parquet(d)

    real = feedmod._checkpoint_query_id
    seen_ckpt_at_retry = []
    calls = {"n": 0}

    def flaky(sess, ck):
        calls["n"] += 1
        if calls["n"] == 1:
            return None  # simulate a transient metadata-read failure
        # batch 0 persisted WITHOUT _LINEAGE — the legacy marker must
        # still be standing when batch 1 comes around
        seen_ckpt_at_retry.append((tmp_path / "state" / "CKPT").exists())
        return real(sess, ck)

    monkeypatch.setattr(feedmod, "_checkpoint_query_id", flaky)
    sd = tmp_path / "state"
    sd.mkdir()
    (sd / "CKPT").write_text("/some/previous/checkpoint")

    stream = (
        spark.readStream.schema(UPDATES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = feedmod.run_flap_damping_incremental(
        stream, str(tmp_path / "ck"), half_life_sec=20.0, state_dir=str(sd),
    )
    q.awaitTermination(120)

    assert calls["n"] >= 2  # the failed read was retried, not cached
    assert seen_ckpt_at_retry == [True]  # CKPT survived the lineage-less batch
    cur = (sd / "CURRENT").read_text().strip()
    assert (sd / cur / "_LINEAGE").exists()  # retry succeeded and persisted
    assert not (sd / "CKPT").exists()  # retired only AFTER a real _LINEAGE
    vdirs = sorted(x.name for x in sd.iterdir() if x.name.startswith("v"))
    assert not (sd / vdirs[0] / "_LINEAGE").exists()  # batch 0 had none


def test_heavy_hitters_matches_python_model(spark):
    """Property check: rank, share, and the joint (rank <= k AND share >=
    phi) gate match a pure-Python model over randomized multi-window
    count tables."""
    import random

    from hypothesis import given, settings, strategies as st

    from bgpexplorer_spark.streaming.feed import heavy_hitters, live_key_counts

    @settings(max_examples=8, deadline=None)
    @given(seed=st.integers(0, 2**32 - 1), k=st.integers(1, 4),
           phi=st.sampled_from([0.0, 0.1, 0.3]))
    def check(seed, k, phi):
        rnd = random.Random(seed)
        rows = [
            u(f"10.0.{rnd.randrange(6)}.0/24", t=rnd.randrange(3) * 60 + rnd.randrange(60))
            for _ in range(rnd.randrange(5, 40))
        ]
        counts = live_key_counts(make_updates(spark, rows), window="1 minute")
        got = {
            (r.win_start.minute, r.nlri_str): (r.n_updates, r.share, r.rank)
            for r in heavy_hitters(counts, k=k, min_share=phi).collect()
        }
        # model
        from collections import Counter

        per_win: dict[int, Counter] = {}
        for r in rows:
            per_win.setdefault(r["ts"].minute, Counter())[r["nlri_str"]] += 1
        want = {}
        for wmin, c in per_win.items():
            tot = sum(c.values())
            ranked = sorted(c.items(), key=lambda kv: (-kv[1], "ipv4u", kv[0]))
            for rank, (key, n) in enumerate(ranked, 1):
                share = round(n / tot, 4)
                if rank <= k and share >= phi:
                    want[(wmin, key)] = (n, share, rank)
        assert got == want, (seed, k, phi)

    check()


def test_tws_variants_gated_or_equivalent(spark, tmp_path):
    """The state-v2 (transformWithStateInPandas) variants of the keyed
    operators (r10 ask #7): in an environment WITHOUT google.protobuf
    they must fail at BUILD time with a diagnosis (Spark's v2 Python
    runner otherwise crashes the streaming driver worker mid-query —
    observed: STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE); WITH it,
    they must produce exactly the applyInPandasWithState results."""
    import pytest as _pt

    from bgpexplorer_spark.streaming.feed import (
        live_current_state,
        live_current_state_tws,
        live_flap_damping,
        live_flap_damping_tws,
        stream_updates_from_files,
    )
    from tests.ribdata import make_updates, u

    upd = make_updates(spark, [
        u("10.0.0.0/24", t=0), u("10.0.0.0/24", t=60_000, op="withdraw"),
        u("10.0.1.0/24", t=30_000), u("10.0.0.0/24", t=90_000),
    ])
    src = str(tmp_path / "src")
    upd.write.mode("overwrite").parquet(src)

    try:
        from google.protobuf import descriptor  # noqa: F401
        have_pb = True
    except ImportError:
        have_pb = False

    if not have_pb:
        with _pt.raises(ImportError, match="google.protobuf"):
            live_current_state_tws(stream_updates_from_files(spark, src))
        with _pt.raises(ImportError, match="google.protobuf"):
            live_flap_damping_tws(stream_updates_from_files(spark, src))
        return

    def run(op, name, ck):
        q = (
            op(stream_updates_from_files(spark, src))
            .writeStream.format("memory").queryName(name).outputMode("update")
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(tuple(r) for r in spark.sql(f"select * from {name}").collect())

    assert run(live_current_state, "t1cs", "ck1") == run(
        live_current_state_tws, "t2cs", "ck2"
    )
    assert run(live_flap_damping, "t1fd", "ck3") == run(
        live_flap_damping_tws, "t2fd", "ck4"
    )
