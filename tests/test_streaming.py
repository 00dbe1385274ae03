"""Streaming surface — ST1/ST2 feed, ST4 ingest, ST3 windows
(SURVEY §2.7)."""

from __future__ import annotations

import tempfile

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
    svc = BgpExplorerService(hist)
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
    svc = BgpExplorerService(hist, ws_apply_filter=True)
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


