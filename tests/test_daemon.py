"""Full-system daemon e2e — the reference main() pipeline: ini → RIB
bootstrap → live BGP ingest → HTTP API → snapshot store-on-stop →
restart restores the RIB."""

from __future__ import annotations

import json
import os
import re
import socket
import struct
import time
import urllib.request

import pytest

from bgpexplorer_spark.daemon import run_from_ini
from tests.ribdata import make_updates, parquet_files, u


def _ini(tmp_path, snapshot=True) -> str:
    snap = f"snapshot={tmp_path / 'snap'}\n" if snapshot else ""
    ini = tmp_path / "bgpexplorer.ini"
    ini.write_text(
        "[main]\n"
        "httplisten=127.0.0.1:0\n"
        "routerid=10.0.0.9\npeeras=64900\n"
        "protolisten=127.0.0.1:0\n"
        "historymode=every\n"
        f"{snap}snapshot_every=3600\n"
        "\n[collector]\nmode=bgppassive\ncaps=ipv4u\n"
    )
    return str(ini)


def _drive_bgp_session(host, port, prefixes):
    from bgpexplorer_spark.sources.mrt import encode_bgp_update_body
    from bgpexplorer_spark.streaming.bgplive import (
        encode_bgp_message, encode_bgp_open,
    )

    with socket.create_connection((host, port), timeout=10) as s:
        s.sendall(encode_bgp_open(65001, 90, 0x01020304))
        hdr = b""
        while len(hdr) < 19:          # their OPEN back
            hdr += s.recv(19 - len(hdr))
        msglen = struct.unpack(">H", hdr[16:18])[0]
        body = b""
        while len(body) < msglen - 19:
            body += s.recv(msglen - 19 - len(body))
        for addr, plen in prefixes:
            s.sendall(encode_bgp_message(2, encode_bgp_update_body(
                nlri=[(addr, plen)], origin=0,
                aspath=[(2, [65001, 64999])], nexthop=0x01020304,
            )))
        time.sleep(1.0)               # let the listener flush the batch


def _get(base, path):
    return json.loads(urllib.request.urlopen(base + path, timeout=10).read())


def _snapshot(spark, snap, rows, **cast):
    """Save ``rows`` as a SnapshotKeeper snapshot at ``snap``, with any
    ``column=type`` casts applied first; returns the version dir."""
    from pyspark.sql import functions as F

    from bgpexplorer_spark.operators.ingest import build_history
    from bgpexplorer_spark.snapshotd import SnapshotKeeper

    hist = build_history(make_updates(spark, rows))
    for col, typ in cast.items():
        hist = hist.withColumn(col, F.col(col).cast(typ))
    vdir = SnapshotKeeper(lambda: hist, str(snap)).save_once()
    assert vdir is not None
    return vdir


def _plain_ini(tmp_path, snap, extra="") -> str:
    """A daemon with a snapshot and no BGP peers."""
    ini = tmp_path / "plain.ini"
    ini.write_text(
        f"[main]\nhttplisten=127.0.0.1:0\nsnapshot={snap}\n"
        f"snapshot_every=3600\n{extra}"
    )
    return str(ini)


_BOOT_LINE = (r"boot: {what}; restore \d+ ms, service \d+ ms, listeners"
              r" \d+ ms, ingest \d+ ms, keeper \d+ ms, http \d+ ms$")


def test_daemon_end_to_end_and_restart(spark, tmp_path):
    d = run_from_ini(spark, _ini(tmp_path), str(tmp_path / "run1"),
                     processing_time="500 milliseconds")
    try:
        assert d.http_port and d.listeners
        base = f"http://127.0.0.1:{d.http_port}"
        bgp = d.listeners[0]
        _drive_bgp_session(bgp.host, bgp.port, [(0x0B000000, 24)])

        # the route must appear through the FULL pipeline: socket →
        # parquet micro-batch → streaming build_history → table →
        # state-version bump → HTTP serving layer
        deadline = time.time() + 120
        items = {}
        while time.time() < deadline:
            got = _get(base, "/api/json/ipv4u?filter=11.0.0.0/24")
            items = got.get("items", {})
            if items:
                break
            time.sleep(1.0)
        assert list(items) == ["11.0.0.0/24"]

        stats = _get(base, "/api/statistics")
        assert stats["ribs"]["ipv4u"] >= 1
    finally:
        d.stop()

    # store-on-stop wrote the snapshot; a fresh daemon (new work dir, no
    # BGP traffic) restores the RIB from it
    assert (tmp_path / "snap" / "CURRENT").exists()
    d2 = run_from_ini(spark, _ini(tmp_path), str(tmp_path / "run2"),
                      processing_time="500 milliseconds")
    try:
        base = f"http://127.0.0.1:{d2.http_port}"
        got = _get(base, "/api/json/ipv4u?filter=11.0.0.0/24")
        assert list(got.get("items", {})) == ["11.0.0.0/24"]
    finally:
        d2.stop()


def test_daemon_serves_roas_from_config(spark, tmp_path):
    (tmp_path / "roas.json").write_text(json.dumps({"roas": [
        {"asn": "AS64999", "prefix": "11.0.0.0/16", "maxLength": 24, "ta": "t"},
    ]}))
    ini = tmp_path / "r.ini"
    ini.write_text(
        "[main]\nhttplisten=127.0.0.1:0\nroasfile=roas.json\n"
        "protolisten=127.0.0.1:0\n\n[c]\nmode=bgppassive\n"
    )
    d = run_from_ini(spark, str(ini), str(tmp_path / "run"),
                     processing_time="500 milliseconds")
    try:
        assert d.cfg.roas_file == str(tmp_path / "roas.json")  # ini-relative
        bgp = d.listeners[0]
        _drive_bgp_session(bgp.host, bgp.port, [(0x0B000000, 24), (0x0C000000, 24)])
        base = f"http://127.0.0.1:{d.http_port}"
        deadline = time.time() + 120
        rep = {}
        while time.time() < deadline:
            rep = _get(base, "/api/analytics/rpki")
            if rep.get("valid") or rep.get("notfound"):
                break
            time.sleep(1.0)
        # 11.0.0.0/24 covered+authorized (origin 64999, len <= 24);
        # 12.0.0.0/24 has no covering ROA
        assert (rep["valid"], rep["invalid"], rep["notfound"]) == (1, 0, 1)
        assert rep["invalid_routes"] == []
    finally:
        d.stop()


def test_daemon_stop_drains_pending_spool(spark, tmp_path):
    """An update the listener committed to the spool but the cadence has
    NOT ingested yet must survive into the stop-snapshot (stop() drains
    with an availableNow pass before the final store)."""
    # 1-hour trigger: the continuous query will never fire for this test,
    # so anything the listener writes stays un-ingested until stop()
    d = run_from_ini(spark, _ini(tmp_path), str(tmp_path / "run1"),
                     processing_time="1 hour")
    try:
        bgp = d.listeners[0]
        _drive_bgp_session(bgp.host, bgp.port, [(0x0D000000, 24)])
        # wait for the listener's flush: the route lands in the spool,
        # not the table (the 1-hour trigger never fires)
        import glob
        deadline = time.time() + 30
        while time.time() < deadline and not glob.glob(
            str(tmp_path / "run1" / "updates" / "*.parquet")
        ):
            time.sleep(0.5)
        assert glob.glob(str(tmp_path / "run1" / "updates" / "*.parquet"))
        # guard against a vacuous pass: the route must NOT be served yet
        # (the 1-hour cadence hasn't ingested it) — if it is, batch 0 ran
        # after the flush and this test isn't exercising the drain
        base = f"http://127.0.0.1:{d.http_port}"
        got = _get(base, "/api/json/ipv4u?filter=13.0.0.0/24")
        assert not got.get("items"), "route ingested before stop: drain untested"
    finally:
        d.stop()

    d2 = run_from_ini(spark, _ini(tmp_path), str(tmp_path / "run2"),
                      processing_time="1 hour")
    try:
        base = f"http://127.0.0.1:{d2.http_port}"
        got = _get(base, "/api/json/ipv4u?filter=13.0.0.0/24")
        assert list(got.get("items", {})) == ["13.0.0.0/24"]
    finally:
        d2.stop()


def test_daemon_restart_multi_family_snapshot(spark, tmp_path):
    """Restart durability at realistic state breadth: a snapshot spanning
    unicast, v6, VPN (RD), labeled, add-path, L2VPLS, EVPN, MVPN and MDT
    families must reload with every map intact (the reference restores
    all per-family maps and reindexes — src/bgprib.rs:973-1015, 471-508).
    Asserts BYTE parity of each family's /api/json/<rib> envelope across
    the restart."""
    import urllib.request as _rq

    from bgpexplorer_spark.operators.ingest import build_history
    from bgpexplorer_spark.snapshotd import SnapshotKeeper
    from tests.ribdata import make_updates, u

    rows = [
        u("11.0.0.0/24", t=1, aspath=[("Seq", [65001, 64999])]),
        u("11.0.0.0/24", t=2, path_id=7,       # add-path sibling
          aspath=[("Seq", [65002, 64999])]),
        u("2c0a::/64", rib="ipv6u", t=3),
        u("10.1.0.1/32", rib="vpnv4u", rd="100:1000", t=4),
        u("10.2.0.0/24", rib="ipv4lu", labels=[1021], t=5),
        u("10.3.0.1/32", rib="l2vpls", l2=(5, 0, 8), rd="100:2000", t=6),
        u("10.4.0.1/32", rib="evpn", evpn=2, rd="100:3000", t=7),
        u("10.5.0.1/32", rib="mvpn", mvpn=(5, "1.2.3.4", "232.1.1.1"),
          rd="100:4000", t=8),
        u("10.6.0.1/32", rib="ipv4mdt", mdt_group="239.1.1.1", t=9),
    ]
    hist = build_history(make_updates(spark, rows), history_mode="every")
    snap = str(tmp_path / "snap")
    vdir = SnapshotKeeper(lambda: hist, snap).save_once()
    assert vdir is not None

    fams = ["ipv4u", "ipv6u", "vpnv4u", "ipv4lu", "l2vpls", "evpn",
            "mvpn", "ipv4mdt"]

    def envelopes(port):
        out = {}
        for rib in fams:
            with _rq.urlopen(
                f"http://127.0.0.1:{port}/api/json/{rib}", timeout=10
            ) as r:
                out[rib] = r.read()
        return out

    ini = tmp_path / "bgpexplorer.ini"
    ini.write_text(
        "[main]\nhttplisten=127.0.0.1:0\nrouterid=10.0.0.9\npeeras=64900\n"
        f"historymode=every\nsnapshot={snap}\nsnapshot_every=3600\n"
    )
    d1 = run_from_ini(spark, str(ini), str(tmp_path / "run1"),
                      processing_time="1 hour")
    try:
        # the boot copied the snapshot's files, it did not rewrite them
        assert parquet_files(d1.table_dir) == parquet_files(vdir)
        first = envelopes(d1.http_port)
    finally:
        d1.stop()
    # every family served rows (guards against a vacuous byte-compare)
    for rib in fams:
        assert json.loads(first[rib])["items"], rib
    # add-path siblings nest as session → path_id → ts
    v4 = json.loads(first["ipv4u"])["items"]["11.0.0.0/24"]
    assert set(v4["0"]) == {"0", "7"}

    d2 = run_from_ini(spark, str(ini), str(tmp_path / "run2"),
                      processing_time="1 hour")
    try:
        second = envelopes(d2.http_port)
    finally:
        d2.stop()
    assert first == second  # byte parity per family across the restart


def test_daemon_keeps_an_existing_uri_table(spark, tmp_path, caplog):
    """A ``table_path`` URI that already holds a table is served as it
    is: the boot must not overwrite it with the snapshot's older state."""
    from bgpexplorer_spark.operators.ingest import build_history
    from bgpexplorer_spark.operators.rib import write_snapshot

    snap = tmp_path / "snap"
    _snapshot(spark, snap, [u("11.0.0.0/24", t=1)])
    table = "file://" + str(tmp_path / "table")
    write_snapshot(build_history(make_updates(spark, [u("12.0.0.0/24", t=2)])),
                   table)
    ini = _plain_ini(tmp_path, snap, f"table_path={table}\n")
    with caplog.at_level("INFO", logger="bgpexplorer_spark.daemon"):
        d = run_from_ini(spark, ini, str(tmp_path / "run"),
                         processing_time="1 hour")
    try:
        got = _get(f"http://127.0.0.1:{d.http_port}", "/api/json/ipv4u")
        assert list(got["items"]) == ["12.0.0.0/24"]
    finally:
        d.stop()
    (rec,) = [r for r in caplog.records if r.name == "bgpexplorer_spark.daemon"]
    assert re.match(_BOOT_LINE.format(
        what=re.escape(f"kept the existing table {table}")), rec.getMessage())


def test_daemon_interrupted_restore_leaves_no_table(
    spark, tmp_path, monkeypatch, caplog
):
    """A restore that fails part-way raises out of start() and leaves no
    table, so the next boot restores the snapshot again, whole, and
    discards the stale partial copy."""
    from bgpexplorer_spark import snapshotd

    snap = tmp_path / "snap"
    vdir = _snapshot(spark, snap, [u(f"10.0.{i}.0/24", t=i) for i in range(3)])
    ini = _plain_ini(tmp_path, snap)
    work = tmp_path / "run"
    table = work / "table"
    partial = tmp_path / "run" / "table.restore"
    copy = snapshotd._copy

    def interrupted(*a):
        copy(*a)
        assert partial.is_dir()
        raise OSError("copy interrupted")

    monkeypatch.setattr(snapshotd, "_copy", interrupted)
    with pytest.raises(OSError, match="copy interrupted"):
        run_from_ini(spark, ini, str(work), processing_time="1 hour")
    assert not table.exists()
    monkeypatch.undo()

    # a boot killed mid-copy leaves its partial copy behind
    (partial / "rib=ipv4u" / "ts_date=2000-01-01").mkdir(parents=True)
    (partial / "rib=ipv4u" / "ts_date=2000-01-01" / "junk.parquet").write_bytes(b"x")
    with caplog.at_level("INFO", logger="bgpexplorer_spark.daemon"):
        d = run_from_ini(spark, ini, str(work), processing_time="1 hour")
    try:
        got = _get(f"http://127.0.0.1:{d.http_port}", "/api/json/ipv4u")
        assert sorted(got["items"]) == [f"10.0.{i}.0/24" for i in range(3)]
        files = parquet_files(vdir)
        assert parquet_files(table) == files and not partial.exists()
    finally:
        d.stop()
    (rec,) = [r for r in caplog.records if r.name == "bgpexplorer_spark.daemon"]
    what = (f"restored snapshot {os.path.basename(vdir)} ({len(files)} files,"
            f" {sum(map(len, files.values()))} bytes copied)")
    assert re.match(_BOOT_LINE.format(what=re.escape(what)), rec.getMessage())


def test_daemon_starts_fresh_on_a_foreign_snapshot(spark, tmp_path, caplog):
    """A snapshot whose files change a history column's type warns and
    the daemon starts fresh; nothing is copied into the table."""

    snap = tmp_path / "snap"
    _snapshot(spark, snap, [u("10.0.0.0/24")], med="int")
    with caplog.at_level("INFO", logger="bgpexplorer_spark.daemon"):
        with pytest.warns(UserWarning, match="Error loading snapshot"):
            d = run_from_ini(spark, _plain_ini(tmp_path, snap),
                             str(tmp_path / "run"), processing_time="1 hour",
                             http=False)
    try:
        assert not os.path.exists(d.table_dir)
        assert d.service.history.count() == 0
    finally:
        d.stop()
    (rec,) = [r for r in caplog.records if r.name == "bgpexplorer_spark.daemon"]
    assert re.match(_BOOT_LINE.format(
        what=r"fresh \(error loading snapshot: .*med.*\)"), rec.getMessage())
