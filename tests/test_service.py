"""Serving layer + config + whois/enrichment + maintenance
(SURVEY §2.1 S6-S12, §2.4 J5, §2.6 C9, U6/U9 analogs)."""

from __future__ import annotations

import datetime as dt
import json
import tempfile
import urllib.request

from pyspark.sql import functions as F

from bgpexplorer_spark import config as cfgmod
from bgpexplorer_spark.api import BgpExplorerService, serve
from bgpexplorer_spark.operators import whois
from bgpexplorer_spark.operators.ingest import build_history
from bgpexplorer_spark.operators.rib import attrs_dim, compact, read_snapshot, write_snapshot

from tests.ribdata import T0, make_updates, u

def test_config_parse(tmp_path):
    ini = tmp_path / "t.ini"
    ini.write_text(
        """
[main]
httplisten = 0.0.0.0:9090
historydepth = 5
historymode = differ
whois_cache_seconds = 60

[upstream1]
mode = bmppassive
listen = 0.0.0.0:5000
filter_rd = 100:1

[bad]
mode = nonsense
"""
    )
    c = cfgmod.from_inifile(str(ini))
    assert c.httplisten == "0.0.0.0:9090"
    assert c.historydepth == 5 and c.historymode == "differ"
    assert c.whoiscachesecs == 60
    assert c.httptimeout == 120 and c.purge_every == 300  # defaults
    assert len(c.peers) == 1 and c.peers[0].mode == "bmppassive"
    assert c.peers[0].filter_rd == "100:1"

def test_parse_hostport_forms():
    """Shared guarded listen-address split (daemon httplisten + all
    config listeners): v6 forms land on the right host, malformed forms
    fail loudly instead of binding to a garbage address."""
    import pytest

    p = cfgmod.parse_hostport
    assert p("127.0.0.1:8080", 80) == ("127.0.0.1", 8080)
    assert p("example.com", 80) == ("example.com", 80)
    assert p(":8080", 80, default_host="127.0.0.1") == ("127.0.0.1", 8080)
    assert p("", 80, default_host="0.0.0.0") == ("0.0.0.0", 80)
    # v6: bracketed with/without port, bare literal → whole-string host
    assert p("[::1]:8080", 80) == ("::1", 8080)
    assert p("[2001:db8::1]", 80) == ("2001:db8::1", 80)
    assert p("::1", 80) == ("::1", 80)
    # malformed: must raise, not mis-bind ('::1' is NOT host ':' port 1,
    # '8080' is NOT host '8080')
    for bad in ("8080", "host:port", "[::1", "[::1]x", "[::1]:x",
                "a:b:c", "host:"):
        with pytest.raises(ValueError):
            p(bad, 80)


def test_daemon_parse_http_uses_guarded_split():
    from bgpexplorer_spark.daemon import BgpExplorerDaemon

    f = BgpExplorerDaemon._parse_http
    assert f("127.0.0.1:0") == ("127.0.0.1", 0)
    assert f("myhost") == ("myhost", 8080)
    assert f("[::1]:9090") == ("::1", 9090)
    assert f("::1") == ("::1", 8080)
    import pytest

    with pytest.raises(ValueError):
        f("8080")


def test_config_whois_server_map_keys(tmp_path):
    """whoisjsonconfig + whoisdns ini keys round-trip
    (src/config.rs:596-605, 616-638)."""
    wj = tmp_path / "whois.json"
    wj.write_text(json.dumps({"": "whois.ripe.net"}))
    ini = tmp_path / "t.ini"
    ini.write_text(
        f"""
[main]
whoisjsonconfig = {wj}
whoisdns = 8.8.8.8, 9.9.9.9:5353, not-an-ip, 1.1.1.1:bad
"""
    )
    c = cfgmod.from_inifile(str(ini))
    assert c.whoisjsonconfig == str(wj)
    # bare host gets :53; bad port / bad host skipped (src/config.rs:620-631)
    assert c.whoisdnses == ["8.8.8.8:53", "9.9.9.9:5353"]
    # defaults: no map, 1.1.1.1:53 fallback resolver (src/config.rs:637-638)
    ini2 = tmp_path / "d.ini"
    ini2.write_text("[main]\n")
    d = cfgmod.from_inifile(str(ini2))
    assert d.whoisjsonconfig is None and d.whoisdnses == ["1.1.1.1:53"]


def test_whois_server_map_resolution():
    """The shipped whois.json semantics (reference whois.json:1-9): IP
    queries hit the ``_``.ip host with its template (ARIN's ``n + $addr``),
    domains longest-suffix-match, ``""`` is the domain fallback."""
    m = whois.WhoisServerMap(
        {
            "org": "whois.pir.org",
            "": "whois.ripe.net",
            "_": {"ip": {"host": "whois.arin.net", "query": "n + $addr\r\n"}},
        }
    )
    assert m.resolve("192.0.2.1") == ("whois.arin.net", "n + 192.0.2.1\r\n")
    assert m.resolve("2001:db8::1") == ("whois.arin.net", "n + 2001:db8::1\r\n")
    assert m.resolve("AS64500") == ("whois.arin.net", "n + AS64500\r\n")
    assert m.resolve("example.org") == ("whois.pir.org", "example.org\r\n")
    assert m.resolve("example.net") == ("whois.ripe.net", "example.net\r\n")
    # no map entry at all -> caller's fallback server
    empty = whois.WhoisServerMap({})
    assert empty.resolve("example.com", "whois.iana.org") == (
        "whois.iana.org",
        "example.com\r\n",
    )


def test_whois_query_uses_server_map_template():
    """query_whois with a server map dials the mapped server with the
    template-formatted query; referral hops revert to the plain query."""
    m = whois.WhoisServerMap(
        {"_": {"ip": {"host": "whois.arin.net", "query": "n + $addr\r\n"}}}
    )
    calls = []

    def fake(server, q):
        calls.append((server, q))
        if server == "whois.arin.net":
            return "ReferralServer: whois://whois.ripe.net\n"
        return "OrgName: Example\n"

    srv, text = whois.query_whois("192.0.2.1", fake, server_map=m)
    assert srv == "whois.ripe.net" and "OrgName" in text
    assert calls == [
        ("whois.arin.net", "n + 192.0.2.1"),  # templated first hop
        ("whois.ripe.net", "192.0.2.1"),      # plain query on referral
    ]


def test_whois_referral_recursion():
    calls = []

    def fake(server, query):
        calls.append(server)
        if server == "whois.iana.org":
            return "refer: whois.arin.net\n"
        if server == "whois.arin.net":
            return "OrgName: Example\n"
        return ""

    srv, text = whois.query_whois("192.0.2.1", fake)
    assert srv == "whois.arin.net" and "OrgName" in text
    assert calls == ["whois.iana.org", "whois.arin.net"]

    # loop protection
    def loopy(server, query):
        return "refer: whois.iana.org\n"

    srv2, _ = whois.query_whois("x", loopy)
    assert srv2 == "whois.iana.org"

def test_whois_referral_malformed_port_returns_text_so_far():
    """A referral advertising a malformed/out-of-range port must not
    crash the call (the transport would raise on it) — the loop stops
    and returns the response gathered so far."""
    calls = []

    def fake(server, query):
        calls.append(server)
        return "OrgName: Example\nReferralServer: whois://evil.example.net:99999\n"

    srv, text = whois.query_whois("192.0.2.1", fake)
    assert calls == ["whois.iana.org"]  # the bad referral was NOT followed
    assert srv == "whois.iana.org" and "OrgName" in text


def test_reverse_dns_name():
    assert whois.reverse_dns_name("10.1.2.3") == "3.2.1.10.in-addr.arpa"
    assert whois.reverse_dns_name("2001:db8::1").endswith("ip6.arpa")

def test_dns_reverse_name_reference_format():
    # the reference renders v4 uppercase with trailing dot
    # (src/whoissvc.rs:281-291) and v6 as reversed nibble pairs
    assert whois.dns_reverse_name("192.0.2.1") == "1.2.0.192.IN-ADDR.ARPA."
    v6 = whois.dns_reverse_name("2001:db8::1")
    assert v6.endswith("ip6.arpa.") and v6.startswith("1.0.0.0.")
    assert len(v6.split(".")) == 35  # 32 nibbles + ip6 + arpa + ''

def _ptr_answer(query: bytes, name_labels: list[str], compress: bool = False) -> bytes:
    """Canned DNS response for a PTR query: echo header+question, one
    answer."""
    import struct

    hdr = query[:2] + b"\x81\x80" + struct.pack(">HHHH", 1, 1, 0, 0)
    question = query[12:]
    if compress:
        aname = b"\xc0\x0c"  # pointer to the question name
    else:
        aname = b"".join(bytes([len(x)]) + x.encode() for x in ["dummy"]) + b"\x00"
    rdata = b"".join(bytes([len(x)]) + x.encode() for x in name_labels) + b"\x00"
    rr = aname + struct.pack(">HHIH", 12, 1, 3600, len(rdata)) + rdata
    return hdr + question + rr

def test_dns_ptr_wire_roundtrip():
    sent = []

    def canned(pkt: bytes) -> bytes:
        sent.append(pkt)
        return _ptr_answer(pkt, ["host", "example", "net"])

    got = whois.query_dns_ptr("192.0.2.1", canned, tid=0x1234)
    assert got == "host.example.net."
    # the query packet carries the reference-format reverse name + PTR/IN
    pkt = sent[0]
    assert pkt[:2] == b"\x12\x34"
    assert b"\x01" + b"1" + b"\x01" + b"2" in pkt  # labels '1','2'
    assert b"IN-ADDR" in pkt and pkt.endswith(b"\x00\x00\x0c\x00\x01")

def test_dns_ptr_compressed_answer_name():
    got = whois.query_dns_ptr(
        "192.0.2.1",
        lambda pkt: _ptr_answer(pkt, ["r", "example", "org"], compress=True),
        tid=7,
    )
    assert got == "r.example.org."

def test_dns_ptr_validation_errors():
    import pytest as _pytest

    # tid mismatch
    with _pytest.raises(ValueError, match="tid"):
        whois.query_dns_ptr(
            "192.0.2.1",
            lambda pkt: _ptr_answer(b"\xff\xff" + pkt[2:], ["x"]),
            tid=1,
        )
    # question mismatch (different name echoed)
    def wrong_question(pkt: bytes) -> bytes:
        other = whois.build_dns_query("9.9.9.9.IN-ADDR.ARPA.", 12, 1)
        return _ptr_answer(other, ["x"])

    with _pytest.raises(ValueError, match="question"):
        whois.query_dns_ptr("192.0.2.1", wrong_question, tid=1)

def test_whois_text_postprocessing(spark):
    txt = "% comment\n# another\nOrgName: X\ninetnum: 10.0.0.0/8\n"
    df = spark.createDataFrame([(txt,)], "t string")
    stripped = df.select(whois.strip_comments(F.col("t")).alias("s")).first().s
    assert "%" not in stripped and "OrgName: X" in stripped
    sect = df.select(whois.extract_section(F.col("t"), "^inetnum").alias("s")).first().s
    assert sect.startswith("inetnum")

def test_whois_cache_roundtrip(spark, tmp_path):
    path = str(tmp_path / "cache")
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    whois.cache_upsert(spark, path, "whois", [("AS100", "org A")], now=t0)
    whois.cache_upsert(spark, path, "whois", [("AS200", "org B")], now=t0)
    cache = whois.read_cache(spark, path)
    assert cache.count() == 2
    # stale-while-revalidate: at t0+1h with ttl 30m both rows stale
    qs = spark.createDataFrame([("AS100",), ("AS300",)], "query string")
    got = {
        r.query: r
        for r in whois.cache_lookup(
            cache, "whois", qs, ttl_seconds=1800,
            now=t0 + dt.timedelta(hours=1),
        ).collect()
    }
    assert got["AS100"].val == "org A" and got["AS100"].stale
    assert got["AS300"].val is None and not got["AS300"].stale
    # upsert overwrites
    whois.cache_upsert(spark, path, "whois", [("AS100", "org A v2")], now=t0)
    v = {
        r.query: r.val for r in whois.read_cache(spark, path).collect()
    }
    assert v["AS100"] == "org A v2" and v["AS200"] == "org B"

def test_enrich_join(spark, tmp_path):
    path = str(tmp_path / "cache")
    whois.cache_upsert(spark, path, "whois", [("AS100", "org A")])
    cache = whois.read_cache(spark, path)
    df = spark.createDataFrame([("AS100",), ("AS999",)], "asn string")
    out = {r.asn: r.whois_val for r in whois.enrich(df, cache, "whois", "asn").collect()}
    assert out == {"AS100": "org A", "AS999": None}

def test_attrs_dim_and_compact(spark, tmp_path):
    hist = build_history(
        make_updates(
            spark,
            [u("10.0.0.0/24", t=i, aspath=[("Seq", [100 + (i % 2)])]) for i in range(6)],
        )
    )
    dim = attrs_dim(hist)
    assert dim.count() == 2  # two distinct attr sets
    path = str(tmp_path / "snap")
    write_snapshot(hist, path)
    compact(spark, path, history_depth=2)
    back = read_snapshot(spark, path)
    assert back.count() == 2  # retention applied in-place
    # atomic swap discipline: no leftover tmp/bak dirs
    import os
    assert not os.path.exists(path + ".tmp") and not os.path.exists(path + ".bak")

def test_compact_never_overwrites_source_in_place(spark, tmp_path, monkeypatch):
    """The reference writes tmp-then-rename (src/bgprib.rs:903-923); assert
    compact() never issues a write into the live source path — an
    overwrite-in-place would let executor loss mid-write recompute lineage
    from a directory being deleted."""
    import bgpexplorer_spark.operators.rib as ribmod

    hist = build_history(
        make_updates(spark, [u("10.0.0.0/24", t=i) for i in range(4)])
    )
    path = str(tmp_path / "snap")
    write_snapshot(hist, path)

    real_write = ribmod.write_snapshot
    targets = []

    def spy(df, p):
        targets.append(p)
        return real_write(df, p)

    monkeypatch.setattr(ribmod, "write_snapshot", spy)
    ribmod.compact(spark, path, history_depth=1)
    assert targets == [path + ".tmp"]  # the live path is only ever renamed onto
    assert read_snapshot(spark, path).count() == 1

def test_http_api_end_to_end(spark):
    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/24", t=1, aspath=[("Seq", [100])]),
                u("10.0.1.0/24", t=2),
                u("11.0.0.0/24", t=3),
            ],
        )
    ).cache()
    sessions = spark.createDataFrame(
        [(0, "192.0.2.1", 65000, "192.0.2.2", 65001)],
        "session_id int, peer1_addr string, peer1_as long, peer2_addr string, peer2_as long",
    )
    svc = BgpExplorerService(hist, sessions)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        assert urllib.request.urlopen(base + "/api/ping").read() == b"pong"
        st = json.loads(urllib.request.urlopen(base + "/api/state").read())
        assert st["state"] == "Established"
        resp = json.loads(
            urllib.request.urlopen(
                base + "/api/json/ipv4u?filter=10.0.0.0/8&limit=10"
            ).read()
        )
        assert resp["ribtype"] == "ipv4u"
        assert resp["found"] == 2 and resp["length"] == 3
        assert set(resp["items"]) == {"10.0.0.0/24", "10.0.1.0/24"}
        stats = json.loads(urllib.request.urlopen(base + "/api/statistics").read())
        # the reference envelope (src/ribservice.rs:168-219): stores /
        # ribs / counters, all 15 rib keys present even when empty
        assert stats["ribs"]["ipv4u"] == 3 and stats["ribs"]["evpn"] == 0
        assert len(stats["ribs"]) == 15
        assert stats["counters"]["updates"] >= 3
        assert set(stats["stores"]) == {
            "attrs", "pathes", "comms", "lcomms", "extcomms", "clusters",
        }
        assert stats["ribs_detail"]["ipv4u"]["routes"] == 3
        sess = json.loads(urllib.request.urlopen(base + "/api/sessions").read())
        # reference BgpSessionStorage map shape: {sid: {peer1, peer2}}
        assert sess["0"]["peer1"]["as_num"] == 65000
        assert "addr" in sess["0"]["peer1"] and "peer2" in sess["0"]
        # unknown rib falls back to ipv4u (reference quirk)
        resp2 = json.loads(
            urllib.request.urlopen(base + "/api/json/nonsense?limit=1").read()
        )
        assert resp2["ribtype"] == "ipv4u"
        # 404 path
        try:
            urllib.request.urlopen(base + "/api/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        httpd.shutdown()

def test_http_whois_and_dns_endpoints(spark):
    """/api/whois[/<mode>]?query=… and /api/dns/<addr> over injected
    transports (reference handle_query src/whoissvc.rs:520-600: section
    extraction per mode, comment filtering, raw passthrough)."""
    hist = build_history(make_updates(spark, [u("10.0.0.0/24", t=1)])).cache()
    svc = BgpExplorerService(hist)

    whois_text = (
        "% comment line\n"
        "remarks: preamble\n"
        "aut-num: AS65000\n"
        "descr: example\n"
    )
    svc.whois_transport = lambda server, query: whois_text
    svc.dns_transport = lambda pkt: _ptr_answer(pkt, ["ptr", "example", "net"])

    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        # default mode: comments filtered
        body = urllib.request.urlopen(base + "/api/whois?query=AS65000").read().decode()
        assert "% comment" not in body and "aut-num: AS65000" in body
        # as mode: skip_while until the aut-num line
        body2 = urllib.request.urlopen(base + "/api/whois/as?query=AS65000").read().decode()
        assert body2.startswith("aut-num: AS65000")
        assert "preamble" not in body2
        # raw mode: untouched
        raw = urllib.request.urlopen(base + "/api/whois/raw?query=AS65000").read().decode()
        assert "% comment" in raw
        # missing query → 400
        try:
            urllib.request.urlopen(base + "/api/whois")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # dns PTR
        dns = urllib.request.urlopen(base + "/api/dns/192.0.2.1").read().decode()
        assert "ptr.example.net." in dns
    finally:
        httpd.shutdown()


def test_http_malformed_numeric_param_is_400(spark):
    """A non-integer or out-of-range numeric URL parameter is the
    client's error: 400 naming the parameter, never a 500."""
    hist = build_history(make_updates(spark, [u("10.0.0.0/24", t=1)])).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        for path, name in [
            ("/api/json/ipv4u?limit=abc", "limit"),
            ("/api/json/ipv4u?skip=-1", "skip"),
            ("/api/json/ipv4u?limit=-5", "limit"),
            ("/api/json/ipv4u?maxdepth=-2", "maxdepth"),
            ("/api/analytics/moas?k=x", "k"),
            ("/api/analytics/moas?skip=1.5", "skip"),
            ("/api/analytics/flappers?k=x", "k"),
            ("/api/analytics/convergence?gap=soon", "gap"),
            ("/api/analytics/damping?half_life=0", "half_life"),
        ]:
            try:
                urllib.request.urlopen(base + path)
                raise AssertionError(f"expected 400 for {path}")
            except urllib.error.HTTPError as e:
                assert e.code == 400, (path, e.code)
                assert json.loads(e.read())["error"].startswith(name + " "), path
        # well-formed values still answer
        ok = json.loads(urllib.request.urlopen(base + "/api/json/ipv4u?limit=1&skip=0").read())
        assert ok["limit"] == 1 and ok["length"] == 1
    finally:
        httpd.shutdown()


def test_http_malformed_time_param_is_400(spark):
    """A time parameter that is neither epoch millis nor RFC 3339 is the
    client's error: 400 naming the parameter, never a 500."""
    hist = build_history(make_updates(spark, [u("10.0.0.0/24", t=1)])).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        for path, name in [
            ("/api/json/ipv4u?changed_after=yesterday", "changed_after"),
            ("/api/json/ipv4u?changed_before=2024-13-01", "changed_before"),
            ("/api/json/ipv4u?asof=soon", "asof"),
            ("/api/json/ipv4u?asof=99999999999999999999", "asof"),
            ("/api/analytics/moas?asof=x", "asof"),
            ("/api/analytics/ages?asof=1.5", "asof"),
            ("/api/analytics/diff?t1=0&t2=later", "t2"),
            ("/api/analytics/diff?t1=then", "t1"),
            ("/api/analytics/damping?at=noon", "at"),
        ]:
            try:
                urllib.request.urlopen(base + path)
                raise AssertionError(f"expected 400 for {path}")
            except urllib.error.HTTPError as e:
                assert e.code == 400, (path, e.code)
                assert json.loads(e.read())["error"].startswith(name + " "), path
        # well-formed values still answer: epoch millis and RFC 3339
        for q in ("changed_after=0", "changed_before=2100-01-01T00:00:00Z"):
            ok = json.loads(urllib.request.urlopen(f"{base}/api/json/ipv4u?{q}").read())
            assert ok["found"] == 1, q
    finally:
        httpd.shutdown()


def test_http_500_is_logged_with_traceback(spark, caplog, monkeypatch):
    """An engine error answers 500 with the same body as before, and
    the log gets the path and the traceback."""
    hist = build_history(make_updates(spark, [u("10.0.0.0/24", t=1)]))
    svc = BgpExplorerService(hist)

    def broken():
        raise RuntimeError("statistics exploded")

    monkeypatch.setattr(svc, "api_statistics", broken)
    httpd = serve(svc, port=0)
    try:
        with caplog.at_level("ERROR", logger="bgpexplorer_spark.api"):
            try:
                urllib.request.urlopen(
                    f"http://127.0.0.1:{httpd.server_address[1]}/api/statistics?x=1"
                )
                raise AssertionError("expected 500")
            except urllib.error.HTTPError as e:
                assert e.code == 500
                assert json.loads(e.read()) == {"error": "statistics exploded"}
    finally:
        httpd.shutdown()
    (rec,) = [r for r in caplog.records if r.name == "bgpexplorer_spark.api"]
    assert rec.levelname == "ERROR" and "/api/statistics?x=1" in rec.getMessage()
    assert rec.exc_info[0] is RuntimeError
    assert "statistics exploded" in caplog.text and "Traceback" in caplog.text


def test_api_asof_time_travel(spark):
    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/24", t=10),
                u("10.0.1.0/24", t=100),
                u("10.0.0.0/24", t=200, op="withdraw"),
            ],
        )
    ).cache()
    svc = BgpExplorerService(hist)
    # at t=50 only the first route exists
    at = int(T0.timestamp() * 1000) + 50 * 1000
    resp = svc.api_json("ipv4u", filter="10.0.0.0/8", asof=at)
    assert set(resp["items"]) == {"10.0.0.0/24"}
    assert resp["length"] == 1 and resp["found"] == 1
    # at t=150 both routes exist, withdraw not yet seen
    resp2 = svc.api_json("ipv4u", filter="10.0.0.0/8", asof=at + 100_000)
    assert set(resp2["items"]) == {"10.0.0.0/24", "10.0.1.0/24"}
    # un-truncated view still sees everything incl. the tombstone entry
    resp3 = svc.api_json("ipv4u", filter="10.0.0.0/8")
    assert resp3["length"] == 2 and set(resp3["items"]) == {"10.0.0.0/24", "10.0.1.0/24"}


def test_api_analytics_endpoints(spark):
    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/16", t=0, session_id=0, aspath=[("Seq", [100, 300])]),
                u("10.0.0.0/16", t=10, session_id=1, aspath=[("Seq", [100, 301])]),
                u("10.1.0.0/16", t=5, aspath=[("Seq", [200, 400])]),
                u("10.1.0.0/16", t=6, op="withdraw"),
                u("10.1.0.0/16", t=7, aspath=[("Seq", [200, 400])]),
            ],
        )
    ).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        moas = json.loads(urllib.request.urlopen(base + "/api/analytics/moas").read())
        assert moas == [{"nlri": "10.0.0.0/16", "origins": [300, 301], "n_origins": 2}]
        # time-traveled to before the second session announced: no conflict
        at = int(T0.timestamp() * 1000) + 5_000
        moas0 = json.loads(
            urllib.request.urlopen(base + f"/api/analytics/moas?asof={at}").read()
        )
        assert moas0 == []
        fl = json.loads(
            urllib.request.urlopen(base + "/api/analytics/flappers?k=1").read()
        )
        assert fl[0]["nlri"] == "10.1.0.0/16" and fl[0]["n_flips"] == 2
    finally:
        httpd.shutdown()


def test_http_rpki_endpoint(spark):
    """GET /api/analytics/rpki — RFC 6811 verdicts of the active state
    against the service's ROA table (valid / invalid-by-origin /
    invalid-by-maxlen / notfound all represented)."""
    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/24", t=1, aspath=[("Seq", [65000, 100])]),  # Valid
                u("10.0.1.0/24", t=2, aspath=[("Seq", [65000, 999])]),  # bad origin
                u("10.0.2.0/28", t=3, aspath=[("Seq", [100])]),         # > max_len
                u("11.0.0.0/24", t=4, aspath=[("Seq", [100])]),         # NotFound
            ],
        )
    ).cache()
    roas = spark.createDataFrame(
        [(10 * 2**24, 16, 24, 100)], "net long, plen int, max_len int, asn long"
    )
    svc = BgpExplorerService(hist, roas=roas)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        r = json.loads(
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/analytics/rpki?rib=ipv4u"
            ).read()
        )
        assert (r["valid"], r["invalid"], r["notfound"]) == (1, 2, 1)
        assert [x["nlri"] for x in r["invalid_routes"]] == [
            "10.0.1.0/24", "10.0.2.0/28",
        ]
        assert r["invalid_routes"][0]["origin_as"] == 999
    finally:
        httpd.shutdown()
    # no ROA table configured → explicit error envelope
    svc2 = BgpExplorerService(hist)
    assert "error" in svc2.api_rpki()


def test_http_diff_endpoint(spark):
    """GET /api/analytics/diff — added/removed/origin_changed between two
    time-traveled states."""
    import datetime as dt

    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/24", t=1, aspath=[("Seq", [1, 100])]),
                u("10.0.0.0/24", t=5, aspath=[("Seq", [1, 200])]),
                u("10.0.2.0/24", t=5, aspath=[("Seq", [1, 300])]),
            ],
        )
    ).cache()
    ts_min = hist.agg({"ts": "min"}).first()[0]
    base_ms = int(ts_min.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) - 1000
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        r = json.loads(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/analytics/diff"
            f"?t1={base_ms + 2000}&t2={base_ms + 6000}"
        ).read())
        got = {x["nlri"]: x["change"] for x in r}
        assert got == {"10.0.0.0/24": "origin_changed", "10.0.2.0/24": "added"}
        # missing params → explicit error envelope
        r2 = json.loads(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/analytics/diff"
        ).read())
        assert "error" in r2[0]
    finally:
        httpd.shutdown()


def test_http_bogons_endpoint(spark):
    """GET /api/analytics/bogons — bogon-ASN and martian-prefix offenders
    of the active state."""
    hist = build_history(
        make_updates(
            spark,
            [
                u("11.0.0.0/24", t=1, aspath=[("Seq", [100, 3356])]),    # clean
                u("12.0.0.0/24", t=2, aspath=[("Seq", [100, 64512])]),   # bogon ASN
                u("192.168.1.0/24", t=3, aspath=[("Seq", [100, 200])]),  # martian
            ],
        )
    ).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        r = json.loads(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/analytics/bogons"
        ).read())
        got = {(x["nlri"], x["kind"]): x["detail"] for x in r}
        assert got == {
            ("12.0.0.0/24", "bogon-asn"): "64512",
            ("192.168.1.0/24", "martian-prefix"): "rfc1918-192",
        }
    finally:
        httpd.shutdown()


def test_start_listeners_from_config(spark, tmp_path):
    """S12 → daemon glue: an ini with a bgppassive and a bmppassive peer
    boots both adapters; a BGP session against the configured
    protolisten lands rows in the shared ingest dir with the configured
    identity."""
    import socket
    import time

    from bgpexplorer_spark.config import from_inifile, start_listeners
    from bgpexplorer_spark.sources.mrt import encode_bgp_update_body
    from bgpexplorer_spark.streaming.bgplive import (
        encode_bgp_message, encode_bgp_open, parse_bgp_open,
    )

    ini = tmp_path / "bgpexplorer.ini"
    ini.write_text(
        "[main]\nrouterid=10.0.0.123\npeeras=64999\n"
        "protolisten=127.0.0.1:0\n\n"
        "[r1]\nmode=bgppassive\n\n"
        "[m1]\nmode=bmppassive\nlisten=127.0.0.1:0\n"
    )
    cfg = from_inifile(str(ini))
    assert cfg.peeras == 64999 and cfg.routerid == "10.0.0.123"
    out = str(tmp_path / "ingest")
    listeners = start_listeners(cfg, out)
    try:
        assert len(listeners) == 2  # one BGP speaker + one BMP station
        bgp = listeners[0]
        with socket.create_connection((bgp.host, bgp.port), timeout=10) as s:
            s.sendall(encode_bgp_open(65001, 60, 0x01020304))
            hdr = b""
            while len(hdr) < 19:
                hdr += s.recv(19 - len(hdr))
            import struct as _st

            msglen = _st.unpack(">H", hdr[16:18])[0]
            body = b""
            while len(body) < msglen - 19:
                body += s.recv(msglen - 19 - len(body))
            st_as, _hold, _as4 = parse_bgp_open(body)
            assert st_as == 64999  # identity from the ini
            s.sendall(encode_bgp_message(2, encode_bgp_update_body(
                nlri=[(0x0B000000, 24)], origin=0,
                aspath=[(2, [65001])], nexthop=0x01020304,
            )))
            time.sleep(1.2)
    finally:
        for ln in listeners:
            ln.stop()
    upd = spark.read.parquet(out)
    assert {r.nlri_str for r in upd.collect()} == {"11.0.0.0/24"}


def test_caps_config_reaches_the_open(spark, tmp_path):
    """Per-peer caps string -> multiprotocol capabilities in our OPEN."""
    import socket
    import struct as _st

    from bgpexplorer_spark.config import from_inifile, parse_caps, start_listeners
    from bgpexplorer_spark.streaming.bgplive import (
        encode_bgp_open, parse_bgp_open,
    )

    assert parse_caps("all")[:2] == ["ipv4u", "ipv4lu"]
    assert parse_caps("minimal") == ["ipv4u"]
    assert parse_caps("ipv6u,vpnv4u,asn32,bogus") == ["ipv6u", "vpnv4u"]

    ini = tmp_path / "c.ini"
    ini.write_text(
        "[main]\nrouterid=1.2.3.4\npeeras=65100\nprotolisten=127.0.0.1:0\n\n"
        "[r1]\nmode=bgppassive\ncaps=ipv6u,vpnv4u\n"
    )
    listeners = start_listeners(from_inifile(str(ini)), str(tmp_path / "out"))
    try:
        bgp = listeners[0]
        with socket.create_connection((bgp.host, bgp.port), timeout=10) as s:
            s.sendall(encode_bgp_open(65001, 60, 0x01020304))
            hdr = b""
            while len(hdr) < 19:
                hdr += s.recv(19 - len(hdr))
            msglen = _st.unpack(">H", hdr[16:18])[0]
            body = b""
            while len(body) < msglen - 19:
                body += s.recv(msglen - 19 - len(body))
            peer_as, _h, as4, mp = parse_bgp_open(body, with_mp=True)
            assert (peer_as, as4) == (65100, True)
            assert mp == {(2, 1), (1, 128)}  # ipv6u + vpnv4u
    finally:
        for ln in listeners:
            ln.stop()


def test_http_damping_endpoint(spark):
    """GET /api/analytics/damping — decayed penalties served over HTTP,
    defaulting the evaluation instant to the newest event."""
    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/24", t=0, aspath=[("Seq", [1])]),
                u("10.0.0.0/24", t=10, op="withdraw"),
                u("10.0.0.0/24", t=20, aspath=[("Seq", [1])]),
                u("10.0.0.0/24", t=30, op="withdraw"),
                u("10.0.1.0/24", t=5, aspath=[("Seq", [2])]),
            ],
        )
    ).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        r = json.loads(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/analytics/damping?half_life=300"
        ).read())
        assert len(r) == 1 and r[0]["nlri"] == "10.0.0.0/24"
        assert r[0]["n_flaps"] == 2
        # at t=30 (newest): 1000*exp(-lam*20) + 1000 > 1750
        assert 1900 < r[0]["penalty"] <= 2000
    finally:
        httpd.shutdown()


def test_http_api_session_stability(spark):
    """GET /api/analytics/sessions — the per-peer FSM rollup served over
    HTTP when the service holds a state-change log."""
    import json
    import urllib.request

    import datetime as dt

    from bgpexplorer_spark.api import BgpExplorerService, serve
    from bgpexplorer_spark.operators.ingest import build_history

    from tests.ribdata import make_updates, u

    t0 = dt.datetime(2024, 1, 1)
    changes = spark.createDataFrame(
        [
            ("10.0.0.1", 65001, t0, 1, 6),
            ("10.0.0.1", 65001, t0 + dt.timedelta(seconds=9), 6, 1),
        ],
        "peer_addr string, peer_as long, ts timestamp, "
        "old_state int, new_state int",
    )
    hist = build_history(make_updates(spark, [u("10.0.0.0/24", t=1)])).cache()
    svc = BgpExplorerService(hist, state_changes=changes)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        got = json.loads(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/analytics/sessions").read())
    finally:
        httpd.shutdown()
    [row] = got
    assert (row["peer"], row["established"], row["lost"], row["last_state"]) \
        == ("10.0.0.1", 1, 1, 1)
    assert row["last_ts"] - row["first_ts"] == 9000


def test_http_static_files_from_httproot(spark, tmp_path):
    """S8 — the reference serves its contrib/ browser UI from httproot
    with '/' -> /index.html (src/main.rs:168-173); traversal outside the
    root 404s."""
    from bgpexplorer_spark.config import SvcConfig

    (tmp_path / "index.html").write_text("<html>bgpexplorer</html>")
    (tmp_path / "app.js").write_text("console.log(1)")
    hist = build_history(make_updates(spark, [u("10.0.0.0/24", t=1)])).cache()
    cfg = SvcConfig(httproot=str(tmp_path))
    svc = BgpExplorerService(hist, svc_config=cfg)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        r = urllib.request.urlopen(base + "/")
        assert r.read() == b"<html>bgpexplorer</html>"
        assert r.headers["Content-Type"].startswith("text/html")
        r2 = urllib.request.urlopen(base + "/app.js")
        assert b"console" in r2.read()
        for bad in ("/../etc/hosts", "/missing.html"):
            try:
                urllib.request.urlopen(base + bad)
                raise AssertionError("expected 404")
            except urllib.error.HTTPError as e:
                assert e.code == 404
        # API routes still win over files
        assert urllib.request.urlopen(base + "/api/ping").read() == b"pong"
    finally:
        httpd.shutdown()


def test_http_relationship_endpoints(spark):
    """GET /api/analytics/relationships and /cones — the Gao inference
    and cone rollup served over the active state: [10,50,100] paths up
    and over transit AS 50 (summit by degree)."""
    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/16", t=0, aspath=[("Seq", [10, 50, 100])]),
                u("10.1.0.0/16", t=1, aspath=[("Seq", [11, 50, 100])]),
                u("10.2.0.0/16", t=2, aspath=[("Seq", [12, 50, 101])]),
            ],
        )
    ).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        rels = json.loads(
            urllib.request.urlopen(base + "/api/analytics/relationships").read()
        )
        by_pair = {(r["as_low"], r["as_high"]): r["rel"] for r in rels}
        # 50 has degree 5; stubs ride uphill into it, origins downhill
        assert by_pair[(10, 50)] == "c2p" and by_pair[(11, 50)] == "c2p"
        assert by_pair[(50, 100)] == "p2c" and by_pair[(50, 101)] == "p2c"
        cones = json.loads(
            urllib.request.urlopen(base + "/api/analytics/cones?k=2").read()
        )
        assert cones[0] == {"asn": 50, "cone_size": 6}
    finally:
        httpd.shutdown()


def test_http_ages_and_agreement_endpoints(spark):
    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/16", t=0, session_id=0, aspath=[("Seq", [100])]),
                u("10.0.0.0/16", t=30, session_id=1, aspath=[("Seq", [100])]),
                u("10.1.0.0/16", t=10, session_id=0, aspath=[("Seq", [200])]),
            ],
        )
    ).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        at = int(T0.timestamp() * 1000) + 100_000
        ages = json.loads(
            urllib.request.urlopen(base + f"/api/analytics/ages?asof={at}").read()
        )
        by = {(a["nlri"], a["session_id"]): a for a in ages}
        assert by[("10.0.0.0/16", 0)]["age_sec"] == 100
        assert by[("10.0.0.0/16", 1)]["age_sec"] == 70
        assert by[("10.1.0.0/16", 0)]["age_sec"] == 90
        agree = json.loads(
            urllib.request.urlopen(base + "/api/analytics/agreement").read()
        )
        assert agree == [
            {"session_a": 0, "session_b": 1, "n_shared": 1, "jaccard": 0.5}
        ]
    finally:
        httpd.shutdown()


def test_http_leaks_endpoint(spark):
    """GET /api/analytics/leaks — the down-then-up loop path flags with
    the re-exporting AS; the clean path does not."""
    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/16", t=0, aspath=[("Seq", [1, 5, 9])]),
                u("10.1.0.0/16", t=1, aspath=[("Seq", [2, 5, 9])]),
                u("10.2.0.0/16", t=2, aspath=[("Seq", [5, 9, 5])]),
            ],
        )
    ).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        leaks = json.loads(
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/analytics/leaks"
            ).read()
        )
        assert len(leaks) == 1
        assert leaks[0]["path"] == "5 9 5" and leaks[0]["leaker_asn"] == 9
    finally:
        httpd.shutdown()


def test_http_martians_endpoint(spark):
    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/8", t=0),                      # rfc1918-10
                u("8.8.8.0/24", t=1),                      # clean
                u("224.0.1.0/24", t=2),                    # multicast
                u("2001:db8::/32", rib="ipv4u", t=3),      # v6 doc (key v6)
            ],
        )
    ).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        got = json.loads(
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/analytics/martians"
            ).read()
        )
        by = {g["nlri"]: g["range"] for g in got}
        assert by["10.0.0.0/8"] == "rfc1918-10"
        assert by["224.0.1.0/24"] == "multicast"
        assert by["2001:db8::/32"] == "doc-2001db8"
        assert "8.8.8.0/24" not in by
    finally:
        httpd.shutdown()


def test_http_analytics_pagination_caps(spark):
    """Every analytics list endpoint takes k (limit) + skip (offset):
    at DFZ scale these reports run 10^3-10^5 rows, so an uncapped
    collect is a driver-memory DoS. Asserts truncation AND that
    skip-paging walks the same deterministic order."""
    # 12 MOAS conflicts + 12 martians so defaults vs k=3 differ
    rows = []
    for i in range(12):
        rows.append(u(f"11.{i}.0.0/16", t=0, session_id=0,
                      aspath=[("Seq", [100, 300])]))
        rows.append(u(f"11.{i}.0.0/16", t=1, session_id=1,
                      aspath=[("Seq", [100, 301])]))
        rows.append(u(f"192.168.{i}.0/24", t=2,
                      aspath=[("Seq", [100, 200 + i])]))
    hist = build_history(make_updates(spark, rows)).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]

    def get(path):
        return json.loads(
            urllib.request.urlopen(f"http://127.0.0.1:{port}{path}").read()
        )

    try:
        full = get("/api/analytics/moas")
        assert len(full) == 12
        page1 = get("/api/analytics/moas?k=3")
        assert page1 == full[:3]
        page2 = get("/api/analytics/moas?k=3&skip=3")
        assert page2 == full[3:6]

        mart = get("/api/analytics/martians")
        assert len(mart) == 12
        assert get("/api/analytics/martians?k=5") == mart[:5]
        assert get("/api/analytics/martians?k=5&skip=10") == mart[10:]

        bog = get("/api/analytics/bogons")
        assert len(bog) == 12  # all martian-prefix rows
        assert get("/api/analytics/bogons?k=4&skip=2") == bog[2:6]

        rel = get("/api/analytics/relationships")
        assert len(rel) > 2
        assert get("/api/analytics/relationships?k=2") == rel[:2]

        agr = get("/api/analytics/agreement?k=1")
        assert len(agr) <= 1
    finally:
        httpd.shutdown()


def test_http_bundled_ui_served_at_root(spark):
    """S8 out-of-the-box: GET / serves the bundled explorer UI
    (contrib/index.html) when the configured httproot doesn't exist as
    a directory — a user hitting the service root gets the rib
    selector / filter / nested-history explorer, like the reference's
    shipped contrib page."""
    hist = build_history(
        make_updates(spark, [u("10.0.0.0/24", t=0,
                               aspath=[("Seq", [100])])])
    ).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        resp = urllib.request.urlopen(f"http://127.0.0.1:{port}/")
        assert resp.headers["Content-Type"].startswith("text/html")
        html = resp.read().decode()
        # the explorer's functional anchors: rib list, filter box,
        # nested-history fetch against /api/json, filter help terms
        assert "/api/json/" in html
        assert 'id="filter"' in html and 'id="rib"' in html
        for rib in ("ipv4u", "vpnv6u", "evpn"):
            assert rib in html
        for term in ("as:", "community:", "rd:", "nh:", "re:"):
            assert term in html
        # statistics + whois panels wired to their endpoints
        assert "/api/statistics" in html and "/api/whois/" in html
    finally:
        httpd.shutdown()


def test_http_upstreams_and_deagg_endpoints(spark):
    """GET /api/analytics/upstreams and /deagg — per-origin resilience
    and table-bloat reports, paged like every analytics endpoint."""
    hist = build_history(make_updates(spark, [
        u("11.0.0.0/16", t=1, aspath=[("Seq", [100, 300])]),
        u("11.0.1.0/24", t=2, aspath=[("Seq", [101, 300])]),
        u("11.9.0.0/24", t=3, aspath=[("Seq", [101, 400])]),
    ])).cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        up = json.loads(urllib.request.urlopen(
            base + "/api/analytics/upstreams").read())
        got = {x["origin_as"]: (x["n_upstreams"], x["single_homed"]) for x in up}
        assert got == {300: (2, False), 400: (1, True)}
        assert len(json.loads(urllib.request.urlopen(
            base + "/api/analytics/upstreams?k=1").read())) == 1
        dg = json.loads(urllib.request.urlopen(
            base + "/api/analytics/deagg").read())
        got2 = {x["origin_as"]: (x["n_prefixes"], x["n_covered"]) for x in dg}
        assert got2 == {300: (2, 1), 400: (1, 0)}
    finally:
        httpd.shutdown()


def test_http_hijacks_and_convergence_endpoints(spark):
    """GET /api/analytics/hijacks and /convergence — sub-prefix hijack
    candidates and per-prefix convergence bursts, paged like every
    analytics endpoint."""
    hist = build_history(make_updates(spark, [
        u("11.0.0.0/16", t=0, aspath=[("Seq", [1, 100])]),
        u("11.0.1.0/24", t=5, aspath=[("Seq", [1, 666])]),
        u("11.0.1.0/24", t=8, session_id=1, aspath=[("Seq", [1, 666])]),
        u("11.0.1.0/24", t=700, aspath=[("Seq", [1, 666])]),
    ]), history_mode="every").cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        hj = json.loads(urllib.request.urlopen(
            base + "/api/analytics/hijacks").read())
        assert hj == [{
            "prefix": "11.0.1.0/24", "origin_as": 666,
            "cover_plen": 16, "cover_origins": "100",
        }]
        assert json.loads(urllib.request.urlopen(
            base + "/api/analytics/hijacks?k=1&skip=1").read()) == []

        cv = json.loads(urllib.request.urlopen(
            base + "/api/analytics/convergence").read())
        got = {(x["prefix"], x["burst"]): (x["n_events"], x["n_sessions"],
                                           x["duration_ms"]) for x in cv}
        assert got == {
            ("11.0.0.0/16", 1): (1, 1, 0),
            ("11.0.1.0/24", 1): (2, 2, 3000),
            ("11.0.1.0/24", 2): (1, 1, 0),
        }
        # custom gap merges the bursts
        cv2 = json.loads(urllib.request.urlopen(
            base + "/api/analytics/convergence?gap=1000").read())
        assert {(x["prefix"], x["burst"]): x["n_events"] for x in cv2} == {
            ("11.0.0.0/16", 1): 1, ("11.0.1.0/24", 1): 3,
        }
        assert len(json.loads(urllib.request.urlopen(
            base + "/api/analytics/convergence?k=2").read())) == 2
    finally:
        httpd.shutdown()


def test_http_inflation_and_uptime_endpoints(spark):
    """GET /api/analytics/inflation and /uptime — path-inflation spread
    and time-weighted availability, paged like every analytics list."""
    hist = build_history(make_updates(spark, [
        u("11.0.0.0/16", t=0, aspath=[("Seq", [1, 2])]),
        u("11.0.0.0/16", t=10, session_id=1,
          aspath=[("Seq", [1, 9, 9, 8, 2])]),  # collapsed len 4
        u("11.0.0.0/16", t=20, op="withdraw"),
    ]), history_mode="every").cache()
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        inf = json.loads(urllib.request.urlopen(
            base + "/api/analytics/inflation").read())
        # active state: only session 1 (session 0 withdrawn) → one route
        assert inf == [{"prefix": "11.0.0.0/16", "min_len": 4,
                        "max_len": 4, "n_routes": 1, "n_inflated": 0}]

        upt = json.loads(urllib.request.urlopen(
            base + "/api/analytics/uptime").read())
        got = {(x["prefix"], x["session_id"]):
               (x["uptime_ms"], x["observed_ms"], x["uptime_fraction"])
               for x in upt}
        # s0: up 0-20s of 20s observed; s1: up 10-20s of 10s observed
        assert got[("11.0.0.0/16", 0)] == (20000, 20000, 1.0)
        assert got[("11.0.0.0/16", 1)] == (10000, 10000, 1.0)
        assert len(json.loads(urllib.request.urlopen(
            base + "/api/analytics/uptime?k=1").read())) == 1
    finally:
        httpd.shutdown()


def test_shipped_config_files_boot(tmp_path, monkeypatch):
    """Out-of-box parity (r6 VERDICT residue #1): the repo ships
    bgpexplorer.ini + whois.json like the reference does. From a fresh
    checkout — and from ANY CWD — the ini parses, whoisjsonconfig
    resolves beside the ini, the shipped whois map answers real
    referrals, and start_listeners boots the passive peers."""
    import os
    from pathlib import Path

    from bgpexplorer_spark.config import from_inifile, start_listeners
    from bgpexplorer_spark.operators.whois import WhoisServerMap

    repo = Path(__file__).resolve().parents[1]
    monkeypatch.chdir(tmp_path)  # prove ini-relative whois.json discovery
    cfg = from_inifile(str(repo / "bgpexplorer.ini"))

    assert cfg.peeras == 64512 and cfg.historymode == "differ"
    assert cfg.whoisjsonconfig == str(repo / "whois.json")
    assert os.path.isabs(cfg.whoisjsonconfig)
    assert {p.name: p.mode for p in cfg.peers} == {
        "upstream-router": "bgpactive",
        "route-collector": "bgppassive",
        "bmp-station": "bmppassive",
    }
    caps = {p.name: p.caps for p in cfg.peers}
    assert caps["upstream-router"] == "all"

    # whois referrals straight from the shipped map — no network
    m = WhoisServerMap.from_json_file(cfg.whoisjsonconfig)
    assert m.resolve("192.0.2.1") == ("whois.arin.net", "n + 192.0.2.1\r\n")
    assert m.resolve("AS64496")[0] == "whois.arin.net"
    assert m.resolve("example.org")[0] == "whois.pir.org"
    assert m.resolve("example.com")[0] == "whois.verisign-grs.com"
    assert m.resolve("example.de")[0] == "whois.ripe.net"  # "" fallback

    # boot the shipped passive peers (ports -> ephemeral so the test
    # doesn't need :179; drop the dial-out peer so nothing leaves host)
    cfg.protolisten = "127.0.0.1:0"
    cfg.peers = [p for p in cfg.peers if p.mode != "bgpactive"]
    for p in cfg.peers:
        if p.listen:
            p.listen = "127.0.0.1:0"
    listeners = start_listeners(cfg, str(tmp_path / "out"))
    try:
        assert len(listeners) == 2  # one BGP speaker + one BMP station
        assert all(ln.port > 0 for ln in listeners)
    finally:
        for ln in listeners:
            ln.stop()


def test_http_analytics_memo_reuses_checkpoint(spark):
    """Repeated dashboard polls of the expensive analytics reports
    (hijacks/deagg/relationships materialize a localCheckpointed
    distinct set per build) must reuse the per-state memo: the second
    identical request pages the checkpointed rows — >=5x faster here —
    and bump_state_version() invalidates so new state is served."""
    import time as _t

    # enough prefixes that the first build costs real work
    rows = []
    for i in range(400):
        rows.append(u(f"11.{i % 250}.0.0/16", t=i,
                      aspath=[("Seq", [1, 100 + i % 7])]))
        rows.append(u(f"11.{i % 250}.{i % 200}.0/24", t=i,
                      aspath=[("Seq", [1, 666])]))
    hist = build_history(make_updates(spark, rows), history_mode="every")
    svc = BgpExplorerService(hist)
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        t0 = _t.perf_counter()
        first = json.loads(urllib.request.urlopen(
            base + "/api/analytics/hijacks?k=5").read())
        cold = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        second = json.loads(urllib.request.urlopen(
            base + "/api/analytics/hijacks?k=5").read())
        warm = _t.perf_counter() - t0
        assert second == first and len(first) == 5
        assert warm * 5 <= cold, (cold, warm)
        # /relationships and /cones share one memo entry
        json.loads(urllib.request.urlopen(
            base + "/api/analytics/relationships?k=3").read())
        keys = {k[0] for k in svc._analytics_memo}
        assert keys == {"hijacks", "relationships"}

        # TTL bounds staleness for deployments that never wire
        # bump_state_version: an expired entry rebuilds
        svc.analytics_memo_ttl = 0.001
        json.loads(urllib.request.urlopen(
            base + "/api/analytics/relationships?k=3").read())
        assert len([k for k in svc._analytics_memo if k[0] == "relationships"]) == 1
        svc.analytics_memo_ttl = 60.0

        # invalidation: new state -> new version -> fresh build
        v0 = svc._state_version
        svc.bump_state_version()
        assert svc._state_version == v0 + 1 and not svc._analytics_memo
        again = json.loads(urllib.request.urlopen(
            base + "/api/analytics/hijacks?k=5").read())
        assert again == first  # same underlying state, rebuilt fresh
    finally:
        httpd.shutdown()


def test_memo_report_builds_once_under_concurrency(spark):
    """ThreadingHTTPServer fans requests across threads: concurrent
    FIRST requests for the same report must build it once (per-key build
    lock), while different reports still build in parallel; a version
    bump mid-build must not poison the memo for the new version."""
    import threading as _th

    hist = build_history(
        make_updates(spark, [u("10.0.0.0/24", t=1)]), history_mode="every"
    )
    svc = BgpExplorerService(hist)
    calls = {"n": 0}
    gate = _th.Barrier(4)

    def build():
        calls["n"] += 1
        import time as _t

        _t.sleep(0.2)  # widen the race window
        return hist.limit(1)

    def worker():
        gate.wait()
        svc._memo_report("r", "ipv4u", build)

    threads = [_th.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls["n"] == 1

    # a bump between lookup and store keys the frame to the version it
    # was built from: the new version's first request rebuilds
    v_key = ("r", "ipv4u", svc._state_version)
    assert v_key in svc._analytics_memo
    svc.bump_state_version()
    assert not svc._analytics_memo
    svc._memo_report("r", "ipv4u", build)
    assert calls["n"] == 2


# --- S9/S10 loopback socket e2e ---------------------------------------------
# Canned-response listeners on 127.0.0.1 drive the REAL TCP (whois) and
# UDP (DNS) stacks end-to-end through the HTTP serving layer — transports
# built from config, no injection (reference src/whoissvc.rs:395-457
# referral walk, :251-394 DNS wire path).


class _CannedWhoisListener:
    """One-shot-per-connection whois responder (port 43 protocol shape:
    read to CRLF, write text, close)."""

    def __init__(self, responder):
        import socket as _sk
        import threading as _th

        self.sock = _sk.socket()
        self.sock.setsockopt(_sk.SOL_SOCKET, _sk.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(5)
        self.port = self.sock.getsockname()[1]
        self.queries = []
        self._responder = responder
        _th.Thread(target=self._run, daemon=True).start()

    def _run(self):
        while True:
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            with conn:
                data = b""
                while not data.endswith(b"\r\n"):
                    b = conn.recv(4096)
                    if not b:
                        break
                    data += b
                q = data.decode().strip()
                self.queries.append(q)
                conn.sendall(self._responder(q).encode())

    def close(self):
        self.sock.close()


class _CannedDnsListener:
    """UDP responder: echoes tid + question, answers one PTR record."""

    def __init__(self, ptr_name: str):
        import socket as _sk
        import threading as _th

        self.sock = _sk.socket(_sk.AF_INET, _sk.SOCK_DGRAM)
        self.sock.bind(("127.0.0.1", 0))
        self.port = self.sock.getsockname()[1]
        self.requests = []
        self._ptr = ptr_name
        _th.Thread(target=self._run, daemon=True).start()

    def _run(self):
        import struct as _st

        while True:
            try:
                data, addr = self.sock.recvfrom(4096)
            except OSError:
                return
            self.requests.append(data)
            q = data[12:]  # single question, nothing else in the request
            rdata = b"".join(
                bytes([len(p)]) + p.encode()
                for p in self._ptr.rstrip(".").split(".")
            ) + b"\x00"
            rr = (b"\xc0\x0c"  # name: pointer to the question name
                  + _st.pack(">HHIH", 12, 1, 60, len(rdata)) + rdata)
            resp = data[:2] + _st.pack(">HHHHH", 0x8180, 1, 1, 0, 0) + q + rr
            self.sock.sendto(resp, addr)

    def close(self):
        self.sock.close()


def test_whois_dns_loopback_socket_e2e(spark, tmp_path):
    """GET /api/whois/<mode>?query= and /api/dns/<addr> through the real
    socket stack: config-built transports, templated first hop (ARIN
    'n $addr' syntax), ReferralServer hop WITH a port, PTR wire
    round-trip, and the stale-while-revalidate TTL cache refreshing from
    the live socket."""
    import time as _t

    final_text = {"v": "aut-num: AS65001\nOrgName: Final Org\n"}
    arin = _CannedWhoisListener(lambda q: final_text["v"])
    iana = _CannedWhoisListener(
        lambda q: "% IANA stub\n"
                  f"ReferralServer: whois://127.0.0.1:{arin.port}\n"
    )
    dns = _CannedDnsListener("host.example.com.")
    wj = tmp_path / "whois.json"
    wj.write_text(json.dumps({
        "_": {"ip": {"host": f"127.0.0.1:{iana.port}",
                     "query": "n $addr\r\n"}},
        "": f"127.0.0.1:{iana.port}",
    }))
    ini = tmp_path / "w.ini"
    ini.write_text(
        f"[main]\nwhoisjsonconfig = {wj}\n"
        f"whoisdns = 127.0.0.1:{dns.port}\n"
        "whois_request_timeout = 10\n"
    )
    cfg = cfgmod.from_inifile(str(ini))
    hist = build_history(
        make_updates(spark, [u("10.0.0.0/24", t=1)]), history_mode="every"
    )
    svc = BgpExplorerService(hist, svc_config=cfg)
    httpd = serve(svc, port=0)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        # AS form routes via the map's "_".ip entry with its query
        # template, then follows the :port-carrying referral
        got = urllib.request.urlopen(
            base + "/api/whois/as?query=AS65001", timeout=15
        ).read().decode()
        assert got == "aut-num: AS65001\nOrgName: Final Org"
        assert iana.queries == ["n AS65001"]       # templated first hop
        assert arin.queries == ["AS65001"]         # referral speaks plain

        # stale-while-revalidate: age the cache entry past the TTL — the
        # stale text serves immediately and a background refresh hits the
        # live socket again
        final_text["v"] = "aut-num: AS65001\nOrgName: Renewed Org\n"
        key = "whois:AS65001"
        ts, val = svc._ttl_cache[key]
        svc._ttl_cache[key] = (ts - 3600.0, val)
        stale = urllib.request.urlopen(
            base + "/api/whois/raw?query=AS65001", timeout=15
        ).read().decode()
        assert "Final Org" in stale                # stale served instantly
        deadline = _t.time() + 30
        while _t.time() < deadline:
            if "Renewed Org" in svc._ttl_cache[key][1]:
                break
            _t.sleep(0.2)
        assert "Renewed Org" in svc._ttl_cache[key][1]
        assert len(arin.queries) == 2              # the refresh re-walked

        # DNS PTR through the real UDP stack (config-pinned resolver)
        name = urllib.request.urlopen(
            base + "/api/dns/11.22.33.44", timeout=15
        ).read().decode()
        assert name == "host.example.com."
        # the wire packet asked for the reference's reverse-name form
        assert b"IN-ADDR" in dns.requests[0].upper() or b"in-addr" in dns.requests[0]
    finally:
        httpd.shutdown()
        arin.close()
        iana.close()
        dns.close()


def test_whois_referral_loop_protection_normalizes_ports():
    """'whois.arin.net' and 'whois.arin.net:43' are the same server —
    the port-carrying referral must not trigger a duplicate query."""
    calls = []

    def fake(server, q):
        calls.append(server)
        return "ReferralServer: whois://whois.arin.net:43\n"

    m = whois.WhoisServerMap(
        {"_": {"ip": {"host": "whois.arin.net", "query": "$addr\r\n"}}}
    )
    srv, _ = whois.query_whois("192.0.2.1", fake, server_map=m)
    assert calls == ["whois.arin.net"]  # one dial, referral recognized

    # bracketed v6 server strings parse to the bare address
    assert whois._server_hostport("[2001:db8::1]:4343") == ("2001:db8::1", 4343)
    assert whois._server_hostport("2001:db8::1") == ("2001:db8::1", 43)


def test_parse_hostport_property_sweep():
    """Hypothesis sweep: valid forms round-trip exactly; arbitrary junk
    either parses to a sane (host, port) or raises ValueError — never a
    silently-wrong bind target like host ':' or a numeric host."""
    from hypothesis import given, settings, strategies as st

    p = cfgmod.parse_hostport

    host_names = st.from_regex(r"[a-z]([a-z0-9\-]{0,10}[a-z0-9])?(\.[a-z]{2,6}){0,3}", fullmatch=True).filter(
        lambda h: not h.replace(".", "").isdigit()
    )
    v4 = st.tuples(*[st.integers(0, 255)] * 4).map(
        lambda t: ".".join(map(str, t))
    )
    v6 = st.integers(0, 2**128 - 1).map(
        lambda n: __import__("ipaddress").IPv6Address(n).compressed
    )
    ports = st.integers(0, 65535)

    @settings(max_examples=120, deadline=None)
    @given(
        host=st.one_of(host_names, v4, v6),
        port=st.one_of(st.none(), ports),
        default=ports,
    )
    def valid_forms(host, port, default):
        is_v6 = ":" in host
        if port is None:
            # bare host (v6 literals carry their own colons)
            assert p(host, default) == (host, default)
            if is_v6:
                assert p(f"[{host}]", default) == (host, default)
        else:
            addr = f"[{host}]:{port}" if is_v6 else f"{host}:{port}"
            assert p(addr, default) == (host, port)

    valid_forms()

    @settings(max_examples=150, deadline=None)
    @given(junk=st.text(max_size=24), default=ports)
    def junk_never_misbinds(junk, default):
        try:
            host, port = p(junk, default, default_host="0.0.0.0")
        except ValueError:
            return
        assert 0 <= port <= 65535  # engine-enforced port range
        assert host != ":" and not host.startswith("[")
        # a pure-digit host is the classic silent mis-bind — banned
        assert not (host.isdigit() and host == junk.strip())

    junk_never_misbinds()


def test_http_asof_served_from_materialized_view(spark, tmp_path):
    """The ?asof= serving path must answer from the MATERIALIZED batch
    view when one is wired (daemon table / snapshot CURRENT), not from
    the live frame: live here is EMPTY, so any as-of rows prove the
    provider served, through the real HTTP stack; requests without asof
    keep reading live. /api/analytics/moas?asof goes through the same
    provider."""
    from bgpexplorer_spark.schemas import UPDATES_SCHEMA

    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/24", t=10, aspath=[("Seq", [100])]),
                u("10.0.1.0/24", t=100_000),          # after the cutoff
                u("10.0.2.0/24", t=2, aspath=[("Seq", [200])]),
                u("10.0.2.0/24", t=20, op="withdraw"),  # tombstoned by T
            ],
        )
    )
    snap = str(tmp_path / "snap")
    write_snapshot(hist, snap)
    live = build_history(spark.createDataFrame([], UPDATES_SCHEMA))
    svc = BgpExplorerService(
        live, asof_history=lambda: spark.read.parquet(snap)
    )
    httpd = serve(svc, port=0)
    port = httpd.server_address[1]
    at = int(T0.timestamp() * 1000) + 50 * 1000
    try:
        base = f"http://127.0.0.1:{port}"
        resp = json.loads(
            urllib.request.urlopen(
                f"{base}/api/json/ipv4u?filter=10.0.0.0/8&asof={at}"
            ).read()
        )
        # t=100000 is after the cutoff — time travel works against the
        # view; the withdrawn 10.0.2/24 still lists (F11 semantics:
        # route-level existential over history entries, reference-quirk
        # faithful), its tombstone entry truncated at the cutoff
        assert set(resp["items"]) == {"10.0.0.0/24", "10.0.2.0/24"}
        # items nest {nlri: {session: {path: {ts_ms: attrs_json}}}}
        assert all(
            int(ts_ms) <= at
            for sessions in resp["items"].values()
            for paths in sessions.values()
            for entries in paths.values()
            for ts_ms in entries
        )
        # without asof the service reads the (empty) live frame
        live_resp = json.loads(
            urllib.request.urlopen(f"{base}/api/json/ipv4u?limit=5").read()
        )
        assert live_resp["length"] == 0 and live_resp["items"] == {}
        # analytics time travel rides the same provider
        moas = json.loads(
            urllib.request.urlopen(
                f"{base}/api/analytics/moas?rib=ipv4u&asof={at}"
            ).read()
        )
        assert moas == []  # no conflicts, but the query ran on the view
    finally:
        httpd.shutdown()
    # provider returning None falls back to live (pre-first-commit daemon)
    svc2 = BgpExplorerService(live, asof_history=lambda: None)
    resp2 = svc2.api_json("ipv4u", asof=at)
    assert resp2["length"] == 0
