"""Query pipeline — SURVEY §3.1: pagination, history filters, maxdepth,
supernet fallback, nested output (reference params src/ribservice.rs:35-113,
serializer src/bgpsvc.rs:493-661)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from bgpexplorer_spark.operators.ingest import build_history
from bgpexplorer_spark.operators.lpm import lpm_join_v4
from bgpexplorer_spark.operators.query import (
    QueryParams,
    nest_items,
    query_rib,
    serving_copy,
    to_nested_json,
)

from tests.ribdata import make_updates, ts, u

def _hist(spark, rows):
    return build_history(make_updates(spark, rows))

def test_pagination_and_counts(spark):
    rows = [u(f"10.0.{i}.0/24", t=i) for i in range(10)] + [u("11.0.0.1/32", t=99)]
    hist = _hist(spark, rows)
    r = query_rib(hist, "ipv4u", QueryParams(filter="10.0.0.0/8", skip=2, limit=3))
    assert r.length == 11
    assert r.found == 10
    page = [x.nlri_str for x in r.routes]
    assert page == ["10.0.2.0/24", "10.0.3.0/24", "10.0.4.0/24"]  # key order
    assert not r.from_supernet
    # limit 0 plans no scan for the page, so found is counted on its own
    r0 = query_rib(hist, "ipv4u", QueryParams(filter="10.0.0.0/8", limit=0))
    assert r0.found == 10 and r0.routes == [] and not r0.from_supernet

def test_empty_filter_shortcircuit(spark):
    hist = _hist(spark, [u("10.0.0.0/24", t=1), u("11.0.0.0/24", t=2)])
    r = query_rib(hist, "ipv4u", QueryParams())
    assert r.found == r.length == 2

def test_changed_bounds_strict(spark):
    hist = _hist(
        spark,
        [u("10.0.0.0/24", t=1), u("10.0.1.0/24", t=5), u("10.0.2.0/24", t=9)],
    )
    p = QueryParams(filter="10.0.0.0/8", changed_after=ts(1), changed_before=ts(9))
    r = query_rib(hist, "ipv4u", p)
    got = {x.nlri_str for x in r.routes}
    assert got == {"10.0.1.0/24"}  # strict bounds exclude t=1 and t=9

def test_onlyactive(spark):
    hist = _hist(
        spark,
        [
            u("10.0.0.0/24", t=1),
            u("10.0.0.0/24", t=2, op="withdraw"),
            u("10.0.1.0/24", t=3),
        ],
    )
    r = query_rib(hist, "ipv4u", QueryParams(filter="10.0.0.0/8", onlyactive=True))
    # route 10.0.0.0/24 still matches (its t=1 update entry is active and in
    # the depth window); history emission drops the tombstone
    assert r.found == 2
    hrows = r.history.filter(F.col("nlri_str") == "10.0.0.0/24").collect()
    assert all(x.active for x in hrows)

def test_maxdepth_match_window_quirk(spark):
    # 5 entries, maxdepth=2 → only the newest 2 are match-eligible
    rows = [
        u("10.0.0.0/24", t=i, aspath=[("Seq", [100 + i])]) for i in range(1, 6)
    ]
    hist = _hist(spark, rows)
    # as:101 only exists in the oldest entry → outside the window → no match
    r = query_rib(hist, "ipv4u", QueryParams(filter="as:101", maxdepth=2))
    assert r.found == 0
    # as:105 is the newest → matches
    r2 = query_rib(hist, "ipv4u", QueryParams(filter="as:105", maxdepth=2))
    assert r2.found == 1
    # emission limited to newest 2
    assert r2.history.count() == 2

def test_supernet_fallback(spark):
    hist = _hist(
        spark,
        [
            u("10.0.0.0/8", t=1),
            u("10.0.0.0/24", t=2),
            u("11.0.0.1/32", t=3),
        ],
    )
    # a /32 host query that matches nothing as a subnet → LPM fallback,
    # most-specific first
    r = query_rib(hist, "ipv4u", QueryParams(filter="10.0.0.77"))
    assert r.from_supernet
    page = [x.nlri_str for x in r.routes]
    assert page == ["10.0.0.0/24", "10.0.0.0/8"]
    assert r.found == 0

def test_nested_json(spark):
    hist = serving_copy(_hist(
        spark,
        [
            u("10.0.0.0/24", t=1, aspath=[("Seq", [100])]),
            u("10.0.0.0/24", t=2, op="withdraw"),
        ],
    ))
    r = query_rib(hist, "ipv4u", QueryParams(filter="10.0.0.0/24"))
    out = nest_items(r, to_nested_json(r).collect())
    assert len(out) == 1
    items = out["10.0.0.0/24"]
    sess = items["0"]          # session 0
    path = sess["0"]           # path 0
    entries = list(path.items())
    assert len(entries) == 2
    # newest first
    assert entries[0][0] > entries[1][0]
    newest = json.loads(entries[0][1])
    assert newest["active"] is False

def test_lpm_join(spark):
    routes = spark.createDataFrame(
        [
            (int.from_bytes(bytes([10, 0, 0, 0]), "big"), 8, "A"),
            (int.from_bytes(bytes([10, 1, 0, 0]), "big"), 16, "B"),
            (int.from_bytes(bytes([10, 1, 2, 0]), "big"), 24, "C"),
        ],
        "addr_v4 bigint, prefixlen int, tag string",
    )
    hosts = spark.createDataFrame(
        [
            (1, int.from_bytes(bytes([10, 1, 2, 3]), "big")),
            (2, int.from_bytes(bytes([10, 1, 9, 9]), "big")),
            (3, int.from_bytes(bytes([10, 9, 9, 9]), "big")),
            (4, int.from_bytes(bytes([192, 0, 0, 1]), "big")),
        ],
        "id bigint, addr_v4 bigint",
    )
    got = {r.id: r.tag for r in lpm_join_v4(hosts, routes).collect()}
    assert got == {1: "C", 2: "B", 3: "A"}  # host 4 unmatched

def test_maintained_length_skips_full_scan(spark):
    """O3 at scale: with a maintained ``length`` and an empty filter, the
    request must NOT run the per-rib dedup-count scan (reference serves
    length O(1), src/bgpsvc.rs:677). Counted via Spark job groups: the
    maintained path materializes the page in strictly fewer jobs."""
    rows = [u(f"10.0.{i}.0/24", t=i) for i in range(6)]
    hist = _hist(spark, rows).cache()
    hist.count()
    sc = spark.sparkContext

    def jobs_for(group, fn):
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup("other", "other")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    r_exact = query_rib(hist, "ipv4u", QueryParams())
    n_exact = jobs_for(
        "exact", lambda: query_rib(hist, "ipv4u", QueryParams())
    )
    n_maint = jobs_for(
        "maint",
        lambda: query_rib(hist, "ipv4u", QueryParams(), length=6),
    )
    assert n_maint < n_exact
    r = query_rib(hist, "ipv4u", QueryParams(), length=6)
    assert r.length == r.found == r_exact.length == 6  # envelope identical


def test_lpm_join_v6_matches_ipaddress_model(spark):
    import ipaddress
    import random

    from bgpexplorer_spark.operators.lpm import lpm_join_v6

    random.seed(7)
    nets = set()
    for _ in range(60):
        plen = random.choice([16, 32, 48, 52, 64, 96, 128])
        raw = random.getrandbits(128)
        net = ipaddress.IPv6Network((raw, plen), strict=False)
        nets.add((net.network_address.packed, plen))
    nets = sorted(nets)
    hosts = []
    for i in range(150):
        if random.random() < 0.7:  # bias onto the nets so matches exist
            base, plen = random.choice(nets)
            a = int.from_bytes(base, "big") | random.getrandbits(128 - plen)
        else:
            a = random.getrandbits(128)
        hosts.append((i, a.to_bytes(16, "big")))
    rdf = spark.createDataFrame(nets, "addr_v6 binary, prefixlen int")
    hdf = spark.createDataFrame(hosts, "hid long, addr_v6 binary")
    got = {
        r.hid: (bytes(r.matched_addr_v6), r.matched_prefixlen)
        for r in lpm_join_v6(hdf, rdf).collect()
    }
    netobjs = [
        (ipaddress.IPv6Network((int.from_bytes(b, "big"), p)), b, p) for b, p in nets
    ]
    for hid, ab in hosts:
        a = ipaddress.IPv6Address(int.from_bytes(ab, "big"))
        best = None
        for net, b, p in netobjs:
            if a in net and (best is None or p > best[1]):
                best = (b, p)
        assert got.get(hid) == best


def test_ts_cutoff_offsetless_iso_is_utc(monkeypatch):
    """An offset-less ISO asof is UTC regardless of the host timezone
    (parse_ts_param attaches UTC to naive parses)."""
    import datetime as dt

    from bgpexplorer_spark.functions.timeutil import parse_ts_param, ts_cutoff_str

    parsed = parse_ts_param("2024-01-02T00:00:00")
    assert parsed.tzinfo is not None and parsed.utcoffset() == dt.timedelta(0)
    assert ts_cutoff_str("2024-01-02T00:00:00") == "2024-01-02 00:00:00.000000"
    # explicit-offset forms still convert to UTC
    assert ts_cutoff_str("2024-01-02T05:30:00+05:30") == "2024-01-02 00:00:00.000000"


def test_nested_json_same_timestamp_entries_collapse(spark):
    """Two same-second updates for one (rib,nlri,session,path): the
    reference's BTreeMap<ts> cannot hold both (insert overwrites) — the
    nested output must collapse them to ONE entry per ts-millis,
    deterministically, whichever order the rows arrive in."""
    import json as _json

    hist = serving_copy(build_history(make_updates(spark, [
        u("10.0.0.0/24", t=0, session_id=0, aspath=[("Seq", [100])]),
        u("10.0.0.0/24", t=0, session_id=0, aspath=[("Seq", [200])]),
        u("10.0.0.0/24", t=60, session_id=0, aspath=[("Seq", [300])]),
    ])))
    r = query_rib(hist, "ipv4u", QueryParams(limit=10))
    out = nest_items(r, to_nested_json(r).collect())
    assert len(out) == 1
    items = out["10.0.0.0/24"]
    tsmap = items["0"]["0"]
    assert len(tsmap) == 2  # the t=0 pair collapsed + the t=60 entry
    # deterministic winner: the (t, kv)-max of the duplicate pair
    dup = _json.loads(tsmap[str(1704067200000)])
    assert dup["attrs"]["aspath"][0]["asns"] in ([100], [200])
    again = nest_items(r, to_nested_json(r).collect())["10.0.0.0/24"]
    assert _json.dumps(again) == _json.dumps(items)  # byte-deterministic across runs


def test_invalid_regex_term_dropped(spark):
    """An unparseable re: pattern is DROPPED at parse (the reference
    maps a failed Regex compile to FilterItem::None) — the query runs
    instead of dying with PatternSyntaxException."""
    from bgpexplorer_spark.filterlang import parse_filter

    assert parse_filter("re:[") == []
    hist = build_history(make_updates(spark, [
        u("10.0.0.0/24", t=0, aspath=[("Seq", [100])]),
    ]))
    r = query_rib(hist, "ipv4u", QueryParams(filter="re:[ 10.0.0.0/8", limit=10))
    assert r.found == 1  # the bad term vanished; the subnet term ran
