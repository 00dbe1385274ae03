"""BGP time-series analytics (operators/analytics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bgpexplorer_spark.operators import analytics
from bgpexplorer_spark.operators.ingest import build_history
from bgpexplorer_spark.operators.rib import current_state
from tests.ribdata import T0, make_updates, u

# one prefix flapping across two sessions with diverging origins; a second
# prefix announced once; a third withdrawn before the midpoint
ROWS = [
    u("10.0.0.0/16", t=0, session_id=0, aspath=[("Seq", [100, 300])]),
    u("10.0.0.0/16", t=10, session_id=1, aspath=[("Seq", [100, 301])]),
    u("10.0.0.0/16", t=20, session_id=0, op="withdraw"),
    u("10.0.0.0/16", t=30, session_id=0, aspath=[("Seq", [100, 300])]),
    u("10.1.0.0/16", t=5, session_id=0, aspath=[("Seq", [200, 400])]),
    u("10.2.0.0/16", t=2, session_id=0, aspath=[("Seq", [200, 500])]),
    u("10.2.0.0/16", t=8, session_id=0, op="withdraw"),
]

@pytest.fixture(scope="module")
def hist(spark):
    return build_history(make_updates(spark, ROWS)).cache()

def _millis(sec: int) -> int:
    return int(T0.timestamp() * 1000) + sec * 1000

def test_rib_asof_midpoint(hist):
    # at t=25: 10.0/16 s0 is withdrawn (tombstone newest), s1 active;
    # 10.1/16 active; 10.2/16 withdrawn
    st = analytics.rib_asof(hist, _millis(25))
    keys = {(r.nlri_str, r.session_id) for r in st.collect()}
    assert keys == {("10.0.0.0/16", 1), ("10.1.0.0/16", 0)}

def test_rib_asof_includes_tombstones_when_asked(hist):
    st = analytics.rib_asof(hist, _millis(25), only_active=False)
    rows = {(r.nlri_str, r.session_id): r.active for r in st.collect()}
    assert rows[("10.0.0.0/16", 0)] is False  # tombstone visible
    assert rows[("10.2.0.0/16", 0)] is False

def test_rib_asof_before_everything_is_empty(hist):
    assert analytics.rib_asof(hist, _millis(-10)).count() == 0

def test_rib_asof_end_equals_current_state(hist):
    asof = analytics.rib_asof(hist, _millis(10_000))
    cur = current_state(hist)
    assert sorted(map(tuple, asof.collect())) == sorted(map(tuple, cur.collect()))

def test_moas_conflicts(hist):
    out = {r.nlri_str: r for r in analytics.moas_conflicts(current_state(hist)).collect()}
    # only 10.0/16 has two active sessions with different origins (300, 301)
    assert set(out) == {"10.0.0.0/16"}
    assert out["10.0.0.0/16"].origins_str == "300,301"
    assert out["10.0.0.0/16"].n_origins == 2

def test_moas_full_inventory(hist):
    inv = {
        r.nlri_str: r.origins_str
        for r in analytics.moas_conflicts(current_state(hist), min_origins=1).collect()
    }
    assert inv["10.1.0.0/16"] == "400"

def test_prefix_churn_counts_and_flips(hist):
    rows = analytics.prefix_churn(hist, granularity_sec=3600).collect()
    agg = {r.nlri_str: r for r in rows}
    # 10.0/16 one bucket: 3 updates (2 s0 + 1 s1), 1 withdraw,
    # flips within s0: upd->wd->upd = 2
    assert agg["10.0.0.0/16"].n_updates == 3
    assert agg["10.0.0.0/16"].n_withdraws == 1
    assert agg["10.0.0.0/16"].n_flips == 2
    assert agg["10.0.0.0/16"].n_sessions == 2
    assert agg["10.2.0.0/16"].n_flips == 1

def test_top_flappers_order(hist):
    top = analytics.top_flappers(hist, k=2).collect()
    assert top[0].nlri_str == "10.0.0.0/16" and top[0].n_flips == 2
    assert top[1].n_flips == 1

def test_aspath_prepend_stats(spark):
    df = spark.createDataFrame(
        [(1, [100, 100, 100, 200, 300]), (2, [100, 200, 100]), (3, [7]), (4, [])],
        "id long, p array<bigint>",
    )
    out = {
        r.id: r.st
        for r in df.select(
            "id", analytics.aspath_prepend_stats(F.col("p")).alias("st")
        ).collect()
    }
    assert (out[1].path_len, out[1].uniq_len, out[1].n_prepends) == (5, 3, 2)
    # non-adjacent repeat (a leak shape) is NOT a prepend
    assert (out[2].uniq_len, out[2].n_prepends) == (3, 0)
    assert out[3].uniq_len == 1
    assert (out[4].path_len, out[4].n_prepends) == (0, 0)

def test_origin_changes(hist):
    out = analytics.origin_changes(hist).collect()
    # 10.0/16 active announcements in ts order: 300 (s0), 301 (s1), 300 (s0)
    assert [(r.prev_origin, r.new_origin) for r in out] == [(300, 301), (301, 300)]
    assert all(r.nlri_str == "10.0.0.0/16" for r in out)

def test_as_adjacency(spark):
    rows = [
        u("10.0.0.0/16", t=0, aspath=[("Seq", [100, 100, 200, 300])]),  # prepend collapses
        u("10.1.0.0/16", t=1, aspath=[("Seq", [100, 200])]),
        u("10.2.0.0/16", t=2, aspath=[("Seq", [200, 300])]),
    ]
    st = current_state(build_history(make_updates(spark, rows)))
    edges = {(r.as_a, r.as_b): r.n_routes for r in analytics.as_adjacency(st).collect()}
    assert edges == {(100, 200): 2, (200, 300): 2}  # no (100,100) self-edge

def test_rpki_validate_truth_table(spark):
    routes = spark.createDataFrame(
        [
            # (id, addr 10.0.x, plen, origin)
            (1, 10 * 2**24, 24, 100),          # covered /16, len ok, asn ok -> Valid
            (2, 10 * 2**24, 24, 999),          # asn mismatch -> Invalid
            (3, 10 * 2**24, 28, 100),          # longer than max_len 24 -> Invalid
            (4, 11 * 2**24, 24, 100),          # no covering ROA -> NotFound
            (5, 10 * 2**24, 12, 100),          # SHORTER than the ROA /16 -> not covered -> NotFound
            (6, 10 * 2**24 + 2**12, 20, 300),  # 10.0.16.0/20: /16 ROA rejects (asn), /20 ROA accepts -> Valid
        ],
        "rid long, addr_v4 long, prefixlen int, origin_as long",
    )
    roas = spark.createDataFrame(
        [
            (10 * 2**24, 16, 24, 100),          # 10.0.0.0/16 max 24 asn 100
            (10 * 2**24 + 2**12, 20, 22, 300),  # 10.0.16.0/20 max 22 asn 300
        ],
        "net long, plen int, max_len int, asn long",
    )
    out = {
        r.rid: r.validity
        for r in analytics.rpki_validate(routes, roas, roa_plens=[16, 20]).collect()
    }
    assert out == {
        1: "Valid", 2: "Invalid", 3: "Invalid",
        4: "NotFound", 5: "NotFound", 6: "Valid",
    }

def test_rpki_validate_any_covering_roa_validates(spark):
    # covered by two ROAs: one rejects (asn), one accepts -> Valid
    routes = spark.createDataFrame(
        [(1, 10 * 2**24, 24, 200)], "rid long, addr_v4 long, prefixlen int, origin_as long"
    )
    roas = spark.createDataFrame(
        [(10 * 2**24, 16, 24, 100), (10 * 2**24, 20, 24, 200)],
        "net long, plen int, max_len int, asn long",
    )
    out = analytics.rpki_validate(routes, roas, roa_plens=[16, 20]).first()
    assert out.validity == "Valid"

def test_rpki_validate_v6_truth_table(spark):
    def b(hexs):
        return bytes.fromhex(hexs)

    base = "20010db8" + "0" * 24  # 2001:db8::/32 space
    routes = spark.createDataFrame(
        [
            (1, b(base), 48, 100),        # covered /32, len ok, asn ok -> Valid
            (2, b(base), 48, 999),        # asn mismatch -> Invalid
            (3, b(base), 64, 100),        # longer than max_len 56 -> Invalid
            (4, b("20020db8" + "0" * 24), 48, 100),  # different /32 -> NotFound
        ],
        "rid long, addr_v6 binary, prefixlen int, origin_as long",
    )
    roas = spark.createDataFrame(
        [(b(base), 32, 56, 100)], "net binary, plen int, max_len int, asn long"
    )
    out = {
        r.rid: r.validity
        for r in analytics.rpki_validate_v6(routes, roas, roa_plens=[32]).collect()
    }
    assert out == {1: "Valid", 2: "Invalid", 3: "Invalid", 4: "NotFound"}


def test_bogon_asns(spark):
    from bgpexplorer_spark.operators.analytics import bogon_asns

    df = spark.createDataFrame(
        [
            (1, [100, 3356]),                      # clean
            (2, [100, 64512]),                     # private 16-bit
            (3, [23456, 3356]),                    # AS_TRANS
            (4, [100, 0, 4200000000, 64496]),      # AS0 + private 32-bit + doc
            (5, [4199999999]),                     # just below private 32-bit
            (6, [65551]),                          # doc range upper bound
            (7, [65552]),                          # above doc range: clean
        ],
        "id int, aspath_flat array<bigint>",
    )
    got = {r.id: list(r.bogon_asns) for r in bogon_asns(df).collect()}
    assert got == {
        2: [64512],
        3: [23456],
        4: [0, 64496, 4200000000],
        6: [65551],
    }


def test_rib_diff_classes(spark):
    from bgpexplorer_spark.operators.analytics import rib_diff

    from tests.ribdata import make_updates, u
    from bgpexplorer_spark.operators.ingest import build_history

    hist = build_history(
        make_updates(
            spark,
            [
                u("10.0.0.0/24", t=1, aspath=[("Seq", [1, 100])]),
                u("10.0.0.0/24", t=5, aspath=[("Seq", [1, 200])]),  # origin change
                u("10.0.1.0/24", t=1, aspath=[("Seq", [1, 100])]),
                u("10.0.1.0/24", t=5, op="withdraw"),               # removed
                u("10.0.2.0/24", t=5, aspath=[("Seq", [1, 300])]),  # added
                u("10.0.3.0/24", t=1, aspath=[("Seq", [1, 400])]),  # unchanged
            ],
        )
    )
    # compute the fixture's epoch base from the data itself
    ts_min = hist.agg({"ts": "min"}).first()[0]
    import datetime as dt

    base_ms = int(ts_min.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) - 1000
    got = {
        r.nlri_str: (r.change, r.origins_before, r.origins_after)
        for r in rib_diff(hist, base_ms + 2000, base_ms + 6000).collect()
    }
    assert got == {
        "10.0.0.0/24": ("origin_changed", "100", "200"),
        "10.0.1.0/24": ("removed", "100", None),
        "10.0.2.0/24": ("added", None, "300"),
    }


def test_martian_prefixes_edges(spark):
    from bgpexplorer_spark.operators.analytics import martian_prefixes

    rows = [
        (1, 10 * 2**24),                      # 10.0.0.0 in
        (2, 11 * 2**24),                      # 11.0.0.0 clean
        (3, (100 << 24) + (64 << 16)),        # 100.64.0.0 in
        (4, (100 << 24) + (63 << 16) + 255),  # just below cgn: clean
        (5, (100 << 24) + (127 << 16) + 65535),  # cgn upper edge: in
        (6, (100 << 24) + (128 << 16)),       # just above: clean
        (7, (239 << 24) + (1 << 24) - 1),     # multicast upper edge
        (8, 240 << 24),                       # reserved-e lower edge
        (9, (192 << 24) + (2 << 8) + 255),    # testnet-1 upper edge
        (10, (192 << 24) + (2 << 8) + 256),   # 192.0.3.0: clean
    ]
    df = spark.createDataFrame(rows, "id int, addr_v4 long")
    got = {r.id: r.martian for r in martian_prefixes(df).collect()}
    assert got == {
        1: "rfc1918-10",
        3: "cgn-rfc6598",
        5: "cgn-rfc6598",
        7: "multicast",
        8: "reserved-e",
        9: "testnet-1",
    }


def test_flap_damping_decay_and_thresholds(spark):
    import datetime as dt
    import math

    from bgpexplorer_spark.operators.analytics import flap_damping

    from tests.ribdata import make_updates, u
    from bgpexplorer_spark.operators.ingest import build_history

    hist = build_history(
        make_updates(
            spark,
            [
                # p1: three quick flaps (announce/withdraw x3) near the end
                u("10.0.0.0/24", t=900, aspath=[("Seq", [1])]),
                u("10.0.0.0/24", t=910, op="withdraw"),
                u("10.0.0.0/24", t=920, aspath=[("Seq", [1])]),
                u("10.0.0.0/24", t=930, op="withdraw"),
                u("10.0.0.0/24", t=940, aspath=[("Seq", [1])]),
                u("10.0.0.0/24", t=950, op="withdraw"),
                # p2: one old flap, fully decayed below reuse
                u("10.0.1.0/24", t=0, aspath=[("Seq", [1])]),
                u("10.0.1.0/24", t=10, op="withdraw"),
                # p3: never withdrawn -> not in the report
                u("10.0.2.0/24", t=5, aspath=[("Seq", [1])]),
                # p4: withdraw with no prior announce -> not a flap
                u("10.0.3.0/24", t=5, op="withdraw"),
            ],
        )
    )
    ts_min = hist.agg({"ts": "min"}).first()[0]
    base_ms = int(ts_min.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    at_ms = base_ms + 1000 * 1000  # t=1000
    out = {r.nlri_str: r for r in
           flap_damping(hist, at_ms, half_life_sec=300.0).collect()}
    assert set(out) == {"10.0.0.0/24", "10.0.1.0/24"}
    lam = math.log(2) / 300.0
    expect1 = sum(1000.0 * math.exp(-lam * (1000 - t)) for t in (910, 930, 950))
    r1 = out["10.0.0.0/24"]
    assert (r1.n_flaps, r1.penalty) == (3, round(expect1, 4))
    assert r1.suppressed and not r1.reusable  # ~2700 > 2000
    r2 = out["10.0.1.0/24"]
    expect2 = 1000.0 * math.exp(-lam * 990)
    assert (r2.n_flaps, r2.penalty) == (1, round(expect2, 4))
    assert r2.reusable and not r2.suppressed  # ~0.1 < 750


def test_session_stability(spark):
    """Per-peer FSM rollup: Established reached/lost tallies, argmax
    last state, observation span."""
    import datetime as dt

    from bgpexplorer_spark.operators.analytics import session_stability

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # peer A: up, down, up again -> 2 established, 1 lost, ends at 6
        ("10.0.0.1", 65001, t0, 1, 6),
        ("10.0.0.1", 65001, t0 + dt.timedelta(seconds=1), 6, 1),
        ("10.0.0.1", 65001, t0 + dt.timedelta(seconds=2), 1, 6),
        # peer B: never established, ends at 3
        ("10.0.0.2", 65002, t0, 1, 2),
        ("10.0.0.2", 65002, t0 + dt.timedelta(seconds=5), 2, 3),
    ]
    df = spark.createDataFrame(
        rows, "peer_addr string, peer_as long, ts timestamp, "
              "old_state int, new_state int")
    got = {
        r.peer_addr: (r.n_transitions, r.n_established, r.n_lost, r.last_state)
        for r in session_stability(df).collect()
    }
    assert got == {"10.0.0.1": (3, 2, 1, 6), "10.0.0.2": (2, 0, 0, 3)}


def test_aggregatable_prefixes(spark):
    """Sibling same-origin pairs roll up; a lone child, a mixed-origin
    pair, and differing lengths don't."""
    from bgpexplorer_spark.operators.analytics import aggregatable_prefixes

    rows = [
        # 10.0.0.0/24 + 10.0.1.0/24, same origin 100 -> 10.0.0.0/23
        (0x0A000000, 24, [1, 100]),
        (0x0A000100, 24, [2, 100]),
        # 10.0.2.0/24 alone
        (0x0A000200, 24, [1, 100]),
        # 10.1.0.0/24 + 10.1.1.0/24 but DIFFERENT origins
        (0x0A010000, 24, [1, 100]),
        (0x0A010100, 24, [1, 200]),
    ]
    df = spark.createDataFrame(
        rows, "addr_v4 long, prefixlen int, aspath_flat array<long>")
    got = [(r.agg_nlri, r.origin_as)
           for r in aggregatable_prefixes(df).collect()]
    assert got == [("10.0.0.0/23", 100)]


def test_vocab_stats(spark):
    from bgpexplorer_spark.operators.text import vocab_stats

    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "a b b"), (2, "c")],
        "doc_id long, text string",
    )
    got = [(r.token, r.n_occurrences, r.n_docs)
           for r in vocab_stats(docs, k=10).collect()]
    assert got == [("a", 3, 2), ("b", 3, 2), ("c", 2, 2)]


def test_aspath_loops(spark):
    """Non-adjacent repeats flag; consecutive prepending doesn't."""
    from bgpexplorer_spark.operators.analytics import aspath_loops

    rows = [
        ("10.0.0.0/24", [65001, 3356, 65001]),   # loop
        ("10.0.1.0/24", [65001, 65001, 3356]),   # prepend only
        ("10.0.2.0/24", [65001, 3356, 174]),     # clean
        ("10.0.3.0/24", [1, 2, 1, 2]),           # double loop
        ("10.0.4.0/24", None),
    ]
    df = spark.createDataFrame(rows, "nlri_str string, aspath_flat array<long>")
    got = {r.nlri_str: (r.compressed_path, sorted(r.looped_asns))
           for r in aspath_loops(df).collect()}
    assert got == {
        "10.0.0.0/24": ([65001, 3356, 65001], [65001]),
        "10.0.3.0/24": ([1, 2, 1, 2], [1, 2]),
    }


def test_as_hegemony_hand_computed(spark):
    from bgpexplorer_spark.operators.analytics import as_hegemony

    df = spark.createDataFrame(
        [
            (1, [10, 20, 30]),        # transit: 10, 20
            (2, [10, 20, 20, 40]),    # prepend collapses: transit 10, 20
            (3, [10, 30, 10, 50]),    # loop: 10 counted ONCE, 30
            (4, [60]),                # origin-only: no transit hops
        ],
        "id long, aspath_flat array<bigint>",
    )
    out = {r.asn: r for r in as_hegemony(df).collect()}
    assert out[10].n_routes == 3 and abs(out[10].hegemony - 0.75) < 1e-9
    assert out[20].n_routes == 2 and abs(out[20].hegemony - 0.5) < 1e-9
    # 30 is TRANSIT only in route 3 (in route 1 it is the origin)
    assert out[30].n_routes == 1 and abs(out[30].hegemony - 0.25) < 1e-9
    assert 40 not in out and 50 not in out and 60 not in out  # origins


def test_prefix_visibility_hand_computed(spark):
    from bgpexplorer_spark.operators.analytics import prefix_visibility

    df = spark.createDataFrame(
        [
            ("ipv4u", "10.0.0.0/24", 0), ("ipv4u", "10.0.0.0/24", 1),
            ("ipv4u", "10.0.0.0/24", 1),  # dup session: counted once
            ("ipv4u", "11.0.0.0/24", 2),
            ("ipv6u", "2c0a::/64", 7),
        ],
        "rib string, nlri_str string, session_id int",
    )
    out = {(r.rib, r.nlri_str): r for r in prefix_visibility(df).collect()}
    assert out[("ipv4u", "10.0.0.0/24")].n_sessions == 2
    assert abs(out[("ipv4u", "10.0.0.0/24")].visibility - 2 / 3) < 1e-4
    assert abs(out[("ipv4u", "11.0.0.0/24")].visibility - 1 / 3) < 1e-4
    assert out[("ipv6u", "2c0a::/64")].visibility == 1.0


def test_as_relationships_hand_computed(spark):
    """3-tier toy topology, every classification checked by hand:
    AS5 is the high-degree summit (deg 5); stub→5 edges vote c2p,
    5→origin edges p2c; the [9,1] / [9,1,7] detours make AS1 the local
    summit there (deg 3 > 2); [4,6] vs [6,4] conflict → p2p; the
    prepend in [1,5,5,8] collapses into [1,5,8]."""
    from bgpexplorer_spark.operators.analytics import as_relationships

    df = spark.createDataFrame(
        [
            (1, [1, 5, 9]),
            (2, [2, 5, 9]),
            (3, [3, 5, 8]),
            (4, [1, 5, 5, 8]),   # prepend → [1,5,8]
            (5, [9, 1]),
            (6, [4, 6]),
            (7, [9, 1, 7]),
            (8, [6, 4]),
        ],
        "id long, aspath_flat array<bigint>",
    )
    out = {(r.as_low, r.as_high): r for r in as_relationships(df).collect()}
    assert out[(1, 5)].rel == "c2p" and out[(1, 5)].n_low_customer == 2
    assert out[(2, 5)].rel == "c2p" and out[(3, 5)].rel == "c2p"
    assert out[(5, 8)].rel == "p2c" and out[(5, 8)].n_high_customer == 2
    assert out[(5, 9)].rel == "p2c"
    # [9,1]: deg(1)=3 (nbrs 5,9,7) > deg(9)=2 → summit is AS1 at pos 2,
    # so 9 rides uphill into it: 9 is AS1's customer
    assert out[(1, 9)].rel == "p2c" and out[(1, 9)].n_high_customer == 2
    assert out[(1, 7)].rel == "p2c"
    # [4,6] (tie → pos-1 summit → 4 provider) vs [6,4] (6 provider)
    assert out[(4, 6)].rel == "p2p"
    assert out[(4, 6)].n_low_customer == 1 and out[(4, 6)].n_high_customer == 1
    assert len(out) == 8


def test_customer_cone_hand_computed(spark):
    """Cone over the inferred graph above: 5 sells transit (directly or
    through AS1) to {1,2,3,7,8,9} → cone 7; AS1 to {7,9} → cone 3;
    leaves → 1. The p2p-only pair (4,6) contributes no edges."""
    from bgpexplorer_spark.operators.analytics import (
        as_relationships,
        customer_cone,
    )

    df = spark.createDataFrame(
        [
            (1, [1, 5, 9]), (2, [2, 5, 9]), (3, [3, 5, 8]),
            (4, [1, 5, 5, 8]), (5, [9, 1]), (6, [4, 6]),
            (7, [9, 1, 7]), (8, [6, 4]),
        ],
        "id long, aspath_flat array<bigint>",
    )
    out = {r.asn: r.cone_size for r in
           customer_cone(as_relationships(df)).collect()}
    assert out == {5: 7, 1: 3, 2: 1, 3: 1, 7: 1, 8: 1, 9: 1}


def test_as_degree_summary_hand_computed(spark):
    from bgpexplorer_spark.operators.analytics import (
        as_degree_summary,
        as_relationships,
    )

    df = spark.createDataFrame(
        [
            (1, [1, 5, 9]), (2, [2, 5, 9]), (3, [3, 5, 8]),
            (4, [1, 5, 5, 8]), (5, [9, 1]), (6, [4, 6]),
            (7, [9, 1, 7]), (8, [6, 4]),
        ],
        "id long, aspath_flat array<bigint>",
    )
    out = {r.asn: r for r in
           as_degree_summary(as_relationships(df)).collect()}
    # AS5: customers {1,2,3,8,9}; AS1: provider 5, customers {7,9}
    assert (out[5].n_customers, out[5].n_providers, out[5].role) == (5, 0, "transit")
    assert (out[1].n_providers, out[1].n_customers) == (1, 2)
    # the p2p-only pair both count one peer and stay stubs
    assert out[4].n_peers == 1 and out[4].role == "stub"
    assert out[2].role == "stub" and out[2].n_providers == 1


def test_route_age_report(hist):
    # at t=40: 10.0/16 s0 last changed at t=30 (age 10), 3 events;
    # s1 at t=10 (age 30); 10.2/16 withdrawn -> absent
    out = {(r.nlri_str, r.session_id): r
           for r in analytics.route_age_report(hist, _millis(40)).collect()}
    a = out[("10.0.0.0/16", 0)]
    assert a.age_sec == 10 and a.n_events == 3
    assert a.first_seen_ts.isoformat().startswith("2024-01-01T00:00:00")
    assert out[("10.0.0.0/16", 1)].age_sec == 30
    assert ("10.2.0.0/16", 0) not in out


def test_update_burstiness(spark):
    rows = (
        [u(f"10.{i}.0.0/16", t=i) for i in range(4)]       # bucket 0: 4 events
        + [u("10.9.0.0/16", t=120)]                        # bucket 2: 1 event
    )
    hist = build_history(make_updates(spark, rows))
    out = {r.session_id: r
           for r in analytics.update_burstiness(hist, 60).collect()}
    r = out[0]
    assert (r.n_events, r.n_buckets, r.max_bucket) == (5, 2, 4)
    assert r.burst_ratio == 1.6  # 4 / (5/2)


def test_peer_agreement(spark):
    rows = [
        u("10.0.0.0/16", t=0, session_id=0),
        u("10.1.0.0/16", t=1, session_id=0),
        u("10.0.0.0/16", t=2, session_id=1),
        u("10.1.0.0/16", t=3, session_id=1),
        u("10.2.0.0/16", t=4, session_id=1),
        u("11.0.0.0/16", t=5, session_id=2),
    ]
    st = current_state(build_history(make_updates(spark, rows)))
    out = {(r.session_a, r.session_b): r
           for r in analytics.peer_agreement(st).collect()}
    # s0 {10.0,10.1}, s1 {10.0,10.1,10.2}: shared 2 / union 3
    assert out[(0, 1)].n_shared == 2 and out[(0, 1)].jaccard == 0.6667
    # disjoint peers never appear (join on shared prefixes)
    assert (0, 2) not in out and (1, 2) not in out


def test_top_communities(spark):
    rows = [
        u("10.0.0.0/16", t=0, comms=[65536 * 100 + 1, 65536 * 100 + 2]),
        u("10.1.0.0/16", t=1, comms=[65536 * 100 + 1]),
        u("10.2.0.0/16", t=2),  # no communities
    ]
    st = current_state(build_history(make_updates(spark, rows)))
    out = analytics.top_communities(st, k=5).collect()
    assert out[0].comm_str == "100:1" and out[0].n_routes == 2
    assert out[1].comm_str == "100:2" and out[1].n_routes == 1


def test_prefix_length_distribution(spark):
    rows = [
        u("10.0.0.0/16", t=0, session_id=0),
        u("10.0.0.0/16", t=1, session_id=1),   # same prefix, 2 routes
        u("10.1.0.0/24", t=2),
    ]
    st = current_state(build_history(make_updates(spark, rows)))
    out = {r.prefixlen: r
           for r in analytics.prefix_length_distribution(st).collect()}
    assert out[16].n_routes == 2 and out[16].n_prefixes == 1
    assert out[16].share == 0.6667 and out[24].share == 0.3333


def test_route_leaks_hand_computed(spark):
    """Valley-free checks against an EXPLICIT relationship graph:
    down-then-up (path poisoning shape) and peer-then-peer (textbook
    peer re-export) are leaks with the re-exporting AS named; monotone
    up*down* paths and 2-hop paths never flag."""
    from bgpexplorer_spark.operators.analytics import route_leaks

    rels = spark.createDataFrame(
        [(1, 5, "c2p"), (5, 9, "p2c"), (3, 4, "p2p"), (4, 6, "p2p")],
        "as_low long, as_high long, rel string",
    )
    st = spark.createDataFrame(
        [
            (1, [1, 5, 9]),    # up, down -> clean
            (2, [5, 9, 5]),    # down, up -> leak by AS 9
            (3, [3, 4, 6]),    # peer, peer -> leak by AS 4
            (4, [3, 4]),       # 2 hops: skipped
        ],
        "id long, aspath_flat array<bigint>",
    )
    out = {r.path_str: r for r in route_leaks(st, rels).collect()}
    assert set(out) == {"5 9 5", "3 4 6"}
    assert out["5 9 5"].leaker_asn == 9 and out["5 9 5"].leak_pos == 2
    assert out["3 4 6"].leaker_asn == 4 and out["3 4 6"].leak_pos == 2


def test_origin_footprint(spark):
    rows = [
        u("10.0.0.0/16", t=0, aspath=[("Seq", [1, 100])]),
        u("10.0.0.0/16", t=1, session_id=1, aspath=[("Seq", [2, 100])]),  # dup prefix
        u("10.1.0.0/24", t=2, aspath=[("Seq", [1, 100])]),
        u("10.2.0.0/24", t=3, aspath=[("Seq", [1, 200])]),
    ]
    st = current_state(build_history(make_updates(spark, rows)))
    out = {r.origin_as: r for r in analytics.origin_footprint(st).collect()}
    assert out[100].n_prefixes == 2 and out[100].n_addresses == 65536 + 256
    assert out[200].n_prefixes == 1 and out[200].n_addresses == 256


def test_martian_prefixes_v6_boundaries(spark):
    from bgpexplorer_spark.operators.analytics import martian_prefixes_v6

    def b(hexstr):
        return bytes.fromhex(hexstr)

    rows = [
        (1, b("00" * 16)),                  # :: -> unspecified-loopback
        (2, b("00" * 15 + "01")),           # ::1 -> unspecified-loopback
        (3, b("00" * 15 + "02")),           # ::2 -> clean (outside /127)
        (4, b("00" * 10 + "ffff" + "0a000001")),  # ::ffff:10.0.0.1
        (5, b("20010db8" + "00" * 12)),     # doc
        (6, b("20010db9" + "00" * 12)),     # just past doc -> clean
        (7, b("fdff" + "ff" * 14)),         # top of ULA
        (8, b("fe00" + "00" * 14)),         # between ULA and link-local -> clean
        (9, b("febf" + "ff" * 14)),         # top of link-local
        (10, b("fec0" + "00" * 14)),        # past link-local -> clean
        (11, b("ff" + "00" * 15)),          # multicast base
        (12, None),                         # null address never flags
    ]
    df = spark.createDataFrame(rows, "id long, addr_v6 binary")
    out = {r.id: r.martian for r in martian_prefixes_v6(df).collect()}
    assert out == {
        1: "unspecified-loopback", 2: "unspecified-loopback",
        4: "ipv4-mapped", 5: "doc-2001db8", 7: "ula",
        9: "link-local", 11: "multicast",
    }


def test_upstream_diversity_hand_computed(spark):
    """Origin 300: two upstreams (100 via one prefix, 101 via another).
    Origin 400: single-homed behind 100, with a self-prepend that must
    NOT count the origin as its own upstream. A direct 1-hop route
    (origin only) has no upstream and is excluded."""
    from bgpexplorer_spark.operators.analytics import upstream_diversity
    from bgpexplorer_spark.operators.rib import current_state

    hist = build_history(make_updates(spark, [
        u("10.0.0.0/24", t=1, session_id=0, aspath=[("Seq", [100, 300])]),
        u("10.1.0.0/24", t=2, session_id=1, aspath=[("Seq", [101, 300])]),
        u("10.2.0.0/24", t=3, session_id=0, aspath=[("Seq", [100, 400, 400])]),
        u("10.3.0.0/24", t=4, session_id=0, aspath=[("Seq", [500])]),  # direct
    ]))
    got = {
        r.origin_as: (r.n_upstreams, r.n_prefixes, r.single_homed)
        for r in upstream_diversity(current_state(hist)).collect()
    }
    assert got == {300: (2, 2, False), 400: (1, 1, True)}


def test_deaggregation_hand_computed(spark):
    """Origin 300 announces 10.0.0.0/16 plus two /24s inside it (covered)
    and one /24 outside it (not covered); origin 400 announces a /24
    inside 300's /16 — NOT covered, the cover must share the origin."""
    from bgpexplorer_spark.operators.analytics import deaggregation
    from bgpexplorer_spark.operators.rib import current_state

    hist = build_history(make_updates(spark, [
        u("10.0.0.0/16", t=1, aspath=[("Seq", [100, 300])]),
        u("10.0.1.0/24", t=2, aspath=[("Seq", [100, 300])]),
        u("10.0.2.0/24", t=3, aspath=[("Seq", [101, 300])]),
        u("10.9.0.0/24", t=4, aspath=[("Seq", [100, 300])]),
        u("10.0.3.0/24", t=5, session_id=1, aspath=[("Seq", [100, 400])]),
    ]))
    got = {
        r.origin_as: (r.n_prefixes, r.n_covered, r.deagg_ratio)
        for r in deaggregation(current_state(hist)).collect()
    }
    assert got == {300: (4, 2, 0.5), 400: (1, 0, 0.0)}


def test_subprefix_hijack_hand_computed(spark):
    """/8 origin 999 over /16s from 100+200 over /24s: the /24 with a
    foreign origin flags against its most-specific cover (the /16, both
    origins listed); a /24 whose origin appears on that most-specific
    cover is legitimate deaggregation and must NOT escalate to the
    foreign /8 above; same-origin-only covers and uncovered prefixes
    stay silent."""
    from bgpexplorer_spark.operators.analytics import subprefix_hijacks
    from bgpexplorer_spark.operators.rib import current_state

    hist = build_history(make_updates(spark, [
        u("10.0.0.0/8", t=1, aspath=[("Seq", [1, 999])]),
        u("10.0.0.0/16", t=2, aspath=[("Seq", [1, 100])]),
        u("10.0.0.0/16", t=3, session_id=1, aspath=[("Seq", [1, 200])]),
        u("10.0.1.0/24", t=4, aspath=[("Seq", [1, 666])]),
        u("10.0.2.0/24", t=5, aspath=[("Seq", [1, 100])]),
        u("172.16.0.0/16", t=6, aspath=[("Seq", [1, 300])]),
        u("172.16.1.0/24", t=7, aspath=[("Seq", [1, 300])]),  # same-origin cover
        u("192.168.0.0/24", t=8, aspath=[("Seq", [1, 42])]),  # no cover
    ]))
    got = {
        (r.addr_v4, r.prefixlen, r.origin_as): (
            r.cover_plen, r.cover_origins_str, r.n_cover_origins
        )
        for r in subprefix_hijacks(current_state(hist)).collect()
    }
    a16 = int(__import__("ipaddress").ip_address("10.0.0.0"))
    a24_1 = int(__import__("ipaddress").ip_address("10.0.1.0"))
    # 10.0.2.0/24 (origin 100) is absent: its most-specific cover (the
    # /16) includes origin 100 — self-deaggregation, not a hijack, even
    # though the /8 above and the /16's second origin disagree
    assert got == {
        (a16, 16, 100): (8, "999", 1),
        (a16, 16, 200): (8, "999", 1),
        (a24_1, 24, 666): (16, "100,200", 2),
    }


def test_convergence_bursts_hand_computed(spark):
    """Three updates 10 s apart form one burst (duration 20 s); a quiet
    gap > 300 s opens a second burst; a second prefix gets its own."""
    from bgpexplorer_spark.operators.analytics import convergence_report

    hist = build_history(make_updates(spark, [
        u("10.0.0.0/16", t=0, session_id=0),
        u("10.0.0.0/16", t=10, session_id=1),
        u("10.0.0.0/16", t=20, session_id=0, op="withdraw"),
        u("10.0.0.0/16", t=1000, session_id=0),
        u("10.0.0.0/16", t=1005, session_id=0, op="withdraw"),
        u("10.7.0.0/16", t=3, session_id=2),
    ]), history_mode="every")
    got = {
        (r.nlri_str, r.burst_id): (r.n_events, r.n_sessions, r.duration_ms)
        for r in convergence_report(hist, gap_sec=300).collect()
    }
    assert got == {
        ("10.0.0.0/16", 1): (3, 2, 20000),
        ("10.0.0.0/16", 2): (2, 1, 5000),
        ("10.7.0.0/16", 1): (1, 1, 0),
    }


def test_path_inflation_hand_computed(spark):
    """Prepends collapse before measuring: [1,1,2,3]→3, [5,5,5]→1; the
    per-prefix minimum anchors n_inflated; empty paths are ignored."""
    from bgpexplorer_spark.operators.analytics import path_inflation

    rows = [
        ("10.0.0.0/16", [1, 2]),
        ("10.0.0.0/16", [1, 1, 2, 3]),
        ("10.0.0.0/16", [5, 5, 5]),
        ("10.1.0.0/16", [9, 9]),
        ("10.2.0.0/16", []),
    ]
    df = spark.createDataFrame(rows, "nlri_str string, aspath_flat array<long>")
    got = {r.nlri_str: (r.min_len, r.max_len, r.n_routes, r.n_inflated)
           for r in path_inflation(df).collect()}
    assert got == {"10.0.0.0/16": (1, 3, 3, 2), "10.1.0.0/16": (1, 1, 1, 0)}


def test_subprefix_hijack_v6_hand_computed(spark):
    """v6 mirror of the v4 semantics over BINARY(16): a /48 under a
    foreign /32 flags; a /64 whose most-specific cover (/48) shares its
    origin stays silent even under the foreign /32."""
    import ipaddress

    def b(addr):
        return ipaddress.ip_address(addr).packed

    rows = [
        ("2001:db8::", 32, [1, 999]),
        ("2001:db8:1::", 48, [1, 100]),       # foreign under the /32
        ("2001:db8:1:1::", 64, [1, 100]),     # own /48 covers → silent
        ("2001:db8:2::", 48, [1, 999]),       # same-origin under /32 → silent
    ]
    df = spark.createDataFrame(
        [(b(a), p, [int(x) for x in path]) for a, p, path in rows],
        "addr_v6 binary, prefixlen int, aspath_flat array<long>",
    )
    got = {
        (bytes(r.addr_v6).hex(), r.prefixlen, r.origin_as):
            (r.cover_plen, r.cover_origins_str)
        for r in analytics.subprefix_hijacks_v6(df).collect()
    }
    assert got == {
        (b("2001:db8:1::").hex(), 48, 100): (32, "999"),
    }


def test_deaggregation_v6_hand_computed(spark):
    """Origin 300's /48 inside its own /32 counts as covered; origin
    400's /48 inside 300's /32 does not (cover must share the origin)."""
    import ipaddress

    def b(addr):
        return ipaddress.ip_address(addr).packed

    rows = [
        ("2001:db8::", 32, 300),
        ("2001:db8:1::", 48, 300),
        ("2001:db8:2::", 48, 400),
        ("2001:dead::", 48, 300),  # outside the /32 — not covered
    ]
    df = spark.createDataFrame(
        [(b(a), p, [1, o]) for a, p, o in rows],
        "addr_v6 binary, prefixlen int, aspath_flat array<long>",
    )
    got = {r.origin_as: (r.n_prefixes, r.n_covered, r.deagg_ratio)
           for r in analytics.deaggregation_v6(df).collect()}
    assert got == {300: (3, 1, 0.3333), 400: (1, 0, 0.0)}


def test_route_uptime_hand_computed(spark):
    """announce@0 → withdraw@10 → announce@30, window end 40 (the newest
    event anywhere): uptime 10 + 10 = 20 of 40 observed → 0.5; an
    always-up route scores 1.0; a key first seen at the window end
    observes zero time and gets a NULL fraction."""
    hist = build_history(make_updates(spark, [
        u("10.0.0.0/16", t=0),
        u("10.0.0.0/16", t=10, op="withdraw"),
        u("10.0.0.0/16", t=30),
        u("10.1.0.0/16", t=0),
        u("10.2.0.0/16", t=40),
    ]), history_mode="every")
    got = {r.nlri_str: (r.n_events, r.uptime_ms, r.observed_ms,
                        r.uptime_fraction)
           for r in analytics.route_uptime(hist).collect()}
    assert got["10.0.0.0/16"] == (3, 20000, 40000, 0.5)
    assert got["10.1.0.0/16"] == (1, 40000, 40000, 1.0)
    assert got["10.2.0.0/16"] == (1, 0, 0, None)


def test_route_uptime_explicit_window_end_clips(spark):
    """An explicit window end excludes later events and closes the last
    in-window interval at the cutoff — no negative durations."""
    hist = build_history(make_updates(spark, [
        u("10.0.0.0/16", t=0),
        u("10.0.0.0/16", t=100),   # outside the 50 s window
    ]), history_mode="every")
    got = analytics.route_uptime(hist, window_end=_millis(50)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_events, r.uptime_ms, r.observed_ms, r.uptime_fraction) == (
        1, 50000, 50000, 1.0,
    )


def test_roa_delta_and_summary(spark):
    """Pre-deployment ROA change impact: only changed verdicts surface
    (changed_only), the full run feeds the transition matrix."""
    routes = spark.createDataFrame(
        [
            (1, 10 * 2**24, 24, 100),   # Valid -> Invalid (origin migrates)
            (2, 10 * 2**24, 24, 200),   # Invalid -> Valid
            (3, 11 * 2**24, 24, 100),   # NotFound both (no ROA ever)
            (4, 10 * 2**24, 24, 999),   # Invalid both
        ],
        "rid long, addr_v4 long, prefixlen int, origin_as long",
    )
    before = spark.createDataFrame(
        [(10 * 2**24, 16, 24, 100)], "net long, plen int, max_len int, asn long"
    )
    after = spark.createDataFrame(
        [(10 * 2**24, 16, 24, 200)], "net long, plen int, max_len int, asn long"
    )
    delta = analytics.roa_delta(
        routes, before, after, roa_plens_before=[16], roa_plens_after=[16]
    )
    got = {r.rid: (r.validity_before, r.validity_after) for r in delta.collect()}
    assert got == {1: ("Valid", "Invalid"), 2: ("Invalid", "Valid")}

    full = analytics.roa_delta(
        routes, before, after,
        roa_plens_before=[16], roa_plens_after=[16], changed_only=False,
    )
    matrix = {
        (r.validity_before, r.validity_after): r.routes
        for r in analytics.roa_delta_summary(full).collect()
    }
    assert matrix == {
        ("Valid", "Invalid"): 1, ("Invalid", "Valid"): 1,
        ("NotFound", "NotFound"): 1, ("Invalid", "Invalid"): 1,
    }


def test_roa_delta_v6_default_addr_col(spark):
    """v6=True must default to the family's canonical addr_v6 column."""
    import ipaddress

    net = ipaddress.IPv6Network("2001:db8::/32")
    routes = spark.createDataFrame(
        [(1, net.network_address.packed, 48, 100)],
        "rid long, addr_v6 binary, prefixlen int, origin_as long",
    )
    mk = lambda asn: spark.createDataFrame(
        [(net.network_address.packed, 32, 64, asn)],
        "net binary, plen int, max_len int, asn long",
    )
    delta = analytics.roa_delta(
        routes, mk(100), mk(200), v6=True,
        roa_plens_before=[32], roa_plens_after=[32],
    )
    r = delta.collect()[0]
    assert (r.validity_before, r.validity_after) == ("Valid", "Invalid")
