"""Property-based equivalence for the route query (query_rib →
to_nested_json → nest_items): the slot path over the serving copy, the
windowed path over the plain history, the route-index path over the
serving copy, and a pure-Python model of the reference's query semantics
must agree on random histories.

With the history store, the raw nested items (every entry's full JSON
text) must also equal the Spark path's.

The model replays events per (rib, nlri, session, path) like ``_replay``
(tests/test_property_filter.py) and evaluates filters with its
``_py_match`` terms; it is written from the reference semantics, not from
query.py: the match window is the newest ``maxdepth`` slots of the
UNFILTERED per-path count (src/ribfilter.rs:595-609), emission keeps the
newest ``maxdepth`` filter_ah-passing entries (0 = all,
src/bgpsvc.rs:516-532), an empty primary page falls back to the
reversed-containment supernet query ordered most-specific-first
(src/bgpsvc.rs:625-658), and same-millisecond entries collapse to the
newest one.
"""

from __future__ import annotations

import datetime as dt
import ipaddress
import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bgpexplorer_spark.filterlang.terms import NumTerm, V4Term, V6Term, parse_filter
from bgpexplorer_spark.operators.ingest import build_history
from bgpexplorer_spark.operators.query import (
    HistoryStore, QueryParams, _index_exact, nest_items, query_rib, serving_copy,
    to_nested_json,
)

from tests.ribdata import T0, make_updates, u
from tests.test_property_filter import _py_attr, _py_key, _py_key_rd

_ROUTES = [
    ("ipv4u", "10.0.0.0/8"),
    ("ipv4u", "10.0.0.0/16"),
    ("ipv4u", "10.0.1.0/24"),
    ("ipv4u", "10.0.2.0/24"),
    ("ipv4u", "10.1.0.0/16"),
    ("ipv4m", "10.0.1.0/24"),  # same nlri_str in another rib
]

# "10.0.1.77" has no exact route: its page is always the supernet one
_FILTERS = [
    "", "10.0.0.0/8", "10.0.0.0/8", "10.0.0.0/16", "10.0.1.0/24", "as:101",
    "-as:101", "10.0.0.0/8 as:102", "10.0.1.77", "10.0.1.77",
]

_US = dt.timedelta(microseconds=1)


def _net(nlri):
    n = ipaddress.ip_network(nlri)
    return int(n.network_address), n.prefixlen


def _parse(rib, nlri):
    """(rd, addr, plen) of an nlri_str as tests.ribdata.u writes it: an
    RD route reads 'hi:lo:prefix'."""
    if rib.startswith("vpn"):
        hi, lo, net = nlri.split(":", 2)
        return (int(hi), int(lo)), *_net(net)
    return None, *_net(nlri)


def _order(rib, nlri):
    """The page order: RD (absent first), address, length, nlri_str."""
    rd, addr, plen = _parse(rib, nlri)
    return (rd or (-1, -1), addr, plen, nlri)


def _supernet_order(rib, nlri):
    """Most specific first: 64 bits per RD plus the prefix length."""
    rd, _, plen = _parse(rib, nlri)
    return (-(plen + (64 if rd else 0)), *_order(rib, nlri))


def _route_dict(rib, nlri, var):
    rd, addr, plen = _parse(rib, nlri)
    return {"addr": addr, "plen": plen, "nlri": nlri, "aspath": [100 + var, 200],
            "comms": [], "rd": rd, "nh": None, "extcomms": []}


def _supernet_key(item, route, rib):
    """match_super_ipv4/ipv6 (the route prefix contains the filter net)
    behind the vpn families' RD: reversed containment, soft prefix
    length for a number, Unknown for the rest."""
    if rib.startswith("vpn"):
        r = _py_key_rd(item, route)
        if r is not None:
            return r
    bits = 128 if rib == "ipv6u" else 32
    if isinstance(item, V6Term if bits == 128 else V4Term):
        if item.multicast:
            return None
        addr = int.from_bytes(item.addr, "big") if bits == 128 else item.addr
        span = (1 << (bits - route["plen"])) - 1
        last = addr | ((1 << (bits - item.plen)) - 1)
        return route["addr"] <= addr and route["addr"] + span >= last
    if isinstance(item, NumTerm):
        return True if route["plen"] == item.n else None
    return None


def _match(terms, route, rib, supernet):
    """The reference's 3-valued AND of terms (``_py_term`` with the key
    half swapped for reversed containment in supernet mode)."""
    out = True
    for t in terms:
        k = _supernet_key(t.item, route, rib) if supernet else _py_key(t.item, route, rib)
        a = _py_attr(t.item, route)

        def pol(x, neg=t.negated):
            return (not x) if neg else x

        if k is True:
            r = True if a is None else pol(a)
        elif k is False:
            r = pol(False)
        else:
            r = None if a is None else pol(a)
        if r is False:
            return False
        if r is None:
            out = None
    return out


def _replay(events):
    """events: [(route, session, path, op, variant, ts)] in time order →
    {(rib, nlri, session, path): [(ts, active, variant)]} oldest first
    (history mode "every": withdraws before any update are dropped, a
    withdraw carries the last update's attributes)."""
    last, hist = {}, {}
    for (rib, nlri), s, pid, op, var, t in events:
        key = (rib, nlri, s, pid)
        if op == "update":
            last[key] = var
            hist.setdefault(key, []).append((t, True, var))
        elif key in last:
            hist.setdefault(key, []).append((t, False, last[key]))
    return hist


def _model(hist, rib, p):
    terms = parse_filter(p.filter)

    def passes(e):
        t, active, _ = e
        return (
            (not p.onlyactive or active)
            and (p.changed_after is None or t > p.changed_after)
            and (p.changed_before is None or t < p.changed_before)
        )

    keys = {k for k in hist if k[0] == rib}
    routes = sorted({k[1] for k in keys}, key=lambda n: _order(rib, n))

    def matched(supernet):
        out = []
        for nlri in routes:
            hit = False
            for k in keys:
                if k[1] != nlri:
                    continue
                seq = hist[k]
                passing = [e for e in seq if passes(e)]
                window = [e for i, e in enumerate(passing, 1)
                          if i > len(seq) - p.maxdepth]
                hit = hit or any(
                    _match(terms, _route_dict(rib, nlri, e[2]), rib, supernet) is True
                    for e in window
                )
            if hit:
                out.append(nlri)
        return out

    hits = matched(False)
    found = len(routes) if not terms else len(hits)
    page = hits[p.skip:p.skip + p.limit]
    from_supernet = found <= p.skip
    if from_supernet:
        sup = sorted(matched(True), key=lambda n: _supernet_order(rib, n))
        page = sup[p.skip:p.skip + p.limit]
    items = {}
    for nlri in page:
        out = {}
        for s in sorted({k[2] for k in keys if k[1] == nlri}):
            paths = {}
            for pid in sorted({k[3] for k in keys if k[1] == nlri and k[2] == s}):
                ents = sorted(
                    (e for e in hist[(rib, nlri, s, pid)] if passes(e)), reverse=True
                )
                if p.maxdepth > 0:
                    ents = ents[:p.maxdepth]
                by_ms = {}
                for t, active, var in ents:  # newest first: first per ms wins
                    ms = str((t - T0) // dt.timedelta(milliseconds=1)
                             + int(T0.timestamp() * 1000))
                    by_ms.setdefault(ms, [active, var])
                if by_ms:
                    paths[str(pid)] = by_ms
            if paths:
                out[str(s)] = paths
        if out:
            items[nlri] = out
    return len(routes), found, page, from_supernet, json.dumps(items)


def _nested(history, rib, p, store=None):
    """query_rib's result and its nested items, as api_json makes them."""
    length = None if store is None else store.index.counts.get(rib, 0)
    r = query_rib(history, rib, p, length=length, store=store)
    rows = r.rows if r.rows is not None else to_nested_json(r).collect()
    return r, nest_items(r, rows)


def _served(history, rib, p, store=None):
    return _shaped(*_nested(history, rib, p, store))


def _shaped(r, items):
    """The model's view of a result: each entry reduced to (active,
    first AS)."""
    shaped = {
        nlri: {
            s: {
                pid: {
                    ms: [json.loads(e)["active"],
                         json.loads(e)["attrs"]["aspath"][0]["asns"][0] - 100]
                    for ms, e in ents.items()
                }
                for pid, ents in paths.items()
            }
            for s, paths in sessions.items()
        }
        for nlri, sessions in items.items()
    }
    # dumped: key order (page, session, path, newest first) is compared too
    return (r.length, r.found, [x.nlri_str for x in r.routes], r.from_supernet,
            json.dumps(shaped))


# weighted towards few keys, so paths run deeper than maxdepth and the
# same nlri_str is live in both ribs
_EVENT = st.tuples(
    st.sampled_from(_ROUTES + [_ROUTES[2]] * 3 + [_ROUTES[5]] * 2 + [_ROUTES[1]] * 2),
    st.sampled_from([0, 0, 1]),                      # session
    st.sampled_from([0, 0, 0, 1]),                   # path
    st.sampled_from(["update", "update", "withdraw"]),
    st.sampled_from([0, 1, 2]),                      # attribute variant
    st.sampled_from([1, 1, 300, 2500]),              # µs since the previous event
)


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=st.data())
def test_query_paths_match_model(spark, data):
    drawn = data.draw(st.lists(_EVENT, min_size=10, max_size=30))
    events, t = [], T0
    for route, s, pid, op, var, gap in drawn:
        t += gap * _US  # strictly increasing: entries never tie on ts
        events.append((route, s, pid, op, var, t))
    rows = []
    for (rib, nlri), s, pid, op, var, ts in events:
        row = u(nlri, rib=rib, op=op, session_id=s, path_id=pid,
                aspath=[("Seq", [100 + var, 200])] if op == "update" else None)
        row["ts"] = ts
        rows.append(row)
    table = build_history(make_updates(spark, rows)).cache()
    served = serving_copy(table).cache()
    hist = _replay(events)
    stamps = [e[5] for e in events]
    try:
        for maxdepth in (0, 1, 3):
            entry_filtered = data.draw(st.sampled_from([False, False, True]))
            p = QueryParams(
                filter=data.draw(st.sampled_from(_FILTERS)),
                skip=data.draw(st.sampled_from([0, 0, 0, 1, 5])),
                limit=data.draw(st.sampled_from([1, 1000, 1000])),
                maxdepth=maxdepth,
                onlyactive=entry_filtered and data.draw(st.booleans()),
                changed_after=(
                    data.draw(st.sampled_from(stamps)) if entry_filtered
                    and data.draw(st.booleans()) else None
                ),
                changed_before=(
                    data.draw(st.sampled_from(stamps)) if entry_filtered
                    and data.draw(st.booleans()) else None
                ),
            )
            want = _model(hist, "ipv4u", p)
            assert _served(served, "ipv4u", p) == want, (p, events)
            assert _served(table, "ipv4u", p) == want, (p, events)
    finally:
        served.unpersist()
        table.unpersist()


# the index-answered families with multicast prefixes and covering
# supernets; one nlri_str sits in two ribs and one prefix under two RDs
_INDEX_ROUTES = [
    ("ipv4u", "0.0.0.0/0", None),
    ("ipv4u", "10.0.0.0/8", None),
    ("ipv4u", "10.0.1.0/24", None),
    ("ipv4u", "224.0.0.0/4", None),
    ("ipv4u", "224.1.0.0/16", None),
    ("ipv4m", "10.0.1.0/24", None),
    ("ipv4m", "224.1.0.0/16", None),
    ("ipv6u", "2c0a::/16", None),
    ("ipv6u", "2c0a:0:1::/48", None),
    ("ipv6u", "ff00::/8", None),
    ("ipv6u", "ff02::/16", None),
    ("vpnv4u", "10.0.0.0/8", "1:2"),
    ("vpnv4u", "10.0.1.0/24", "1:2"),
    ("vpnv4u", "10.0.1.0/24", "1:3"),
    ("vpnv4u", "224.1.0.0/16", "2:1"),
]

# filters the index answers (host probes fall back to supernets; a term
# of the other family, or an RD off the vpn ribs, matches nothing) ...
_V4_EXACT = ["", "", "10.0.1.77", "224.1.2.3", "10.0.0.0/8", "10.0.1.0/24",
             "224.0.0.0/4", "0.0.0.0/0", "10.0.0.0/8 10.0.1.0/24", "2c0a::/16",
             "rd:1:2"]
_INDEX_EXACT = {
    "ipv4u": _V4_EXACT,
    "ipv4m": _V4_EXACT,
    "ipv6u": ["", "", "2c0a:0:1::5", "ff02::1", "2c0a::/16", "ff00::/8",
              "2c0a:0:1::/48", "::/0", "10.0.0.0/8"],
    "vpnv4u": ["", "rd:1:2 10.0.1.0/24", "rd:1:3 10.0.1.7", "rd:1:2",
               "10.0.1.99", "rd:9:9 10.0.0.0/8", "rd:2:1 224.1.2.3",
               "224.0.0.0/4"],
}
# ... and filters that must run on Spark
_V4_SPARK = ["-10.0.0.0/8", "24", "re:/24$", "as:101", "10.0.0.0/8 as:102",
             "-rd:1:2"]
_INDEX_SPARK = {
    "ipv4u": _V4_SPARK,
    "ipv4m": _V4_SPARK,
    "ipv6u": ["-2c0a::/16", "48", "re:/48$", "as:101", "2c0a::/16 as:102"],
    "vpnv4u": _V4_SPARK,
}

_INDEX_EVENT = st.tuples(
    st.sampled_from(_INDEX_ROUTES),
    st.sampled_from([0, 0, 1]),                      # session
    st.sampled_from([0, 0, 1]),                      # path
    st.sampled_from(["update", "update", "update", "withdraw"]),
    st.sampled_from([0, 1, 2]),                      # attribute variant
    st.sampled_from([1, 300, 2500]),                 # µs since the previous event
)


@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=st.data())
def test_route_index_matches_spark_and_model(spark, data):
    """query_rib with the served copy's HistoryStore, query_rib without
    it and the model agree on every rib the index answers, and the store
    and Spark paths nest the same entry text. Key-term filters must take
    the index path, and negated, numeric, regex, AS-path, maxdepth=0 and
    entry-filtered requests must not."""
    drawn = data.draw(st.lists(_INDEX_EVENT, min_size=15, max_size=40))
    events, rows, t = [], [], T0
    for (rib, net, rd), s, pid, op, var, gap in drawn:
        t += gap * _US
        row = u(net, rib=rib, rd=rd, op=op, session_id=s, path_id=pid,
                aspath=[("Seq", [100 + var, 200])] if op == "update" else None)
        row["ts"] = t
        rows.append(row)
        events.append(((rib, row["nlri_str"]), s, pid, op, var, t))
    # two entries at one ts on a path of their own: the same AS path, so
    # the model cannot tell them apart, and different MEDs, so the
    # collapse keeps the larger entry text on both served paths
    for med in (1, 2):
        row = u("10.0.1.0/24", session_id=2, aspath=[("Seq", [101, 200])], med=med)
        row["ts"] = T0
        rows.append(row)
        events.append((("ipv4u", "10.0.1.0/24"), 2, 0, "update", 1, T0))
    served = serving_copy(build_history(make_updates(spark, rows))).cache()
    store = HistoryStore.build(served)
    hist = _replay(events)
    stamps = [e[5] for e in events]
    skips, limits = st.sampled_from([0, 0, 1, 2, 20]), st.sampled_from([1, 2, 1000])
    try:
        # every index-exact filter of every rib: the index against the model
        for rib, filters in _INDEX_EXACT.items():
            for flt in filters:
                p = QueryParams(filter=flt, skip=data.draw(skips),
                                limit=data.draw(limits),
                                maxdepth=data.draw(st.sampled_from([1, 3])))
                assert _index_exact(served, rib, p, parse_filter(flt)), p
                assert _served(served, rib, p, store) == _model(hist, rib, p), (rib, p)
        # drawn requests: with the store, without it, and the model
        for _ in range(4):
            rib = data.draw(st.sampled_from(sorted(_INDEX_EXACT)))
            flt = data.draw(st.sampled_from(_INDEX_EXACT[rib] + _INDEX_SPARK[rib]))
            entry_filtered = data.draw(st.sampled_from([False, False, False, True]))
            p = QueryParams(
                filter=flt,
                skip=data.draw(skips),
                limit=data.draw(limits),
                maxdepth=data.draw(st.sampled_from([0, 1, 3, 3])),
                onlyactive=entry_filtered and data.draw(st.booleans()),
                changed_after=(
                    data.draw(st.sampled_from(stamps)) if entry_filtered else None
                ),
            )
            exact = flt in _INDEX_EXACT[rib] and not entry_filtered and p.maxdepth > 0
            assert _index_exact(served, rib, p, parse_filter(flt)) == exact, p
            want = _model(hist, rib, p)
            with_store, on_spark = _nested(served, rib, p, store), _nested(served, rib, p)
            assert _shaped(*with_store) == want, (rib, p, events)
            assert _shaped(*on_spark) == want, (rib, p, events)
            # the full entry text, in the same key order
            items = with_store[1]
            assert json.dumps(items) == json.dumps(on_spark[1]), (rib, p, events)
            # both rows of the pair emitted: one entry, the larger text
            pair = items.get("10.0.1.0/24", {}).get("2", {}).get("0")
            if rib == "ipv4u" and pair is not None and p.maxdepth != 1:
                assert [json.loads(e)["attrs"]["med"] for e in pair.values()] == [2]
    finally:
        served.unpersist()
