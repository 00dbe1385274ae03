"""Seeded inputs of the serving benchmark and their ground truth.

Everything the load generator sends or checks is derived here from one
integer seed, with no Spark and no network: the RIB the daemon boots
from, its BGP wire form, the ``/api/json`` query mix with the expected
answers, and the open-loop churn + probe schedule. The same seed gives
the same bytes (``perfbench/tests/test_model.py`` pins that).

Address plan (disjoint, so reads can be checked while writes land):

- ``20.0.0.0/8``   stable ipv4u /24s in /16 blocks, some blocks also
  announce their covering /16 (subnet, supernet and hijack queries);
- ``100.0.0.0/8``  the churn universe: /24 slots the live router dumps
  when its session comes up, then re-announces, withdraws and adds;
- ``198.18.0.0/15`` probes (RFC 2544 benchmarking space): one /32 per
  probe, MED = scheduled send time, the WebSocket subscriber filters on
  this range so the lossy feed never drops them;
- ``2a00::/16``    ipv6u /48s; ``10.0.0.0/8`` inside RD 65000:k for
  vpnv4u.
"""

from __future__ import annotations

import bisect
import datetime as dt
import ipaddress
import json
import random
import struct
from dataclasses import dataclass, field

SESSIONS = (0, 1)
# the snapshot's two sessions; the live router is registered first, so
# it gets session id 0
PEER_AS = {0: 64501, 1: 64502}
NEXTHOP = {0: 0xC0000201, 1: 0xC0000202}  # 192.0.2.1 / 192.0.2.2

V4_BASE = 20 << 24
CHURN_BASE = 100 << 24
PROBE_BASE = (198 << 24) | (18 << 16)
PROBE_FILTER = "198.18.0.0/15"
VPN_INNER_BASE = 10 << 24
RD_ADMIN = 65000
COMM_ADMIN = 65000

N_UPSTREAMS = 16
UPSTREAM_AS0 = 3000
N_ORIGINS = 1500
ORIGIN_AS0 = 10000
N_COMMS = 200

SNAPSHOT_BASE = dt.datetime(2026, 1, 1)

# the sample of churn slots whose final state is checked after the run:
# the first /16 of the churn universe, fetched with one subnet query
CHECK_BLOCK = "100.0.0.0/16"
CHECK_SLOTS = 256

# share of churn events that withdraw a route. 0: the live ingest folds
# each micro-batch on its own, so a withdraw whose route was announced
# in an earlier batch is dropped from the history (see README.md)
WITHDRAW_SHARE = 0.0
# MED of the last churn event: once slot 0 shows it, the churn is served
DRAIN_MED = 999_999


@dataclass(frozen=True)
class Scale:
    """RIB size: stable ipv4u /24s in the snapshot (approximate,
    block-granular), ipv6u /48s, vpnv4u routes, and the churn-universe
    /24s the live router dumps at session start (not in the snapshot)."""

    v4: int = 24000
    v6: int = 2400
    vpn: int = 2400
    dump: int = 8000

    @property
    def key(self) -> str:
        return f"v4-{self.v4}_v6-{self.v6}_vpn-{self.vpn}"


@dataclass
class Route:
    rib: str
    nlri: str
    addr: int | bytes
    plen: int
    origin: dict[int, int]          # session → origin AS
    comms: tuple[int, ...]
    upstream: dict[int, int]        # session → first AS of the path
    versions: dict[int, int]        # session → history entries
    rd: int = 0                     # vpnv4u: RD assigned number
    label: int = 0

    @property
    def sessions(self) -> tuple[int, ...]:
        return tuple(sorted(self.versions))


def v4_str(addr: int) -> str:
    return ".".join(str((addr >> s) & 255) for s in (24, 16, 8, 0))


def v6_bytes(i: int) -> bytes:
    return b"\x2a\x00" + struct.pack(">I", i) + bytes(10)


def med_encode(t_sched: float, epoch: float) -> int:
    """Probe MED: scheduled send time as whole milliseconds since the
    run's wall-clock epoch (a 32-bit attribute: good for 49 days)."""
    return int(round((t_sched - epoch) * 1000.0))


def med_decode(med: int, epoch: float) -> float:
    return epoch + med / 1000.0


def _zipf_cum(n: int, s: float = 1.1) -> list[float]:
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r ** s
        out.append(acc)
    return out


class Rib:
    """The seeded RIB: routes with their per-session history depth and
    attributes, in the daemon's own route order."""

    def __init__(self, seed: int, scale: Scale):
        rng = random.Random(f"rib-{seed}")
        self.scale = scale
        self.v4: list[Route] = []
        self.covers: dict[int, Route] = {}   # /16 base → covering route
        hijack_left = 12
        block = 0
        while len(self.v4) < scale.v4:
            base = V4_BASE + (block << 16)
            block += 1
            covered = rng.random() < 0.34
            cover_origin = ORIGIN_AS0 + rng.randrange(N_ORIGINS)
            if covered:
                r = self._route(rng, "ipv4u", base, 16, moas=False,
                                origin=cover_origin)
                self.v4.append(r)
                self.covers[base] = r
            slots = sorted(rng.sample(range(256), rng.randint(24, 140)))
            for s in slots:
                origin = None
                if covered:
                    origin = cover_origin
                    if hijack_left and rng.random() < 0.01:
                        hijack_left -= 1
                        origin = None  # a more-specific with its own origin
                self.v4.append(self._route(
                    rng, "ipv4u", base + (s << 8), 24,
                    moas=not covered and rng.random() < 0.01, origin=origin,
                ))
        self.v4.sort(key=lambda r: (r.addr, r.plen))
        self.churn = [
            self._route(rng, "ipv4u", CHURN_BASE + (i << 8), 24, moas=False,
                        sessions=(0,))
            for i in range(scale.dump)
        ]
        self.v6 = [
            self._route(rng, "ipv6u", v6_bytes(i), 48, moas=False)
            for i in range(scale.v6)
        ]
        self.vpn = []
        for i in range(scale.vpn):
            rd = 1 + i % 16
            inner = VPN_INNER_BASE + ((i // 16) << 8)
            r = self._route(rng, "vpnv4u", inner, 24, moas=False)
            r.rd, r.label = rd, 100 + rd
            r.nlri = f"L{r.label}:{RD_ADMIN}:{rd}:{v4_str(inner)}/24"
            self.vpn.append(r)

    @staticmethod
    def _route(rng, rib, addr, plen, moas, origin=None, sessions=None) -> Route:
        if sessions is None:
            sessions = (0, 1) if rng.random() < 0.7 else (rng.choice(SESSIONS),)
        if moas and len(sessions) < 2:
            sessions = (0, 1)
        o = origin if origin is not None else ORIGIN_AS0 + int(
            N_ORIGINS * rng.random() ** 2)
        origins = {s: o for s in sessions}
        if moas:
            origins[1] = ORIGIN_AS0 + (o - ORIGIN_AS0 + 1 + rng.randrange(50)) % N_ORIGINS
        comms = tuple(sorted(
            (COMM_ADMIN << 16) | rng.randrange(N_COMMS)
            for _ in range(rng.randint(1, 2))
        ))
        if rib == "ipv6u":
            nlri = f"{ipaddress.IPv6Address(addr)}/{plen}"
        else:
            nlri = f"{v4_str(addr)}/{plen}"
        return Route(
            rib=rib, nlri=nlri, addr=addr, plen=plen, origin=origins,
            comms=comms,
            upstream={s: UPSTREAM_AS0 + rng.randrange(N_UPSTREAMS) for s in sessions},
            versions={s: rng.randint(1, 3) for s in sessions},
        )

    def snapshot_routes(self):
        yield from self.v4
        yield from self.v6
        yield from self.vpn

    def moas(self) -> list[str]:
        return sorted(r.nlri for r in self.v4 if len(set(r.origin.values())) > 1)

    def hijacks(self) -> set[tuple[str, int]]:
        out = set()
        for r in self.v4:
            if r.plen != 24:
                continue
            cover = self.covers.get(r.addr & 0xFFFF0000)
            if cover is None:
                continue
            cover_origins = set(cover.origin.values())
            for o in set(r.origin.values()):
                if o not in cover_origins:
                    out.add((r.nlri, o))
        return out

    # -- wire form ------------------------------------------------------

    def update_body(self, r: Route, s: int, med: int) -> bytes:
        from bgpexplorer_spark.sources.mrt import (
            encode_bgp_update_body, encode_labeled_nlri,
        )

        attrs = dict(
            origin=0, aspath=[(2, [r.upstream[s], r.origin[s]])], med=med,
            localpref=100, comms=list(r.comms),
        )
        if r.rib == "ipv4u":
            return encode_bgp_update_body(
                nlri=[(r.addr, r.plen)], nexthop=NEXTHOP[s], **attrs)
        if r.rib == "ipv6u":
            return encode_bgp_update_body(
                nlri6=[(r.addr, r.plen)],
                nexthop6=b"\x20\x01\x0d\xb8" + bytes(11) + bytes([s + 1]), **attrs)
        payload = encode_labeled_nlri([r.label], r.addr, r.plen, rd=(RD_ADMIN, r.rd))
        nh = bytes(8) + struct.pack(">I", NEXTHOP[s])
        return encode_bgp_update_body(mp_reach=(1, 128, nh, payload), **attrs)

    def history_events(self):
        """(ts, session, update body) for every history entry the
        snapshot holds: one UPDATE per (route, session, version), the
        versions differing in MED so ``historymode=differ`` keeps each."""
        for i, r in enumerate(self.snapshot_routes()):
            for s, nver in r.versions.items():
                for v in range(nver):
                    ts = SNAPSHOT_BASE + dt.timedelta(
                        days=v, seconds=(i * 7 + s * 13) % 80000)
                    yield ts, s, self.update_body(r, s, med=10 * (v + 1))

    def final_med(self, r: Route, s: int) -> int:
        return 10 * r.versions[s]

    def dump_messages(self) -> list[bytes]:
        """The live router's table at session start: every churn-universe
        route once, as session 0 would announce it."""
        from bgpexplorer_spark.streaming.bgplive import encode_bgp_message

        return [encode_bgp_message(2, self.update_body(r, 0, self.final_med(r, 0)))
                for r in self.churn]


# -- the /api/json query mix ------------------------------------------------

@dataclass
class Query:
    """One request with what a correct answer must satisfy."""

    kind: str
    rib: str
    params: dict
    found: int | None = None                 # exact expected ``found``
    found_min: int | None = None             # lower bound (paging under churn)
    items: dict | None = None                # nlri → {session: depth}
    item_set: frozenset | None = None        # exact key set of the page
    within: frozenset | None = None          # loose: page keys lie inside,
                                             # found at most its size

    def path(self) -> str:
        from urllib.parse import urlencode

        return f"/api/json/{self.rib}?{urlencode(self.params)}"


LIMIT = 50

QUERY_MIX = (
    ("exact", 25), ("subnet", 10), ("supernet", 10), ("as_first", 8),
    ("as_origin", 10), ("community", 10), ("rd_prefix", 10), ("v6", 10),
    ("paging", 7),
)


class QueryGen:
    """Draws the seeded request stream. The kinds follow one fixed cycle
    in the ``QUERY_MIX`` proportions, the same for every seed, so short
    runs see the same mix; the seed draws what each request asks for.
    Prefix-addressed kinds draw Zipf-skewed over a seeded permutation,
    so a handful of prefixes take most requests (what a result cache
    would exploit)."""

    def __init__(self, rib: Rib, seed: int, stream: int = 0):
        self.rib = rib
        self.rng = random.Random(f"queries-{seed}-{stream}")
        perm = random.Random(f"zipf-{seed}")
        self.v24 = [r for r in rib.v4 if r.plen == 24]
        self.v4_order = list(range(len(self.v24)))
        perm.shuffle(self.v4_order)
        self.v4_cum = _zipf_cum(len(self.v24))
        self.v6_order = list(range(len(rib.v6)))
        perm.shuffle(self.v6_order)
        self.v6_cum = _zipf_cum(len(rib.v6))
        self.vpn_order = list(range(len(rib.vpn)))
        perm.shuffle(self.vpn_order)
        self.vpn_cum = _zipf_cum(len(rib.vpn))
        self.cycle = [k for k, w in QUERY_MIX for _ in range(w)]
        random.Random("kinds").shuffle(self.cycle)
        self.n = stream * len(self.cycle) // 2
        self.blocks = sorted({r.addr & 0xFFFF0000 for r in rib.v4})
        self.v4_addrs = [r.addr for r in rib.v4]
        self.origins = sorted({o for r in rib.v4 for o in r.origin.values()})
        self.stable = frozenset(r.nlri for r in rib.v4)
        self.origin_cum = _zipf_cum(len(self.origins), 0.8)

    def _zipf(self, order, cum) -> int:
        x = self.rng.random() * cum[-1]
        return order[bisect.bisect_left(cum, x)]

    def next(self) -> Query:
        kind = self.cycle[self.n % len(self.cycle)]
        self.n += 1
        return getattr(self, "_q_" + kind)()

    @staticmethod
    def _expect(routes) -> dict:
        return {r.nlri: dict(r.versions) for r in routes}

    def _q_exact(self) -> Query:
        r = self.v24[self._zipf(self.v4_order, self.v4_cum)]
        return Query("exact", "ipv4u", {"filter": r.nlri, "limit": LIMIT},
                     found=1, items=self._expect([r]))

    def _q_subnet(self) -> Query:
        base = self.rng.choice(self.blocks)
        lo = bisect.bisect_left(self.v4_addrs, base)
        hi = bisect.bisect_left(self.v4_addrs, base + (1 << 16))
        inside = self.rib.v4[lo:hi]
        return Query("subnet", "ipv4u",
                     {"filter": f"{v4_str(base)}/16", "limit": LIMIT},
                     found=len(inside),
                     item_set=frozenset(r.nlri for r in inside[:LIMIT]))

    def _q_supernet(self) -> Query:
        r = self.v24[self._zipf(self.v4_order, self.v4_cum)]
        host = r.addr + 1 + self.rng.randrange(254)
        covering = [r]
        cover = self.rib.covers.get(r.addr & 0xFFFF0000)
        if cover is not None:
            covering.append(cover)
        return Query("supernet", "ipv4u",
                     {"filter": f"{v4_str(host)}/32", "limit": LIMIT},
                     found=0, items=self._expect(covering))

    def _page_of(self, kind, rib, flt) -> Query:
        # scoped to the stable space: churned routes never enter the truth.
        # Only loosely checked: the engine's answers to attribute terms
        # differ from this model's (its c: term matches every route, its
        # AS-path counts run ~10 % under these), see README.md
        flt = f"{flt} {v4_str(V4_BASE)}/8"
        return Query(kind, rib, {"filter": flt, "limit": LIMIT},
                     within=self.stable)

    def _q_as_first(self) -> Query:
        u = UPSTREAM_AS0 + int(N_UPSTREAMS * self.rng.random() ** 2)
        return self._page_of("as_first", "ipv4u", f"as:^{u}")

    def _q_as_origin(self) -> Query:
        o = self.origins[bisect.bisect_left(
            self.origin_cum, self.rng.random() * self.origin_cum[-1])]
        return self._page_of("as_origin", "ipv4u", f"as:{o}$")

    def _q_community(self) -> Query:
        c = (COMM_ADMIN << 16) | int(N_COMMS * self.rng.random() ** 2)
        return self._page_of("community", "ipv4u", f"c:{c >> 16}:{c & 0xFFFF}")

    def _q_rd_prefix(self) -> Query:
        r = self.rib.vpn[self._zipf(self.vpn_order, self.vpn_cum)]
        flt = f"rd:{RD_ADMIN}:{r.rd} {v4_str(r.addr)}/24"
        return Query("rd_prefix", "vpnv4u", {"filter": flt, "limit": LIMIT},
                     found=1, items=self._expect([r]))

    def _q_v6(self) -> Query:
        r = self.rib.v6[self._zipf(self.v6_order, self.v6_cum)]
        return Query("v6", "ipv6u", {"filter": r.nlri, "limit": LIMIT},
                     found=1, items=self._expect([r]))

    def _q_paging(self) -> Query:
        # pages inside the stable space: the churn universe and the
        # probes sort after it
        routes = self.rib.v4
        skip = self.rng.randrange(0, len(routes) - LIMIT)
        return Query("paging", "ipv4u", {"skip": skip, "limit": LIMIT},
                     found_min=len(routes),
                     item_set=frozenset(r.nlri for r in routes[skip:skip + LIMIT]))


def check_answer(q: Query, ans: dict) -> str | None:
    """None when ``ans`` (a decoded /api/json envelope) agrees with the
    ground truth, else a one-line reason."""
    items = ans.get("items")
    found = ans.get("found")
    if not isinstance(items, dict) or not isinstance(found, int):
        return f"{q.kind}: malformed answer"
    if q.found is not None:
        if found != q.found:
            return f"{q.kind}: found {found} != {q.found}"
    if q.found_min is not None and found < q.found_min:
        return f"{q.kind}: found {found} < {q.found_min}"
    if q.items is not None:
        if set(items) != set(q.items):
            return f"{q.kind}: items {sorted(items)[:3]} != {sorted(q.items)[:3]}"
        for nlri, depth in q.items.items():
            got = {int(s): sum(len(h) for h in paths.values())
                   for s, paths in items[nlri].items()}
            if got != depth:
                return f"{q.kind}: {nlri} sessions/depth {got} != {depth}"
    if q.item_set is not None and set(items) != q.item_set:
        return f"{q.kind}: page differs ({len(items)} items)"
    if q.within is not None:
        if found > len(q.within) or len(items) != min(LIMIT, found) \
                or not set(items) <= q.within:
            return f"{q.kind}: page of {len(items)} of {found} outside the stable space"
    return None


# -- live BGP traffic -------------------------------------------------------

@dataclass
class Churn:
    """Open-loop churn over the churn universe plus probes, pre-encoded.
    It starts from the router's dump (``Rib.dump_messages``).

    ``schedule`` holds (offset_s, message bytes, probe id or -1) in send
    order; probe ids index ``probe_offsets``. ``final`` is the state of
    every churn slot after the last event: slot → (announced, med)."""

    schedule: list[tuple[float, bytes, int]] = field(default_factory=list)
    drain: bytes = b""   # sent after the schedule: slot 0 gets DRAIN_MED
    probe_offsets: list[float] = field(default_factory=list)
    final: dict[int, tuple[bool, int]] = field(default_factory=dict)
    n_updates: int = 0


def probe_prefix(k: int) -> tuple[int, str]:
    addr = PROBE_BASE + k
    return addr, f"{v4_str(addr)}/32"


def probe_message(k: int, med: int) -> bytes:
    from bgpexplorer_spark.sources.mrt import encode_bgp_update_body
    from bgpexplorer_spark.streaming.bgplive import encode_bgp_message

    addr, _ = probe_prefix(k)
    return encode_bgp_message(2, encode_bgp_update_body(
        nlri=[(addr, 32)], origin=0, aspath=[(2, [PEER_AS[0], 64999])],
        nexthop=NEXTHOP[0], med=med, localpref=100,
    ))


def make_churn(rib: Rib, seed: int, rate: float, seconds: float,
               probe_every: float, probe_first: int = 0) -> Churn:
    """Churn at ``rate`` updates/s for ``seconds``: 20 % new prefixes,
    ``WITHDRAW_SHARE`` withdraws, the rest re-announcements with a
    changed MED (and sometimes upstream); a probe every ``probe_every`` s, numbered from
    ``probe_first``, carrying its scheduled offset in MED (milliseconds
    since the schedule's start). ``rate`` 0 gives probes only."""
    from bgpexplorer_spark.sources.mrt import encode_bgp_update_body
    from bgpexplorer_spark.streaming.bgplive import encode_bgp_message

    rng = random.Random(f"churn-{seed}")
    out = Churn()
    state = {i: (True, rib.final_med(r, 0), r.upstream[0], r.origin[0])
             for i, r in enumerate(rib.churn)}
    active = list(state)
    pos = {s: i for i, s in enumerate(active)}
    next_new = len(rib.churn)
    med_seq = 1000

    def drop(slot):
        i = pos.pop(slot)
        last = active.pop()
        if last != slot:
            active[i] = last
            pos[last] = i

    events: list[tuple[float, bytes, int]] = []
    n = int(rate * seconds)  # 0 → probes only
    for j in range(n):
        t = j / rate
        x = rng.random()
        if x < 0.2 or not active:
            slot, next_new = next_new, next_new + 1
            up = UPSTREAM_AS0 + rng.randrange(N_UPSTREAMS)
            origin = ORIGIN_AS0 + rng.randrange(N_ORIGINS)
        else:
            slot = active[rng.randrange(len(active))]
            _, _, up, origin = state[slot]
        addr = CHURN_BASE + (slot << 8)
        if 0.2 <= x < 0.2 + WITHDRAW_SHARE and slot in pos:
            drop(slot)
            state[slot] = (False, state[slot][1], up, origin)
            body = encode_bgp_update_body(withdrawn=[(addr, 24)])
        else:
            med_seq += 1
            if rng.random() < 0.3:
                up = UPSTREAM_AS0 + rng.randrange(N_UPSTREAMS)
            if slot not in pos:
                pos[slot] = len(active)
                active.append(slot)
            state[slot] = (True, med_seq, up, origin)
            body = encode_bgp_update_body(
                nlri=[(addr, 24)], origin=0, aspath=[(2, [up, origin])],
                nexthop=NEXTHOP[0], med=med_seq, localpref=100,
                comms=[(COMM_ADMIN << 16) | 7],
            )
        events.append((t, encode_bgp_message(2, body), -1))
    out.n_updates = n
    k, t = 0, 0.0
    while t < seconds:
        events.append((t, probe_message(probe_first + k, med_encode(t, 0.0)),
                       probe_first + k))
        out.probe_offsets.append(t)
        k += 1
        t = k * probe_every
    events.sort(key=lambda e: e[0])
    out.schedule = events
    _, _, up, origin = state[0]
    state[0] = (True, DRAIN_MED, up, origin)
    out.drain = encode_bgp_message(2, encode_bgp_update_body(
        nlri=[(CHURN_BASE, 24)], origin=0, aspath=[(2, [up, origin])],
        nexthop=NEXTHOP[0], med=DRAIN_MED, localpref=100,
        comms=[(COMM_ADMIN << 16) | 7]))
    out.final = {s: (st[0], st[1]) for s, st in state.items()}
    return out


def check_final_state(churn: Churn, ans: dict) -> list[str]:
    """Compare the newest session-0 entry of every churn slot inside
    ``CHECK_BLOCK`` (one ``maxdepth=1`` subnet answer) with the last
    event sent for it. Returns the mismatches."""
    items = ans.get("items") or {}
    bad = []
    for slot in range(CHECK_SLOTS):
        if slot not in churn.final:
            continue
        announced, med = churn.final[slot]
        nlri = f"{v4_str(CHURN_BASE + (slot << 8))}/24"
        hist = (items.get(nlri) or {}).get("0", {}).get("0", {})
        if not hist:
            bad.append(f"{nlri}: missing")
            continue
        newest = hist[max(hist, key=int)]
        if isinstance(newest, str):  # entries are JSON text inside the map
            newest = json.loads(newest)
        got = (bool(newest.get("active")), (newest.get("attrs") or {}).get("med"))
        want = (announced, med)
        if got[0] != want[0] or (announced and got[1] != med):
            bad.append(f"{nlri}: {got} != {want}")
    return bad
