"""Property-based invariants for the AS-graph analytics
(operators/analytics) against independent pure-Python models: random
AS paths, any divergence is an operator bug."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


_paths = st.lists(
    st.lists(st.integers(min_value=1, max_value=9), min_size=1, max_size=5),
    min_size=1,
    max_size=12,
)


def _rel_model(paths):
    """Pure-Python Gao model mirroring operators/analytics
    .as_relationships: collapse prepends, distinct paths, undirected
    degree, summit = max degree (tie -> earliest position), uphill c2p
    votes / downhill p2c votes, p2p on disagreement."""
    collapsed = set()
    for p in paths:
        c = [p[0]] + [x for i, x in enumerate(p[1:]) if x != p[i]]
        if len(c) >= 2:
            collapsed.add(tuple(c))
    nbrs: dict[int, set[int]] = {}
    for p in collapsed:
        for a, b in zip(p, p[1:]):
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
    votes: dict[tuple[int, int], list[int]] = {}
    for p in collapsed:
        deg = [len(nbrs[x]) for x in p]
        top = max(range(len(p)), key=lambda i: (deg[i], -i))
        for i, (a, b) in enumerate(zip(p, p[1:])):
            lo, hi = min(a, b), max(a, b)
            low_customer = (a < b) if i < top else (b < a)
            v = votes.setdefault((lo, hi), [0, 0])
            v[0 if low_customer else 1] += 1
    out = {}
    for (lo, hi), (nl, nh) in votes.items():
        rel = "p2p" if (nl and nh) else ("c2p" if nl else "p2c")
        out[(lo, hi)] = (nl, nh, rel)
    return out


@settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(paths=_paths)
def test_as_relationships_matches_model(spark, paths):
    from bgpexplorer_spark.operators.analytics import as_relationships

    df = spark.createDataFrame(
        [(i, list(p)) for i, p in enumerate(paths)],
        "id long, aspath_flat array<bigint>",
    )
    got = {
        (r.as_low, r.as_high): (r.n_low_customer, r.n_high_customer, r.rel)
        for r in as_relationships(df).collect()
    }
    assert got == _rel_model(paths)


@settings(
    max_examples=20, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(paths=_paths)
def test_customer_cone_matches_model(spark, paths):
    """The iterative provider→customer closure must equal a pure-Python
    transitive closure over the same inferred p2c edges — including on
    cyclic inferred graphs, where both sides converge to the full
    reachable set."""
    from bgpexplorer_spark.operators.analytics import (
        as_relationships,
        customer_cone,
    )

    rels = _rel_model(paths)
    pc: dict[int, set[int]] = {}
    nodes = set()
    for (lo, hi), (nl, nh, rel) in rels.items():
        if rel == "p2p":
            continue
        prov, cust = (hi, lo) if rel == "c2p" else (lo, hi)
        pc.setdefault(prov, set()).add(cust)
        nodes.update((prov, cust))
    exp = {}
    for n in nodes:
        seen: set[int] = set()
        frontier = set(pc.get(n, ()))
        while frontier:
            seen |= frontier
            frontier = {
                c for f in frontier for c in pc.get(f, ())
            } - seen
        exp[n] = len(seen - {n}) + 1 if n in seen else len(seen) + 1

    df = spark.createDataFrame(
        [(i, list(p)) for i, p in enumerate(paths)],
        "id long, aspath_flat array<bigint>",
    )
    got = {r.asn: r.cone_size
           for r in customer_cone(as_relationships(df)).collect()}
    assert got == exp

