"""Helpers to build tiny ``updates`` DataFrames for tests — the analog of
the reference's hand-written mini-RIBs (src/ribfilter.rs:1760-2429)."""

from __future__ import annotations

import datetime as dt
import ipaddress
import os
from typing import Any

from bgpexplorer_spark.schemas import UPDATES_SCHEMA

_FIELDS = [f.name for f in UPDATES_SCHEMA.fields]

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

def ts(i: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=i)

def u(
    nlri: str,
    rib: str = "ipv4u",
    op: str = "update",
    t: int = 0,
    session_id: int = 0,
    path_id: int = 0,
    rd: str | None = None,
    labels: list[int] | None = None,
    aspath: list[tuple[str, list[int]]] | None = None,
    comms: list[int] | None = None,
    extcomms: list[tuple[int, int, int, int]] | None = None,
    lcomms: list[tuple[int, int, int]] | None = None,
    nexthop: str | None = None,
    mvpn: tuple[int, str | None, str | None] | None = None,  # (type, source, group)
    l2: tuple[int, int, int] | None = None,  # (site, offset, range)
    evpn: int | None = None,  # evpn route type
    mdt_group: str | None = None,
    **extra: Any,
) -> dict:
    """One updates row from a compact spec. ``nlri`` is 'a.b.c.d/len' or a
    v6 prefix; rd is 'hi:lo'. Withdraws (op='withdraw') keep keys only."""
    row: dict[str, Any] = {k: None for k in _FIELDS}
    row.update(ts=ts(t), session_id=session_id, op=op, path_id=path_id, rib=rib)

    net = ipaddress.ip_network(nlri if "/" in nlri else nlri + ("/128" if ":" in nlri else "/32"))
    row["prefixlen"] = net.prefixlen
    if net.version == 4:
        row["addr_v4"] = int(net.network_address)
    else:
        row["addr_v6"] = net.network_address.packed
    nlri_disp = f"{net.network_address}/{net.prefixlen}"
    if rd:
        hi, lo = rd.split(":")
        row["rd_hi"], row["rd_lo"] = int(hi), int(lo)
        nlri_disp = f"{rd}:{nlri_disp}"
    if labels:
        row["labels"] = labels
        nlri_disp = f"L{','.join(map(str, labels))}:{nlri_disp}"
    if mvpn:
        mt, src, grp = mvpn
        row["mvpn_type"] = mt
        if src:
            row["mvpn_source_v4"] = int(ipaddress.IPv4Address(src))
        if grp:
            row["mvpn_group_v4"] = int(ipaddress.IPv4Address(grp))
        nlri_disp = f"T{mt}:{nlri_disp}"
    if l2:
        row["l2_site"], row["l2_offset"], row["l2_range"] = l2
        nlri_disp = f"L2:{l2[0]}:{l2[1]}-{l2[2]}:{nlri_disp}"
    if evpn is not None:
        row["evpn_type"] = evpn
        nlri_disp = f"E{evpn}:{nlri_disp}"
    if mdt_group:
        ip = ipaddress.ip_address(mdt_group)
        if ip.version == 4:
            row["mdt_group_v4"] = int(ip)
        else:
            row["mdt_group_v6"] = ip.packed
        nlri_disp = f"{nlri_disp}:G{mdt_group}"
    row["nlri_str"] = nlri_disp

    if op == "update":
        row["origin"] = "IGP"
        if aspath:
            row["aspath"] = [{"kind": k, "asns": a} for k, a in aspath]
        if comms:
            row["comms"] = comms
        if extcomms:
            row["extcomms"] = [
                {"ctype": c, "subtype": s, "a": a, "b": b} for c, s, a, b in extcomms
            ]
        if lcomms:
            row["lcomms"] = [{"ga": g, "ldp1": p1, "ldp2": p2} for g, p1, p2 in lcomms]
        if nexthop:
            ip = ipaddress.ip_address(nexthop)
            if ip.version == 4:
                row["nexthop_v4"] = int(ip)
            else:
                row["nexthop_v6"] = ip.packed
    row.update(extra)
    return row

def make_updates(spark, rows: list[dict]):
    return spark.createDataFrame(
        [tuple(r[k] for k in _FIELDS) for r in rows], UPDATES_SCHEMA
    )


def parquet_files(root) -> dict:
    """Relative path → bytes of every parquet file under the table or
    snapshot directory ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                with open(os.path.join(d, n), "rb") as f:
                    out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out
