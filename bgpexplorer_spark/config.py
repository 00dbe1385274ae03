"""INI config source (SURVEY.md §2.1 S12; reference
src/config.rs:415-659 SvcConfig::from_inifile / ProtoPeer::from_ini).

Same keys and defaults as the reference's bgpexplorer.ini: a [main]
section plus one section per peer. Peer sections accept ``mode``
(bgpactive|bgppassive|bmpactive|bmppassive), ``peer``/``listen``,
``bgppeeras``, ``filter_rd`` (S3).
"""

from __future__ import annotations

import configparser
from dataclasses import dataclass, field

@dataclass
class PeerConfig:
    """One ingest peer (reference ProtoPeer, src/config.rs:48-263)."""

    name: str
    mode: str = "bgpactive"          # bgpactive|bgppassive|bmpactive|bmppassive
    peer: str | None = None          # remote addr for active modes
    listen: str | None = None        # local addr for passive modes
    bgppeeras: int = 0
    filter_rd: str = "0:0"           # S3 ingest RD filter (src/bmppeer.rs:33-39)
    caps: str = "minimal"            # 'all' | 'minimal' | comma list (src/config.rs:189-235)

@dataclass
class SvcConfig:
    """Reference SvcConfig (src/config.rs:331-348) minus the Rust-runtime
    fields; defaults match src/config.rs:455-659."""

    httplisten: str = "0.0.0.0:8080"
    httproot: str = "./contrib"
    httptimeout: int = 120
    historydepth: int = 10            # src/config.rs:506-523
    timeidx_granularity: int = 86400  # src/config.rs:486-505
    historymode: str = "every"        # 'every' | 'differ' (src/config.rs:22-28)
    whoisdb: str = "whoisdb"
    whoisreqtimeout: int = 30
    whoiscachesecs: int = 1800        # src/config.rs:580-595
    whoisjsonconfig: str | None = None  # registry→server map file (src/config.rs:596-605)
    whoisdnses: list[str] = field(     # resolver addrs, default 1.1.1.1:53
        default_factory=lambda: ["1.1.1.1:53"]  # src/config.rs:616-638
    )
    purge_after_withdraws: int = 0
    purge_every: int = 300            # seconds, src/config.rs:542-579
    snapshot_file: str | None = None
    snapshot_every: int = 43200       # src/config.rs:476-485
    routerid: str = "1.1.1.1"         # our OPEN router-id (src/config.rs:137-151)
    protolisten: str | None = None    # shared passive listen addr (src/config.rs:98-110)
    peeras: int = 0                   # our AS in OPEN (ProtoPeer bgppeeras analog)
    peers: list[PeerConfig] = field(default_factory=list)
    # engine extension: where the rib_history parquet table lives
    table_path: str | None = None
    # engine extension: RPKI validator export (RIPE/rpki-client JSON or
    # routinator vrps CSV) feeding /api/analytics/rpki
    roas_file: str | None = None

def _parse_dns_list(raw: str | None) -> list[str]:
    """``whoisdns`` ini key: comma-separated resolver addrs; a bare host
    gets ``:53`` appended; invalid entries are skipped with a warning;
    empty result falls back to 1.1.1.1:53 (src/config.rs:616-638)."""
    import ipaddress

    out: list[str] = []
    for part in (raw or "").split(","):
        part = part.strip()
        if not part:
            continue
        host, port = part, 53
        if part.count(":") == 1:  # v4 host:port (v6 literals have many :)
            host, p = part.rsplit(":", 1)
            if not p.isdigit():
                continue
            port = int(p)
        try:
            ipaddress.ip_address(host.strip("[]"))
        except ValueError:
            continue
        out.append(f"{host}:{port}")
    return out or ["1.1.1.1:53"]


def from_inifile(path: str) -> SvcConfig:
    cp = configparser.ConfigParser()
    read = cp.read(path)
    if not read or "main" not in cp:
        raise ValueError("Missing section 'main' in ini file")
    m = cp["main"]
    cfg = SvcConfig(
        httplisten=m.get("httplisten", "0.0.0.0:8080"),
        httproot=m.get("httproot", "./contrib"),
        httptimeout=m.getint("httptimeout", fallback=120),
        historydepth=m.getint("historydepth", fallback=10),
        timeidx_granularity=m.getint("timeidx_granularity", fallback=86400),
        historymode=m.get("historymode", "every").lower(),
        whoisdb=m.get("whoisdb", "whoisdb"),
        whoisreqtimeout=m.getint("whois_request_timeout", fallback=30),
        whoiscachesecs=m.getint("whois_cache_seconds", fallback=1800),
        whoisjsonconfig=m.get("whoisjsonconfig", fallback=None),
        whoisdnses=_parse_dns_list(m.get("whoisdns", fallback=None)),
        purge_after_withdraws=m.getint("purge_after_withdraws", fallback=0),
        purge_every=m.getint("purge_every", fallback=300),
        snapshot_file=m.get("snapshot", fallback=None),
        snapshot_every=m.getint("snapshot_every", fallback=43200),
        routerid=m.get("routerid", "1.1.1.1"),
        protolisten=m.get("protolisten", fallback=None),
        peeras=m.getint("peeras", fallback=0),
        table_path=m.get("table_path", fallback=None),
        roas_file=m.get("roasfile", fallback=None),
    )
    if cfg.historymode not in ("every", "differ"):
        cfg.historymode = "every"
    # resolve relative companion files (whois.json server map, ROA
    # export) against the ini's own directory — the reference ships
    # whois.json beside bgpexplorer.ini and loads it by that name
    # (src/config.rs:596-605) — so a fresh checkout works from any CWD;
    # an absolute path or a CWD-relative hit is left alone.
    import os

    for attr in ("whoisjsonconfig", "roas_file"):
        w = getattr(cfg, attr)
        if w and not os.path.isabs(w) and not os.path.exists(w):
            beside = os.path.join(os.path.dirname(os.path.abspath(path)), w)
            if os.path.exists(beside):
                setattr(cfg, attr, beside)
    for sect in cp.sections():
        if sect == "main":
            continue
        s = cp[sect]
        mode = s.get("mode", "bgpactive").lower()
        if mode not in ("bgpactive", "bgppassive", "bmpactive", "bmppassive"):
            continue  # reference warns and skips invalid peers
        cfg.peers.append(
            PeerConfig(
                name=sect,
                mode=mode,
                peer=s.get("peer", fallback=None),
                listen=s.get("listen", fallback=None),
                bgppeeras=s.getint("bgppeeras", fallback=0),
                filter_rd=s.get("filter_rd", "0:0"),
                caps=s.get("caps", "minimal"),
            )
        )
    return cfg


def parse_hostport(
    addr: str, default_port: int, default_host: str = "0.0.0.0"
) -> tuple[str, int]:
    """``host[:port]`` → ``(host, port)``, with the v6 forms handled the
    way they are written for getaddrinfo: ``[v6]:port``, ``[v6]`` and a
    bare ``v6`` literal (more than one ``:`` → the whole string is the
    address). Brackets are stripped (the socket API wants the bare
    address). Malformed forms fail LOUDLY instead of binding to a
    garbage address — ``'::1'`` must not become host ``':'`` port 1, and
    a bare ``'8080'`` must not become host ``'8080'``."""
    def port_of(p: str) -> int:
        n = int(p)
        if not 0 <= n <= 65535:
            raise ValueError(f"port out of range in listen address {addr!r}")
        return n

    addr = addr.strip()
    if addr.startswith("["):
        host, sep, rest = addr[1:].partition("]")
        if not sep or (rest and not (rest.startswith(":") and rest[1:].isdigit())):
            raise ValueError(f"invalid listen address {addr!r}")
        return host or default_host, port_of(rest[1:]) if rest else default_port
    if addr.count(":") > 1:
        import ipaddress

        try:
            ipaddress.IPv6Address(addr)
        except ValueError as exc:
            raise ValueError(
                f"invalid listen address {addr!r} (bracket the host as "
                "'[v6]:port' to attach a port to an IPv6 literal)"
            ) from exc
        return addr, default_port
    host, sep, port = addr.partition(":")
    if sep:
        if not port.isdigit():
            raise ValueError(f"invalid port in listen address {addr!r}")
        return host or default_host, port_of(port)
    if not addr:
        return default_host, default_port
    if addr.isdigit():
        raise ValueError(
            f"ambiguous listen address {addr!r} — write ':{addr}' for a "
            "port on all interfaces, or 'host:port'"
        )
    return addr, default_port


def routerid_int(cfg: SvcConfig) -> int:
    """Dotted router-id → the 32-bit int the OPEN encoder wants."""
    parts = [int(x) for x in cfg.routerid.split(".")]
    if len(parts) != 4 or any(not 0 <= x <= 255 for x in parts):
        raise ValueError(f"invalid routerid {cfg.routerid!r}")
    return (parts[0] << 24) | (parts[1] << 16) | (parts[2] << 8) | parts[3]


def start_listeners(cfg: SvcConfig, out_dir: str, raw_dir: str | None = None):
    """Boot the live daemons a config describes (the reference's
    main-loop peer spawning, src/main.rs + src/bgpsvc.rs:361-410):
    one passive BGP speaker on ``protolisten`` if any peer is
    ``bgppassive`` (the reference binds one socket and dispatches by
    source address — the shared OPEN advertises the UNION of all
    bgppassive peers' caps), one BMP station per ``bmppassive`` peer's
    ``listen``, one dial-out ``BgpConnector`` per ``bgpactive`` peer
    and one dial-out ``BmpConnector`` per ``bmpactive`` peer (the
    reference's run_peer_active respawn loop → reconnect-with-backoff).
    Returns the started daemons (call ``.stop()`` on each; all write
    UPDATES_SCHEMA micro-batches into ``out_dir``)."""
    from bgpexplorer_spark.streaming.bgplive import BgpConnector, BgpListener
    from bgpexplorer_spark.streaming.bmplive import BmpConnector, BmpListener

    split = parse_hostport

    listeners = []
    passive = [p for p in cfg.peers if p.mode == "bgppassive"]
    if passive:
        host, port = split(cfg.protolisten or "0.0.0.0:179", 179)
        fams: list[str] = []  # union, first-mention order
        for p in passive:
            fams += [c for c in parse_caps(p.caps) if c not in fams]
        lsn = BgpListener(
            out_dir, as_num=cfg.peeras or 64512,
            router_id=routerid_int(cfg), host=host, port=port, raw_dir=raw_dir,
            caps=fams, addpath=any(caps_addpath(p.caps) for p in passive),
        )
        lsn.start()
        listeners.append(lsn)
    for p in cfg.peers:
        if p.mode == "bmppassive":
            host, port = split(p.listen or "0.0.0.0:1790", 1790)
            lsn = BmpListener(out_dir, host=host, port=port, raw_dir=raw_dir)
            lsn.start()
            listeners.append(lsn)
        elif p.mode == "bgpactive":
            if not p.peer:
                raise ValueError(f"bgpactive peer {p.name!r} needs 'peer'")
            host, port = split(p.peer, 179)
            lsn = BgpConnector(
                out_dir, host, port, as_num=cfg.peeras or 64512,
                router_id=routerid_int(cfg), raw_dir=raw_dir,
                caps=parse_caps(p.caps), addpath=caps_addpath(p.caps),
            )
            lsn.start()
            listeners.append(lsn)
        elif p.mode == "bmpactive":
            if not p.peer:
                raise ValueError(f"bmpactive peer {p.name!r} needs 'peer'")
            host, port = split(p.peer, 1790)
            lsn = BmpConnector(out_dir, host, port, raw_dir=raw_dir)
            lsn.start()
            listeners.append(lsn)
    return listeners


def start_snapshot_keeper(cfg: SvcConfig, get_history):
    """``snapshot`` / ``snapshot_every`` ini keys → a running
    :class:`bgpexplorer_spark.snapshotd.SnapshotKeeper` (None when the
    config names no snapshot file). Call ``.stop()`` for the reference's
    store-on-shutdown. Bootstrap the history table first by copying the
    snapshot's current version into it:
    ``snapshotd.load_snapshot_dir(spark, cfg.snapshot_file, table)``
    (the daemon's boot does this)."""
    if not cfg.snapshot_file:
        return None
    from bgpexplorer_spark.snapshotd import SnapshotKeeper

    return SnapshotKeeper(
        get_history, cfg.snapshot_file, cfg.snapshot_every
    ).start()


def parse_caps(caps: str) -> list[str]:
    """The reference's caps-string vocabulary (src/config.rs:189-235):
    'all', ''/'min'/'minimal', or a comma list of family names; unknown
    names are warned-and-skipped there, silently skipped here. 'asn32'
    is implied (the speaker always offers it); the 'addpath' token is
    reported by ``caps_addpath`` (the reference turns it into per-family
    ADD-PATH capabilities, src/config.rs:230-260)."""
    from bgpexplorer_spark.streaming.bgplive import MP_CAPS

    caps = (caps or "").strip().lower()
    if caps == "all":
        return list(MP_CAPS)
    if caps in ("", "min", "minimal"):
        return ["ipv4u"]
    return [c for c in (x.strip() for x in caps.split(",")) if c in MP_CAPS]


def caps_addpath(caps: str) -> bool:
    """True when the caps string requests ADD-PATH negotiation for the
    configured families (reference src/config.rs:230-260: the 'addpath'
    token expands to one BgpCapAddPath per family)."""
    return "addpath" in ((caps or "").strip().lower().split(","))
