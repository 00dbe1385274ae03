"""Canonical StructType schemas (SURVEY.md §1.3-§1.4, FIXTURES.md).

The reference keeps 15 per-SAFI ``BTreeMap`` tables with a nested
NLRI → session → path → (ts → attrs) history
(reference: src/bgprib.rs:385-426, 310-348). Here the whole RIB is ONE
flat, append-only event table ``rib_history`` with a ``rib`` discriminator
column and nullable per-family key columns — the superset-schema strategy
(SURVEY.md §1.2). Nested-map output is a presentation concern (§2.5 O7).

Scale posture: at 100 TB the table is partitioned by ``(rib, ts_date)``
and sorted/z-ordered within files by the sortable address forms so parquet
min/max statistics give the same pruning the reference's BTreeMap range
scan gives (src/ribfilter.rs:231-305) — see operators/snapshot.py.
"""

from __future__ import annotations

from pyspark.sql import types as T

# The 15 RIB names (reference: src/bgprib.rs:77-99).
RIB_NAMES = [
    "ipv4u", "ipv4m", "ipv4lu", "vpnv4u", "vpnv4m",
    "ipv6u", "ipv6lu", "vpnv6u", "vpnv6m",
    "l2vpls", "mvpn", "evpn", "fs4u", "ipv4mdt", "ipv6mdt",
]

# BgpAttrs — the reference's 13 fields (src/bgpattrs.rs:20-35); 14 here
# because nexthop splits into sortable v4/v6 forms.
ASPATH_SEGMENT = T.StructType([
    T.StructField("kind", T.StringType()),          # 'Seq' | 'Set'
    T.StructField("asns", T.ArrayType(T.LongType())),
])

LARGE_COMMUNITY = T.StructType([
    T.StructField("ga", T.LongType()),
    T.StructField("ldp1", T.LongType()),
    T.StructField("ldp2", T.LongType()),
])

# ctype/subtype are unsigned wire octets that DO exceed 127 in the wild
# (generic-experimental / FlowSpec action communities are ctype 0x80,
# RFC 8955 §7) — signed ByteType would overflow at Arrow conversion, so
# they are kept as ints.
EXT_COMMUNITY = T.StructType([
    T.StructField("ctype", T.IntegerType()),
    T.StructField("subtype", T.IntegerType()),
    T.StructField("a", T.LongType()),
    T.StructField("b", T.LongType()),
])

# PMSI tunnel attribute (RFC 6514 §5; reference field `pmsi_ta`,
# src/bgpattrs.rs:34 / interned store src/bgprib.rs:805). Flags carries
# the Leaf-Info-Required bit; label is the upper 20 bits of the 3-octet
# MPLS field; tunnel_id is the type-specific opaque identifier bytes
# (sender+group for PIM trees, endpoint address for ingress replication).
PMSI_TUNNEL = T.StructType([
    T.StructField("flags", T.IntegerType()),      # unsigned wire octet
    T.StructField("tunnel_type", T.IntegerType()),  # 0xFA-0xFF possible
    T.StructField("label", T.IntegerType()),
    T.StructField("tunnel_id", T.BinaryType()),
])

ATTR_FIELDS = [
    T.StructField("origin", T.StringType()),            # 'IGP'|'EGP'|'Incomplete'
    T.StructField("nexthop_v4", T.LongType()),          # sortable numeric v4
    T.StructField("nexthop_v6", T.BinaryType()),        # 16-byte big-endian
    T.StructField("aspath", T.ArrayType(ASPATH_SEGMENT)),
    T.StructField("comms", T.ArrayType(T.LongType())),  # u32 communities
    T.StructField("lcomms", T.ArrayType(LARGE_COMMUNITY)),
    T.StructField("extcomms", T.ArrayType(EXT_COMMUNITY)),
    T.StructField("med", T.LongType()),
    T.StructField("localpref", T.LongType()),
    T.StructField("atomicaggregate", T.BooleanType()),
    T.StructField("aggregator_as", T.LongType()),
    T.StructField("originator", T.LongType()),
    T.StructField("clusterlist", T.ArrayType(T.LongType())),
    T.StructField("pmsi_ta", PMSI_TUNNEL),
]

# Route-key columns — the superset of all 15 per-SAFI key types
# (reference key decl: src/bgprib.rs:807-821; types §1.3).
KEY_FIELDS = [
    T.StructField("rib", T.StringType(), False),
    T.StructField("nlri_str", T.StringType(), False),   # canonical display form
    T.StructField("rd_hi", T.LongType()),               # WithRd (nullable)
    T.StructField("rd_lo", T.LongType()),
    T.StructField("addr_v4", T.LongType()),             # sortable unsigned-as-long
    T.StructField("addr_v6", T.BinaryType()),           # 16B big-endian, lex-sortable
    T.StructField("prefixlen", T.IntegerType()),
    T.StructField("labels", T.ArrayType(T.IntegerType())),  # Labeled<T>
    T.StructField("mvpn_type", T.ByteType()),
    T.StructField("mvpn_source_v4", T.LongType()),
    T.StructField("mvpn_group_v4", T.LongType()),
    T.StructField("mvpn_originator_v4", T.LongType()),
    T.StructField("evpn_type", T.ByteType()),
    T.StructField("l2_site", T.IntegerType()),      # BgpAddrL2 (src/ribfilter.rs:306-319)
    T.StructField("l2_offset", T.IntegerType()),
    T.StructField("l2_range", T.IntegerType()),
    T.StructField("mdt_group_v4", T.LongType()),    # BgpMdtV4/V6 group (src/ribfilter.rs:444-453)
    T.StructField("mdt_group_v6", T.BinaryType()),
]

# The raw ingest event: one row per (update-message x NLRI), U7 flattening
# already applied (FIXTURES.md Table 1). Withdraw rows carry only keys.
UPDATES_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("session_id", T.IntegerType(), False),
        T.StructField("op", T.StringType(), False),     # 'update' | 'withdraw'
        T.StructField("path_id", T.LongType(), False),  # 0 = no add-path (src/bgprib.rs:658)
    ]
    + KEY_FIELDS
    + ATTR_FIELDS
)

# rib_history — what ``build_history`` emits: UPDATES_SCHEMA without
# ``op``, plus the active flag and the derived aspath_flat (active=false
# is the withdraw tombstone, src/bgpattrs.rs:360-374). The table adds the
# ``ts_date`` partition column; ``rib`` is a partition column there too.
RIB_HISTORY_SCHEMA = T.StructType(
    [f for f in UPDATES_SCHEMA.fields if f.name != "op"]
    + [
        T.StructField("active", T.BooleanType(), False),
        T.StructField("aspath_flat", T.ArrayType(T.LongType())),
    ]
)

# The history table as Spark reads it: each data file's columns in the
# order ``build_history`` emits them (the keys but ``rib``, ``active``, the
# attributes, ``aspath_flat``), then the ``rib`` and ``ts_date`` partition
# columns — the schema Spark would infer, known up front so that a read
# of the table runs no schema-inference job.
RIB_HISTORY_TABLE_SCHEMA = T.StructType(
    [f for f in UPDATES_SCHEMA.fields
     if f.name not in ("op", "rib") and f not in ATTR_FIELDS]
    + [RIB_HISTORY_SCHEMA["active"]]
    + ATTR_FIELDS
    + [
        RIB_HISTORY_SCHEMA["aspath_flat"],
        T.StructField("rib", T.StringType()),
        T.StructField("ts_date", T.DateType()),
    ]
)

# sessions dimension (reference registry: src/bgpsvc.rs:135-162).
SESSIONS_SCHEMA = T.StructType([
    T.StructField("session_id", T.IntegerType(), False),
    T.StructField("peer1_addr", T.StringType()),
    T.StructField("peer1_as", T.LongType()),
    T.StructField("peer2_addr", T.StringType()),
    T.StructField("peer2_as", T.LongType()),
])

# whois/DNS cache (reference: src/whoissvc.rs:24-45, 86-96, 206-213).
WHOIS_CACHE_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType(), False),   # 'whois' | 'dnsptr'
    T.StructField("query", T.StringType(), False),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("val", T.StringType()),
])

KEY_COLS = ["rib", "nlri_str", "session_id", "path_id"]
"""History grouping key: reference nests NLRI → session → path
(src/bgprib.rs:385-426); ``nlri_str`` is canonical so it is a faithful
stand-in for the full typed key tuple."""
