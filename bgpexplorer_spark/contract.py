"""Driver-contract queries: every entry pairs a Spark DataFrame builder
with a DuckDB-runnable oracle SQL string over the driver tables
(TESTDATA.md). Keys map to SURVEY.md §2 operator IDs.

The driver tables have no BGP columns, so the RIB-surface operators are
exercised over *deterministically derived* route data (arithmetic on
event_id/user_id that both engines compute identically), while the
windows/joins/aggregations run on the natural TPC-H-ish columns. Column
names and types are aligned on both sides (driver compares row-count +
schema + order-insensitive value-hash).

Money aggregates are rounded to 2 decimals on both sides to keep
double-precision sums hash-stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bgpexplorer_spark.functions import iputil
from bgpexplorer_spark.operators.lpm import lpm_join_v4
from bgpexplorer_spark.sources.tables import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
# DuckDB oracle SQL per query name
ORACLES: dict[str, str] = {}

def q(name: str, sql: str):
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = fn
        ORACLES[name] = sql
        return fn

    return deco

# ---------------------------------------------------------------------------
# Derived route table from events — shared by the RIB-surface queries.
# addr = 10.0.0.0 + (user_id%64)<<16 + (event_id%256)<<8, canonicalized to
# plen ∈ {16,20,24,28,32} by event_id%5.
# ---------------------------------------------------------------------------

_DERIVED_ROUTES_SQL = """
    SELECT event_id, ts, user_id,
           CAST(floor(raw_addr / span) AS BIGINT) * span AS addr_v4,
           plen AS prefixlen
    FROM (
        SELECT event_id, ts, user_id,
               10 * 16777216 + (user_id % 64) * 65536 + (event_id % 256) * 256 AS raw_addr,
               16 + (event_id % 5) * 4 AS plen,
               CAST(power(2, 32 - (16 + (event_id % 5) * 4)) AS BIGINT) AS span
        FROM events
    )
"""

def derived_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    raw = (
        F.lit(10 * 16777216)
        + (F.col("user_id") % 64) * 65536
        + (F.col("event_id") % 256) * 256
    )
    plen = (F.lit(16) + (F.col("event_id") % 5) * 4).cast("int")
    span = F.pow(F.lit(2.0), F.lit(32) - plen).cast("bigint")
    return ev.select(
        "event_id", "ts", "user_id",
        (F.floor(raw / span).cast("bigint") * span).alias("addr_v4"),
        plen.alias("prefixlen"),
    )

# ---------------------------------------------------------------------------
# U-series: history semantics (SURVEY §2.2) on the events stream
# ---------------------------------------------------------------------------

@q(
    "u3_history_differ",
    """
    SELECT event_id, user_id, event_type, ts
    FROM (
        SELECT event_id, user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    WHERE prev_type IS NULL OR event_type <> prev_type
    """,
)
def u3_history_differ(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 — differ-mode change dedup (src/bgprib.rs:667-679): keep an event
    only when its type changed vs the previous event of the same key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("event_id", "user_id", "event_type", "ts")
    )

@q(
    "u4_history_retention",
    """
    SELECT event_id, user_id, ts
    FROM (
        SELECT event_id, user_id, ts,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn <= 5
    """,
)
def u4_history_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 — newest-N retention (shrink_hist, src/bgprib.rs:326-341)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_id", "user_id", "ts")
    )

@q(
    "u5_withdraw_asof",
    """
    SELECT event_id, user_id, ts,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
    FROM events
    QUALIFY event_type = 'error' AND last_purchase_value IS NOT NULL
    """,
)
def u5_withdraw_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5/J3 — withdraw-tombstone as-of forward fill (src/bgprib.rs:596-618):
    'error' events take the attrs (value) of the last prior 'purchase' for
    the same key; errors before any purchase are dropped (the reference's
    never-seen-withdraw skip, src/bgprib.rs:594-597)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = ev.withColumn(
        "last_purchase_value",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
        ).over(w),
    )
    return filled.filter(
        (F.col("event_type") == "error") & F.col("last_purchase_value").isNotNull()
    ).select("event_id", "user_id", "ts", "last_purchase_value")

@q(
    "rib_current_state",
    """
    SELECT user_id, event_id, event_type, value, ts
    FROM (
        SELECT user_id, event_id, event_type, value, ts,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def rib_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-state view (operators/rib.py current_state): newest entry
    per key, as a map-side-combinable ``max_by`` aggregation (no window
    sort; measured flat sf0.1→sf1 vs the row_number form's 5.6×). The
    (ts, event_id) struct ordering reproduces the oracle's
    ORDER BY ts DESC, event_id DESC tie-break exactly."""
    ev = load_table(spark, sf_dir, "events")
    pick = F.max_by(
        F.struct("event_id", "event_type", "value", "ts"),
        F.struct(F.col("ts"), F.col("event_id")),
    ).alias("_r")
    return ev.groupBy("user_id").agg(pick).select(
        "user_id", "_r.event_id", "_r.event_type", "_r.value", "_r.ts"
    )

@q(
    "o6_statistics",
    """
    SELECT event_type,
           count(*) AS cnt,
           count(DISTINCT user_id) AS users,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def o6_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6/U8 — the /api/statistics aggregate shape
    (src/ribservice.rs:168-219)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("user_id").alias("users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )

@q(
    "u6_attrs_dim",
    """
    SELECT event_type AS origin,
           user_id % 16 AS med,
           100 + user_id % 5 AS first_as,
           count(*) AS ref_count
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def u6_attrs_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 — attribute interning as an analytic dimension
    (RibItemStore, src/bgprib.rs:121-190): the distinct attr combinations
    plus their refcounts (= the /api/statistics store counters). In the
    engine this is `rib.attrs_dim` keyed by xxhash64; hash values are not
    portable across engines, so the oracle compares the distinct
    combination set and refcounts directly."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type").alias("origin"),
        (F.col("user_id") % 16).alias("med"),
        (F.lit(100) + F.col("user_id") % 5).alias("first_as"),
    ).agg(F.count(F.lit(1)).alias("ref_count"))

@q(
    "f11_onlyactive",
    """
    SELECT event_id, user_id, ts, event_id % 7 <> 0 AS active
    FROM events
    WHERE event_id % 7 <> 0
    """,
)
def f11_onlyactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — onlyactive history-entry filter (src/ribservice.rs:72-77);
    active derived exactly as in entry(): every 7th event is a withdraw
    tombstone (active=false)."""
    ev = load_table(spark, sf_dir, "events")
    active = (F.col("event_id") % 7 != 0).alias("active")
    return ev.select("event_id", "user_id", "ts", active).filter(F.col("active"))

# ---------------------------------------------------------------------------
# F-series: filter predicates (SURVEY §2.3) on derived routes
# ---------------------------------------------------------------------------

@q(
    "f1_subnet_match",
    f"""
    SELECT event_id, addr_v4, prefixlen
    FROM ({_DERIVED_ROUTES_SQL})
    WHERE addr_v4 >= 167772160 AND addr_v4 <= 168820735 AND prefixlen >= 12
    """,
)
def f1_subnet_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — subnet containment as a range predicate
    (src/ribfilter.rs:1368-1392). Filter net 10.10.0.0/12 canonicalizes to
    10.0.0.0/12 → [167772160, 168820735]."""
    routes = derived_routes(spark, sf_dir)
    first, last = iputil.v4_net_range(iputil.parse_v4("10.10.0.0"), 12)
    return routes.filter(
        iputil.v4_subnet_contains(F.col("addr_v4"), F.col("prefixlen"), first, last, 12)
    ).select("event_id", "addr_v4", "prefixlen")

@q(
    "f2_v6_subnet_match",
    """
    SELECT event_id,
           '20010DB8' || upper(lpad(hex(val_c), 8, '0')) || '0000000000000000' AS addr_hex,
           plen AS prefixlen
    FROM (
        SELECT event_id,
               48 + (event_id % 5) * 4 AS plen,
               CAST(floor(((user_id % 64) * 65536 + (event_id % 256) * 256)
                    / power(2, 64 - (48 + (event_id % 5) * 4))) AS BIGINT)
                 * CAST(power(2, 64 - (48 + (event_id % 5) * 4)) AS BIGINT) AS val_c
        FROM events
    )
    WHERE val_c >= 0 AND val_c <= 1048575 AND plen >= 44
    """,
)
def f2_v6_subnet_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — IPv6 subnet containment on lex-comparable BINARY(16)
    (src/ribfilter.rs:1393-1417, 278-305), the same range predicate as F1
    over byte-ordered binary. Routes are derived as 2001:db8:xxyy::/plen
    (bytes 4-7 from user_id/event_id, canonicalized to plen ∈ {48..64});
    filter net 2001:db8::/44 ⇔ the variable 32-bit word ∈
    [0x00000000, 0x000FFFFF]. The oracle mirrors the arithmetic on the
    variable word and emits the identical 32-hex-char address."""
    ev = load_table(spark, sf_dir, "events")
    plen = (F.lit(48) + (F.col("event_id") % 5) * 4).cast("int")
    val = ((F.col("user_id") % 64) * 65536 + (F.col("event_id") % 256) * 256).cast(
        "bigint"
    )
    span = F.pow(F.lit(2.0), (F.lit(64) - plen)).cast("bigint")
    val_c = F.floor(val / span).cast("bigint") * span
    addr = F.unhex(
        F.concat(
            F.lit("20010DB8"), F.lpad(F.hex(val_c), 8, "0"), F.lit("0" * 16)
        )
    )
    first, last = iputil.v6_net_range(iputil.parse_v6("2001:db8::"), 44)
    return (
        ev.select(
            "event_id", addr.alias("addr_v6"), plen.alias("prefixlen")
        )
        .filter(
            iputil.v6_subnet_contains(
                F.col("addr_v6"), F.col("prefixlen"), first, last, 44
            )
        )
        .select(
            "event_id", F.hex("addr_v6").alias("addr_hex"), "prefixlen"
        )
    )

@q(
    "f12_changed_window",
    """
    SELECT event_id, ts FROM events
    WHERE ts > TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def f12_changed_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 — strict changed_after/changed_before bounds
    (src/ribservice.rs:72-89)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") > F.lit("2024-01-05 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-20 00:00:00"))
    ).select("event_id", "ts")

@q(
    "f5_aspath_subseq",
    """
    SELECT event_id, array_to_string(path, ',') AS path_str
    FROM (
        SELECT event_id,
               [100 + user_id % 5, 200 + user_id % 7, 300 + event_id % 3] AS path
        FROM events
    )
    WHERE strpos(',' || array_to_string(path, ',') || ',', ',102,203,') > 0
    """,
)
def f5_aspath_subseq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — contiguous AS-path subsequence (src/ribfilter.rs:1471-1504)
    as the codegen-able exists/slice expression; needle [102, 203]
    (as:102,203). The oracle uses a string-containment equivalent."""
    from bgpexplorer_spark.functions.codecs import array_contiguous_subseq

    ev = load_table(spark, sf_dir, "events")
    path = F.array(
        (F.lit(100) + F.col("user_id") % 5).cast("bigint"),
        (F.lit(200) + F.col("user_id") % 7).cast("bigint"),
        (F.lit(300) + F.col("event_id") % 3).cast("bigint"),
    )
    df = ev.select("event_id", path.alias("path"))
    return df.filter(array_contiguous_subseq(F.col("path"), [102, 203])).select(
        "event_id", F.concat_ws(",", F.col("path")).alias("path_str")
    )

@q(
    "f6_community_match",
    """
    SELECT event_id, array_to_string(comms, ',') AS comms_str
    FROM (
        SELECT event_id,
               [65536 * 100 + user_id % 16, 65536 * 200 + event_id % 10] AS comms
        FROM events
    )
    WHERE list_contains(comms, 65536 * 100 + 7)
    """,
)
def f6_community_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — community membership (array_contains,
    src/ribfilter.rs:1442)."""
    ev = load_table(spark, sf_dir, "events")
    comms = F.array(
        (F.lit(65536 * 100) + F.col("user_id") % 16).cast("bigint"),
        (F.lit(65536 * 200) + F.col("event_id") % 10).cast("bigint"),
    )
    df = ev.select("event_id", comms.alias("comms"))
    return df.filter(
        F.array_contains(F.col("comms"), F.lit(65536 * 100 + 7))
    ).select("event_id", F.concat_ws(",", F.col("comms")).alias("comms_str"))

@q(
    "f13_maxdepth",
    """
    SELECT event_id, user_id, event_type, ts
    FROM (
        SELECT event_id, user_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn <= 3
    """,
)
def f13_maxdepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — newest-maxdepth per path (src/bgpsvc.rs:516-527)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_id", "user_id", "event_type", "ts")
    )

# ---------------------------------------------------------------------------
# O-series: pagination / top-k / LPM (SURVEY §2.5)
# ---------------------------------------------------------------------------

@q(
    "o1_pagination",
    """
    SELECT event_id, user_id, ts FROM events
    ORDER BY user_id, event_id LIMIT 50 OFFSET 100
    """,
)
def o1_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — deterministic-order offset/limit (src/bgpsvc.rs:625-630)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.orderBy("user_id", "event_id").offset(100).limit(50).select(
        "event_id", "user_id", "ts"
    )

@q(
    "o2_found_count",
    "SELECT count(*) AS found FROM events WHERE event_type = 'purchase' AND value > 50",
)
def o2_found_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — full match count ignoring pagination (src/bgpsvc.rs:603-613)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 50)).agg(
        F.count(F.lit(1)).alias("found")
    )

@q(
    "o4_topk",
    """
    SELECT user_id, round(sum(value), 2) AS total FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id ORDER BY total DESC, user_id LIMIT 10
    """,
)
def o4_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — sort + take (TakeOrderedAndProject; SURVEY §4)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("total"))
        .orderBy(F.col("total").desc(), F.col("user_id"))
        .limit(10)
    )

@q(
    "o5_lpm_join",
    f"""
    SELECT event_id, addr_v4, matched_net, matched_plen
    FROM (
        SELECT h.event_id, h.addr_v4, r.net AS matched_net, r.plen AS matched_plen,
               row_number() OVER (PARTITION BY h.event_id ORDER BY r.plen DESC) AS rk
        FROM ({_DERIVED_ROUTES_SQL}) h
        JOIN (
            SELECT 10 * 16777216 + (n_nationkey % 64) * 65536 AS net, 16 AS plen
            FROM nation
            UNION ALL
            SELECT 10 * 16777216 AS net, 8 AS plen
        ) r
        ON h.addr_v4 >= r.net
           AND h.addr_v4 <= r.net + CAST(power(2, 32 - r.plen) AS BIGINT) - 1
    )
    WHERE rk = 1
    """,
)
def o5_lpm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 generalized — longest-prefix-match join via candidate-prefix
    equi-join (operators/lpm.py), replacing the reference's per-address
    supernet rescan (src/ribfilter.rs:719-738)."""
    nation = load_table(spark, sf_dir, "nation")
    prefixes = nation.select(
        (F.lit(10 * 16777216) + (F.col("n_nationkey") % 64) * 65536)
        .cast("bigint")
        .alias("addr_v4"),
        F.lit(16).alias("prefixlen"),
    ).union(
        nation.limit(1).select(
            F.lit(10 * 16777216).cast("bigint").alias("addr_v4"),
            F.lit(8).alias("prefixlen"),
        )
    )
    hosts = derived_routes(spark, sf_dir).select("event_id", "addr_v4")
    out = lpm_join_v4(hosts, prefixes, plens=[8, 16])
    return out.select(
        "event_id", "addr_v4",
        F.col("matched_addr_v4").alias("matched_net"),
        F.col("matched_prefixlen").alias("matched_plen"),
    )

# ---------------------------------------------------------------------------
# J-series: joins (SURVEY §2.4)
# ---------------------------------------------------------------------------

@q(
    "j1_semijoin",
    """
    SELECT e.event_id, e.user_id, e.value FROM events e
    WHERE e.event_type = 'purchase'
      AND EXISTS (SELECT 1 FROM events s
                  WHERE s.user_id = e.user_id AND s.event_type = 'signup')
    """,
)
def j1_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — posting-list intersection as a LEFT SEMI join
    (src/bgprib.rs:509-582)."""
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    return (
        ev.filter(F.col("event_type") == "purchase")
        .join(signups, "user_id", "left_semi")
        .select("event_id", "user_id", "value")
    )

@q(
    "j4_enrichment",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def j4_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — dimension enrichment with broadcast joins
    (src/bgpsvc.rs:436-456)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey", "c_name",
            F.col("n_name").alias("nation"), F.col("r_name").alias("region"),
        )
    )

@q(
    "sessionize_events",
    """
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start
    FROM (
        SELECT user_id, ts,
               -- DuckDB windowed sum() yields HUGEINT; Spark emits BIGINT.
               -- The driver hashes typed values, so align the type here.
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER
                             (PARTITION BY user_id ORDER BY ts, event_id))
                             > 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        )
    )
    GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min) — lag + running sum; the batch analog
    of session_window in streaming (SURVEY §2.7)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet stores ts without a zone (TIMESTAMP_NTZ in Spark 4);
    # unix_micros requires TIMESTAMP — the cast is exact under the
    # session's pinned-UTC zone and a no-op for TIMESTAMP inputs
    mic = F.unix_micros(F.col("ts").cast("timestamp"))
    # materialize the lag ONCE: referencing `gap` twice below would give
    # Catalyst two copies of the window expression and WindowExec runs
    # two identical lag frame processors (_we0/_we1 in the r11 before
    # plan); a named column dedups them — results identical
    ev = ev.withColumn("_lag", F.lag(mic).over(w))
    gap = mic - F.col("_lag")
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    df = ev.withColumn("is_new", is_new).drop("_lag").withColumn(
        "session_id", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return df.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start")
    )

@q(
    "st_session_window",
    """
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM (
        SELECT user_id, ts,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (
            SELECT user_id, ts, event_id,
                   -- native session_window: an event AT session_end
                   -- (gap exactly 30 min) starts a NEW session, so the
                   -- split is >=, unlike sessionize_events' strict >
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER
                             (PARTITION BY user_id ORDER BY ts, event_id))
                             >= 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        )
    )
    GROUP BY user_id, session_id
    """,
)
def st_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation (the streaming
    session-izer, usable identically in batch) cross-validated against
    the manual lag+running-sum sessionization oracle: same sessions, same
    bounds ([min ts, max ts + gap)), same counts. This is the exact
    operator a streaming `groupBy(session_window(...))` runs
    incrementally (SURVEY §2.7 ST3-superset)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )

def all_queries() -> dict[str, SparkQuery]:
    """Every declared contract query, in stable declaration order
    (tests/test_contract_oracles.py runs each against its oracle)."""
    return dict(QUERIES)

def all_oracles() -> dict[str, str]:
    """DuckDB oracle SQL per query, in stable declaration order."""
    return dict(ORACLES)

# ---------------------------------------------------------------------------
# Remaining F/C/U/J-series operator IDs on derived data
# ---------------------------------------------------------------------------

@q(
    "f4_rd_match",
    """
    SELECT event_id, rd_hi, rd_lo
    FROM (
        SELECT event_id, 100 + user_id % 8 AS rd_hi, 1000 + event_id % 50 AS rd_lo
        FROM events
    )
    WHERE rd_hi = 103 AND rd_lo = 1017
    """,
)
def f4_rd_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — RD equality (src/ribfilter.rs:1418-1429) on derived RDs."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        (F.lit(100) + F.col("user_id") % 8).alias("rd_hi"),
        (F.lit(1000) + F.col("event_id") % 50).alias("rd_lo"),
    )
    return df.filter((F.col("rd_hi") == 103) & (F.col("rd_lo") == 1017))

@q(
    "f7_rt_match",
    """
    SELECT event_id, rt_a, rt_b
    FROM (
        SELECT event_id,
               [{'ctype': 0, 'subtype': 2, 'a': 200 + user_id % 4, 'b': 300 + event_id % 6}] AS extcomms,
               200 + user_id % 4 AS rt_a, 300 + event_id % 6 AS rt_b
        FROM events
    )
    WHERE len(list_filter(extcomms, e -> e.a = 202 AND e.b = 303)) > 0
    """,
)
def f7_rt_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — route-target PairNum match via exists() over the extcomm
    struct array (src/ribfilter.rs:504-540). Output is scalar (struct
    columns render engine-specifically)."""
    ev = load_table(spark, sf_dir, "events")
    ec = F.array(
        F.struct(
            F.lit(0).cast("int").alias("ctype"),
            F.lit(2).cast("int").alias("subtype"),
            (F.lit(200) + F.col("user_id") % 4).alias("a"),
            (F.lit(300) + F.col("event_id") % 6).alias("b"),
        )
    )
    df = ev.select(
        "event_id", ec.alias("extcomms"),
        (F.lit(200) + F.col("user_id") % 4).alias("rt_a"),
        (F.lit(300) + F.col("event_id") % 6).alias("rt_b"),
    )
    return df.filter(
        F.exists(
            F.col("extcomms"),
            lambda e: (e.getField("a") == 202) & (e.getField("b") == 303),
        )
    ).select("event_id", "rt_a", "rt_b")

@q(
    "f8_regex_match",
    """
    SELECT event_id, props FROM events WHERE regexp_matches(props, '"k": 1[0-9]\\}')
    """,
)
def f8_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — soft regex over a stringified column
    (src/ribfilter.rs:1463-1470)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("props").rlike('"k": 1[0-9]\\}')).select("event_id", "props")

@q(
    "f9_num_polymorphic",
    f"""
    SELECT event_id, prefixlen, rd_lo
    FROM (
        SELECT event_id, prefixlen, 1000 + event_id % 50 AS rd_lo
        FROM ({_DERIVED_ROUTES_SQL})
    )
    WHERE prefixlen = 24 OR rd_lo = 24
    """,
)
def f9_num_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — bare-number polymorphic OR-disjunction over prefixlen/RD
    (src/ribfilter.rs:1384-1386, 1421-1423)."""
    df = derived_routes(spark, sf_dir).select(
        "event_id", "prefixlen", (F.lit(1000) + F.col("event_id") % 50).alias("rd_lo")
    )
    return df.filter((F.col("prefixlen") == 24) | (F.col("rd_lo") == 24))

@q(
    "u7_normalize_explode",
    """
    SELECT event_id, seg_kind, asn
    FROM (
        SELECT event_id,
               CASE WHEN event_id % 3 = 0 THEN 'Set' ELSE 'Seq' END AS seg_kind,
               unnest([100 + user_id % 5, 200 + user_id % 7]) AS asn
        FROM events
    )
    """,
)
def u7_normalize_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7 — update-message normalization: explode nested NLRI/aspath
    structure into flat event rows (src/bgprib.rs:1104-1205)."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, "Set").otherwise("Seq").alias("seg_kind"),
        F.array(
            (F.lit(100) + F.col("user_id") % 5), (F.lit(200) + F.col("user_id") % 7)
        ).alias("asns"),
    )
    return df.select("event_id", "seg_kind", F.explode("asns").alias("asn"))

@q(
    "c4_community_codec",
    """
    SELECT event_id, comm,
           CAST(floor(comm / 65536) AS BIGINT) || ':' || CAST(comm % 65536 AS VARCHAR) AS comm_str
    FROM (SELECT event_id, 65536 * (100 + user_id % 16) + event_id % 100 AS comm FROM events)
    """,
)
def c4_community_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — community u32 ↔ 'hi:lo' rendering
    (contrib/index.html:124-132)."""
    from bgpexplorer_spark.functions.codecs import community_to_str

    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        (F.lit(65536) * (F.lit(100) + F.col("user_id") % 16) + F.col("event_id") % 100).alias("comm"),
    )
    return df.select("event_id", "comm", community_to_str(F.col("comm")).alias("comm_str"))

@q(
    "c1_addr_codec",
    f"""
    SELECT event_id, addr_v4,
           CAST(floor(addr_v4 / 16777216) % 256 AS BIGINT) || '.' ||
           CAST(floor(addr_v4 / 65536) % 256 AS BIGINT) || '.' ||
           CAST(floor(addr_v4 / 256) % 256 AS BIGINT) || '.' ||
           CAST(addr_v4 % 256 AS BIGINT) AS dotted
    FROM ({_DERIVED_ROUTES_SQL})
    """,
)
def c1_addr_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — IPv4 numeric ↔ dotted-quad rendering (functions/iputil)."""
    from bgpexplorer_spark.functions.iputil import v4_to_dotted

    df = derived_routes(spark, sf_dir)
    return df.select(
        "event_id", "addr_v4", v4_to_dotted(F.col("addr_v4")).alias("dotted")
    )

@q(
    "c7_aspath_stringify",
    """
    SELECT event_id,
           CASE WHEN event_id % 3 = 0
                THEN '{' || CAST(100 + user_id % 5 AS VARCHAR) || ' ' || CAST(200 + user_id % 7 AS VARCHAR) || '}'
                ELSE CAST(100 + user_id % 5 AS VARCHAR) || ' ' || CAST(200 + user_id % 7 AS VARCHAR)
           END AS aspath_str
    FROM events
    """,
)
def c7_aspath_stringify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — AS-path display: Seq '1 2', Set '{1 2}'
    (contrib/index.html:198-205)."""
    from bgpexplorer_spark.functions.codecs import aspath_to_str

    ev = load_table(spark, sf_dir, "events")
    seg = F.array(
        F.struct(
            F.when(F.col("event_id") % 3 == 0, "Set").otherwise("Seq").alias("kind"),
            F.array(
                (F.lit(100) + F.col("user_id") % 5).cast("long"),
                (F.lit(200) + F.col("user_id") % 7).cast("long"),
            ).alias("asns"),
        )
    )
    return ev.select("event_id", aspath_to_str(seg).alias("aspath_str"))

@q(
    "j2_time_prune",
    """
    SELECT CAST(ts AS DATE) AS ts_date, count(*) AS cnt, round(sum(value), 2) AS total
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY CAST(ts AS DATE)
    """,
)
def j2_time_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — change-time bucketing as date partition pruning
    (src/bgprib.rs:538-581; partition column at rest prunes the scan)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("ts_date", F.to_date("ts"))
        .filter(F.col("ts_date").between("2024-01-08", "2024-01-14"))
        .groupBy("ts_date")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("total"))
    )

# S1/S2 — MRT wire-format decode feeding the ingest boundary. The Spark
# side parses REAL RFC 6396 bytes (a deterministic fixture generated from
# pure formulas of i) through binaryFile → mapInPandas → assign_sessions →
# build_history; the oracle recomputes the expected decoded rows
# analytically from the same formulas over range(600) — so a decode bug
# anywhere (framing, attr parse, NLRI walk, session mapping, forward-fill)
# breaks the hash. Attr forward-fill onto withdraw tombstones is
# whole-struct (the last update's attrs as a unit, src/bgprib.rs:596-618),
# hence the struct_pack fill rather than per-field last_value.
_MRT_ORACLE = """
    WITH raw AS (
        SELECT i,
               make_timestamp((1704067200 + i) * 1000000) AS ts,
               CAST(i % 3 AS INTEGER) AS session_id,
               '10.' || CAST(i % 16 AS VARCHAR) || '.0.0/16' AS nlri_str,
               (i % 7 <> 0) AS active,
               CASE WHEN i % 7 <> 0 THEN
                   CASE i % 3 WHEN 0 THEN 'IGP' WHEN 1 THEN 'EGP'
                        ELSE 'Incomplete' END
               END AS origin,
               CASE WHEN i % 7 <> 0 THEN CAST(3221225984 + i % 8 AS BIGINT)
               END AS nexthop_v4,
               CASE WHEN i % 7 <> 0 THEN CAST(100 + i % 5 AS BIGINT) END AS as1,
               CASE WHEN i % 7 <> 0 THEN CAST(65536 + i % 10 AS BIGINT) END AS comm0,
               CASE WHEN i % 7 <> 0 AND i % 4 = 0 THEN CAST(i % 11 AS BIGINT)
               END AS med,
               CASE WHEN i % 7 <> 0 THEN CAST(100 + i % 3 AS BIGINT) END AS localpref,
               CASE WHEN i % 7 <> 0 THEN CAST(65100 + i % 5 AS BIGINT) END AS agg_as,
               CASE WHEN i % 7 <> 0 AND i % 3 = 0
                    THEN CAST(167772160 + i % 16 AS BIGINT) END AS originator,
               CASE WHEN i % 7 <> 0 AND i % 4 = 1
                    THEN CAST(1000 + i % 9 AS BIGINT) END AS cl0,
               CASE WHEN i % 7 <> 0 THEN CAST(65000 AS BIGINT) END AS ext_a,
               CASE WHEN i % 7 <> 0 THEN CAST(i % 1000 AS BIGINT) END AS ext_b,
               CASE WHEN i % 7 <> 0 THEN CAST(i % 50 AS BIGINT) END AS lc_ga
        FROM range(600) t(i)
    ),
    filled AS (
        SELECT ts, session_id, nlri_str, active,
               last_value(CASE WHEN active THEN struct_pack(
                   origin := origin, nh := nexthop_v4, as1 := as1,
                   comm0 := comm0, med := med, lp := localpref,
                   agg_as := agg_as, orig_id := originator, cl0 := cl0,
                   ext_a := ext_a, ext_b := ext_b, lc_ga := lc_ga
               ) END IGNORE NULLS)
                   OVER (PARTITION BY nlri_str, session_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a
        FROM raw
    )
    SELECT ts, session_id, nlri_str, active,
           a.origin AS origin, a.nh AS nexthop_v4, a.as1 AS as1,
           a.comm0 AS comm0, a.med AS med, a.lp AS localpref,
           a.agg_as AS aggregator_as, a.orig_id AS originator, a.cl0 AS cl0,
           a.ext_a AS ext_a, a.ext_b AS ext_b, a.lc_ga AS lc_ga
    FROM filled WHERE a IS NOT NULL
"""

@q("s1_mrt_decode", _MRT_ORACLE)
def s1_mrt_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 — MRT (RFC 6396) decode through the REAL wire format into
    build_history (UPDATE/withdraw handling of src/bgprib.rs:1104-1205
    from src/bgppeer.rs:179-258-equivalent bytes)."""
    import os
    import tempfile

    from bgpexplorer_spark.operators.ingest import build_history
    from bgpexplorer_spark.sources.mrt import assign_sessions, encode_update, read_mrt, mrt_peers

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    recs = b""
    for i in range(600):
        peer = i % 3
        kw = dict(ts_sec=1704067200 + i, peer_as=65000 + peer, peer_ip=0x0AFF0000 + peer)
        pfx = [(0x0A000000 + (i % 16) * 65536, 16)]
        if i % 7 == 0:
            recs += encode_update(**kw, withdrawn=pfx)
        else:
            recs += encode_update(
                **kw, nlri=pfx, origin=i % 3,
                aspath=[(2, [100 + i % 5, 200])],
                nexthop=0xC0000200 + i % 8,
                comms=[65536 + i % 10],
                med=(i % 11) if i % 4 == 0 else None,
                localpref=100 + i % 3,
                aggregator=(65100 + i % 5, 0x0A00FF01),
                originator=(0x0A000000 + i % 16) if i % 3 == 0 else None,
                clusterlist=[1000 + i % 9, 2000] if i % 4 == 1 else None,
                extcomms=[(0, 2, 65000, i % 1000)],
                lcomms=[(i % 50, 7, 9)],
            )
    path = os.path.join(tempfile.gettempdir(), "bgpx_mrt_fixture.mrt")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(recs)
    os.replace(tmp, path)

    upd, _sessions = assign_sessions(read_mrt(spark, path), mrt_peers(spark, path))
    hist = build_history(upd)
    return hist.select(
        "ts", "session_id", "nlri_str", "active",
        "origin", "nexthop_v4",
        F.element_at("aspath_flat", 1).alias("as1"),
        F.element_at("comms", 1).alias("comm0"),
        "med", "localpref", "aggregator_as", "originator",
        F.element_at("clusterlist", 1).alias("cl0"),
        F.expr("extcomms[0].a").alias("ext_a"),
        F.expr("extcomms[0].b").alias("ext_b"),
        F.expr("lcomms[0].ga").alias("lc_ga"),
    )

# F-mvpn — the 3VL majority vote (multi(), src/ribfilter.rs:59-81) through
# the full compiled filter on the mvpn rib. Term '232.0.0.0/8' is a
# multicast V4Term; for a type-5 key the vote is multi(source, group):
# source 10.x is never multicast → Unknown; group: 232.x → Yes,
# 224.x (multicast, outside) → No, 10.x (not multicast) → Unknown.
# multi(U,Y)=Yes, multi(U,N)=No, multi(U,U)=Unknown — only the Yes rows
# emit, and the attr side is Unknown so the k=Yes/a=Unknown bypass quirk
# (src/ribfilter.rs:1562-1604) is on the verified path too.
_MVPN_ORACLE = """
    SELECT event_id FROM events WHERE event_id % 3 = 0
"""

@q("f_mvpn_vote", _MVPN_ORACLE)
def f_mvpn_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVPN type-5 key dispatch + multicast gates + majority vote,
    compiled by the real filterlang path (filterlang/compile.py
    _key_mvpn/multi) over derived route keys."""
    from bgpexplorer_spark.filterlang.compile import matches

    ev = load_table(spark, sf_dir, "events")
    group = (
        F.when(F.col("event_id") % 3 == 0, F.lit(232 * 16777216) + F.col("event_id") % 256)
        .when(F.col("event_id") % 3 == 1, F.lit(224 * 16777216) + F.col("event_id") % 256)
        .otherwise(F.lit(10 * 16777216) + F.col("event_id") % 256)
    )
    df = ev.select(
        "event_id",
        F.lit(None).cast("bigint").alias("rd_hi"),
        F.lit(None).cast("bigint").alias("rd_lo"),
        F.lit(5).cast("tinyint").alias("mvpn_type"),
        (F.lit(10 * 16777216) + F.col("event_id") % 1024).alias("mvpn_source_v4"),
        group.alias("mvpn_group_v4"),
        F.lit(None).cast("bigint").alias("mvpn_originator_v4"),
    )
    return df.filter(matches("232.0.0.0/8", "mvpn")).select("event_id")

@q(
    "f_l2_range",
    """
    SELECT event_id FROM events
    WHERE event_id % 50 = 15 OR (event_id % 20 BETWEEN 5 AND 15)
    """,
)
def f_l2_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l2vpls bare-number dispatch (src/ribfilter.rs:306-319): hard match
    on site equality OR offset..range containment, through the compiled
    filter (k=Yes with a=Unknown exercises the polarity-bypass emit)."""
    from bgpexplorer_spark.filterlang.compile import matches

    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.lit(None).cast("bigint").alias("rd_hi"),
        F.lit(None).cast("bigint").alias("rd_lo"),
        (F.col("event_id") % 50).cast("int").alias("l2_site"),
        (F.col("event_id") % 20).cast("int").alias("l2_offset"),
        (F.col("event_id") % 20 + 10).cast("int").alias("l2_range"),
        F.lit("x").alias("nlri_str"),
    )
    return df.filter(matches("15", "l2vpls")).select("event_id")

@q(
    "f_evpn_chain",
    """
    SELECT event_id FROM events
    WHERE event_id % 5 <> 0 AND event_id % 2 = 0
    """,
)
def f_evpn_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVPN dispatch (src/ribfilter.rs:389-443): type 1 matches rd-only
    (Unknown for a V4 term → not emitted), types 2-5 chain rd → gateway
    host match — verified through the compiled filter on derived keys."""
    from bgpexplorer_spark.filterlang.compile import matches

    ev = load_table(spark, sf_dir, "events")
    addr = F.when(
        F.col("event_id") % 2 == 0,
        F.lit(10 * 16777216) + F.col("event_id") % 4096,
    ).otherwise(F.lit(192 * 16777216) + F.col("event_id") % 4096)
    df = ev.select(
        "event_id",
        F.lit(None).cast("bigint").alias("rd_hi"),
        F.lit(None).cast("bigint").alias("rd_lo"),
        F.when(F.col("event_id") % 5 == 0, 1).otherwise(2).cast("tinyint").alias("evpn_type"),
        addr.alias("addr_v4"),
        F.lit(None).cast("binary").alias("addr_v6"),
    )
    return df.filter(matches("10.0.0.0/8", "evpn")).select("event_id")

@q(
    "st3_windowed_rates",
    """
    SELECT rib,
           time_bucket(INTERVAL 1 MINUTE, ts) AS win_start,
           time_bucket(INTERVAL 1 MINUTE, ts) + INTERVAL 1 MINUTE AS win_end,
           CAST(sum(CASE WHEN event_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS updates,
           CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS withdraws
    FROM (SELECT 'ipv4u' AS rib, event_id, ts FROM events)
    GROUP BY rib, time_bucket(INTERVAL 1 MINUTE, ts)
    """,
)
def st3_windowed_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 — the event-time tumbling-window update/withdraw rates
    (streaming/feed.windowed_update_rates), run in batch mode on the
    derived updates: the SAME groupBy(window) aggregation Structured
    Streaming executes incrementally, so its semantics get an oracle row
    (the watermark is a no-op on bounded input)."""
    from bgpexplorer_spark.streaming.feed import windowed_update_rates

    ev = load_table(spark, sf_dir, "events")
    upd = ev.select(
        F.col("ts"),
        F.lit("ipv4u").alias("rib"),
        F.when(F.col("event_id") % 7 == 0, "withdraw").otherwise("update").alias("op"),
    )
    rates = windowed_update_rates(upd, window="1 minute", watermark="5 minutes")
    return rates.select(
        "rib",
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "updates", "withdraws",
    )

@q(
    "j5_enrichment",
    """
    SELECT event_id,
           'AS' || CAST(100 + user_id % 5 AS VARCHAR) AS asn,
           CASE WHEN user_id % 5 < 3
                THEN 'org-' || CAST(100 + user_id % 5 AS VARCHAR) END AS whois_val
    FROM events
    """,
)
def j5_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — whois enrichment as a broadcast lookup join against the cache
    table (operators/whois.enrich, src/whoissvc.rs:520-595); uncached
    keys stay null."""
    import datetime as _dt

    from bgpexplorer_spark.operators.whois import enrich
    from bgpexplorer_spark.schemas import WHOIS_CACHE_SCHEMA

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.concat(F.lit("AS"), (F.lit(100) + F.col("user_id") % 5).cast("string")).alias("asn"),
    )
    t0 = _dt.datetime(2024, 1, 1)
    cache = spark.createDataFrame(
        [("whois", f"AS{100 + i}", t0, f"org-{100 + i}") for i in range(3)],
        WHOIS_CACHE_SCHEMA,
    )
    return enrich(ev, cache, "whois", "asn")

@q(
    "c9_whois_textops",
    """
    SELECT event_id,
           'remarks: r' || u || chr(10) || 'route: 10.' || u || '.0.0/16'
               || chr(10) || 'descr: d' || e AS stripped,
           'route: 10.' || u || '.0.0/16' || chr(10) || 'descr: d' || e AS section
    FROM (SELECT event_id, CAST(user_id % 64 AS VARCHAR) AS u,
                 CAST(event_id % 100 AS VARCHAR) AS e
          FROM events)
    """,
)
def c9_whois_textops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 — whois text post-processing as Column algebra: comment-line
    filtering (src/whoissvc.rs:491-502) and section extraction via
    skip-while (src/whoissvc.rs:557-590) over synthesized responses."""
    from bgpexplorer_spark.operators.whois import extract_section, strip_comments

    ev = load_table(spark, sf_dir, "events")
    u = (F.col("user_id") % 64).cast("string")
    e = (F.col("event_id") % 100).cast("string")
    text = F.concat(
        F.lit("% header comment\n"),
        F.lit("remarks: r"), u, F.lit("\n"),
        F.lit("route: 10."), u, F.lit(".0.0/16\n"),
        F.lit("descr: d"), e,
    )
    return ev.select(
        "event_id",
        strip_comments(text).alias("stripped"),
        extract_section(text, "^route").alias("section"),
    )

@q(
    "f_mdt_vote",
    """
    SELECT event_id FROM events
    WHERE event_id % 2 = 0 AND event_id % 3 <> 2
    """,
)
def f_mdt_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ipv4mdt dispatch (src/ribfilter.rs:444-453): rd first (Unknown for
    a V4 term), then multi(unicast-prefix match, group-host match). The
    derivation covers every vote combination: prefix Yes/No × group
    Yes/No/Unknown — Yes+No ties to Unknown (not emitted), Yes+Unknown
    emits, No+anything doesn't."""
    from bgpexplorer_spark.filterlang.compile import matches

    ev = load_table(spark, sf_dir, "events")
    addr = F.when(
        F.col("event_id") % 2 == 0, F.lit(10 * 16777216)
    ).otherwise(F.lit(192 * 16777216)) + (F.col("event_id") % 256) * 256
    group = (
        F.when(F.col("event_id") % 3 == 0, F.lit(224 * 16777216))   # mc → Unknown
        .when(F.col("event_id") % 3 == 1, F.lit(10 * 16777216))     # in 10/8 → Yes
        .otherwise(F.lit(192 * 16777216))                            # outside → No
        + F.col("event_id") % 128
    )
    df = ev.select(
        "event_id",
        F.lit(None).cast("bigint").alias("rd_hi"),
        F.lit(None).cast("bigint").alias("rd_lo"),
        addr.alias("addr_v4"),
        F.lit(24).cast("int").alias("prefixlen"),
        group.alias("mdt_group_v4"),
        F.lit("x").alias("nlri_str"),
    )
    return df.filter(matches("10.0.0.0/8", "ipv4mdt")).select("event_id")

# S2 — BMP (RFC 7854) capture decode → build_history. Same analytic-oracle
# strategy as s1: Spark parses real BMP frames (per-peer headers + Route
# Monitoring BGP UPDATEs); DuckDB recomputes the expected rows from the
# fixture formulas including the whole-struct attr forward-fill.
_BMP_ORACLE = """
    WITH raw AS (
        SELECT i,
               make_timestamp((1704067200 + i) * 1000000) AS ts,
               CAST(i % 2 AS INTEGER) AS session_id,
               '10.' || CAST(i % 32 AS VARCHAR) || '.0.0/16' AS nlri_str,
               (i % 6 <> 0) AS active,
               CASE WHEN i % 6 <> 0 THEN
                   CASE i % 3 WHEN 0 THEN 'IGP' WHEN 1 THEN 'EGP'
                        ELSE 'Incomplete' END
               END AS origin,
               CASE WHEN i % 6 <> 0 THEN CAST(3221226240 + i % 4 AS BIGINT)
               END AS nexthop_v4,
               CASE WHEN i % 6 <> 0 THEN CAST(100 + i % 9 AS BIGINT) END AS as1,
               CASE WHEN i % 6 <> 0 THEN CAST(65536 + i % 5 AS BIGINT) END AS comm0
        FROM range(500) t(i)
    ),
    filled AS (
        SELECT ts, session_id, nlri_str, active,
               last_value(CASE WHEN active THEN struct_pack(
                   origin := origin, nh := nexthop_v4, as1 := as1, comm0 := comm0
               ) END IGNORE NULLS)
                   OVER (PARTITION BY nlri_str, session_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a
        FROM raw
    )
    SELECT ts, session_id, nlri_str, active,
           a.origin AS origin, a.nh AS nexthop_v4, a.as1 AS as1, a.comm0 AS comm0
    FROM filled WHERE a IS NOT NULL
"""

@q("s2_bmp_decode", _BMP_ORACLE)
def s2_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — BMP (RFC 7854) Route Monitoring decode from real frame bytes
    through the engine write path (framing per src/bmppeer.rs:65-131,
    UPDATE apply src/bgprib.rs:1104-1205)."""
    import os
    import tempfile

    from bgpexplorer_spark.operators.ingest import build_history
    from bgpexplorer_spark.sources.bmp import (
        encode_bmp_peer_up, encode_bmp_route_monitoring, read_bmp,
    )
    from bgpexplorer_spark.sources.bmp import bmp_peers
    from bgpexplorer_spark.sources.mrt import assign_sessions, encode_bgp_update_body

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = encode_bmp_peer_up(0x0AFF0000, 65000, 1704067000)
    stream += encode_bmp_peer_up(0x0AFF0001, 65001, 1704067001)
    for i in range(500):
        peer_ip, peer_as = 0x0AFF0000 + i % 2, 65000 + i % 2
        pfx = [(0x0A000000 + (i % 32) * 65536, 16)]
        if i % 6 == 0:
            body = encode_bgp_update_body(withdrawn=pfx)
        else:
            body = encode_bgp_update_body(
                nlri=pfx, origin=i % 3, aspath=[(2, [100 + i % 9])],
                nexthop=0xC0000300 + i % 4, comms=[65536 + i % 5],
            )
        stream += encode_bmp_route_monitoring(peer_ip, peer_as, 1704067200 + i, body)
    path = os.path.join(tempfile.gettempdir(), "bgpx_bmp_fixture.bmp")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(stream)
    os.replace(tmp, path)

    upd, _sessions = assign_sessions(read_bmp(spark, path), bmp_peers(spark, path))
    hist = build_history(upd)
    return hist.select(
        "ts", "session_id", "nlri_str", "active", "origin", "nexthop_v4",
        F.element_at("aspath_flat", 1).alias("as1"),
        F.element_at("comms", 1).alias("comm0"),
    )

# S1-v6 — MP_REACH_NLRI IPv6 decode through the MRT wire path, verified
# on the BINARY(16) forms, emitted as uppercase hex like every other v6
# query in the contract (the gate's pandas canonicalizer cannot sort raw
# bytearray columns; canonical v6 text is engine-specific, the byte form
# is the engine's real key column).
_MRT_V6_ORACLE = """
    SELECT make_timestamp((1704067200 + i) * 1000000) AS ts,
           CAST(i % 2 AS INTEGER) AS session_id,
           '20010DB8' || upper(lpad(hex(i), 4, '0')) || repeat('0', 20) AS addr_v6_hex,
           CAST(48 AS INTEGER) AS prefixlen,
           'FE80' || repeat('0', 20) || upper(lpad(hex(i), 8, '0')) AS nexthop_v6_hex,
           CAST(100 + i % 6 AS BIGINT) AS as1
    FROM range(300) t(i)
"""

@q("s1_mrt_v6_decode", _MRT_V6_ORACLE)
def s1_mrt_v6_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/U7 — IPv6 MP_REACH_NLRI decode from real MRT bytes
    (src/bgprib.rs:1104-1205 MP handling): the 16-byte address and
    nexthop forms are verified bit-for-bit against blobs the oracle
    constructs from the same formulas."""
    import os
    import tempfile

    from bgpexplorer_spark.sources.mrt import assign_sessions, encode_update, read_mrt, mrt_peers

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    recs = b""
    for i in range(300):
        peer = i % 2
        # the varying word sits INSIDE the /48 prefix (wire carries only
        # ceil(48/8)=6 bytes)
        addr = bytes.fromhex("20010db8") + i.to_bytes(2, "big") + bytes(10)
        nh = bytes.fromhex("fe80") + bytes(10) + i.to_bytes(4, "big")
        recs += encode_update(
            1704067200 + i, 65000 + peer, 0x0AFF0000 + peer,
            nlri6=[(addr, 48)], nexthop6=nh,
            origin=0, aspath=[(2, [100 + i % 6, 200])],
        )
    path = os.path.join(tempfile.gettempdir(), "bgpx_mrt_v6_fixture.mrt")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(recs)
    os.replace(tmp, path)

    upd, _sessions = assign_sessions(read_mrt(spark, path), mrt_peers(spark, path))
    return upd.select(
        "ts", "session_id",
        F.hex("addr_v6").alias("addr_v6_hex"),
        "prefixlen",
        F.hex("nexthop_v6").alias("nexthop_v6_hex"),
        F.expr("aspath[0].asns[0]").alias("as1"),
    )

# S5/S2 — TABLE_DUMP_V2 full-RIB snapshot decode (RFC 6396 §4.3 +
# RFC 8050 ADD-PATH). Spark parses real dump bytes (peer index + per-prefix
# RIB entries, nexthop-only MP encoding); the oracle recomputes the rows
# analytically from the fixture formulas.
_TD2_ORACLE = """
    WITH e AS (
        SELECT i, j FROM range(200) t(i), range(3) s(j) WHERE j <= i % 3
    )
    SELECT '10.' || CAST(i AS VARCHAR) || '.0.0/16' AS nlri_str,
           CAST(j AS INTEGER) AS session_id,
           CAST(CASE WHEN i % 5 = 0 THEN 1 + i % 3 ELSE 0 END AS BIGINT) AS path_id,
           make_timestamp((1704000000 + i * 100 + j) * 1000000) AS ts,
           CASE (i + j) % 3 WHEN 0 THEN 'IGP' WHEN 1 THEN 'EGP'
                ELSE 'Incomplete' END AS origin,
           CAST(3221225984 + j AS BIGINT) AS nexthop_v4,
           CAST(100 + (i + j) % 7 AS BIGINT) AS as1
    FROM e
"""

@q("s5_mrt_rib_dump", _TD2_ORACLE)
def s5_mrt_rib_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S2 — TABLE_DUMP_V2 RIB snapshot decode from real dump bytes
    (the archival full-RIB form; reference snapshot load analog
    src/bgprib.rs:925-948), including ADD-PATH entries and the
    nexthop-only MP_REACH encoding of RFC 6396 §4.3.4."""
    import os
    import tempfile

    from bgpexplorer_spark.sources.mrt import (
        assign_sessions, encode_peer_index, encode_td2_rib_v4, mrt_peers,
        read_mrt,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dump = encode_peer_index(
        [(0x0AFF0000, 65000), (0x0AFF0001, 65001), (0x0AFF0002, 65002)]
    )
    for i in range(200):
        addpath = i % 5 == 0
        entries = [
            {
                "peer_idx": j,
                "orig_time": 1704000000 + i * 100 + j,
                "origin": (i + j) % 3,
                "aspath": [(2, [100 + (i + j) % 7, 200])],
                "nexthop": 0xC0000200 + j,
                "path_id": 1 + i % 3,
            }
            for j in range(i % 3 + 1)
        ]
        dump += encode_td2_rib_v4(i, (10 << 24) + i * 65536, 16, entries, addpath)
    path = os.path.join(tempfile.gettempdir(), "bgpx_td2_fixture.mrt")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(dump)
    os.replace(tmp, path)

    upd, _sessions = assign_sessions(read_mrt(spark, path), mrt_peers(spark, path))
    return upd.select(
        "nlri_str", "session_id", "path_id", "ts", "origin", "nexthop_v4",
        F.expr("aspath[0].asns[0]").alias("as1"),
    )

# The full §3.1 read path, flattened back out of the nested JSON so DuckDB
# can verify every stage: derived updates → build_history(differ) →
# query_rib(filter, limit) → emitted_history → to_nested_json → nest_items
# → explode.
# ts is synthetic (2024-01-01 + event_id seconds): unique per event, so
# window order, the differ lag, and the nested ts_ms map keys are all
# deterministic on both engines.
# Shared CTE chain replicating _derived_updates_history (derived updates →
# build_history(differ)) — reused by the o7/s4/u9 oracles.
_DERIVED_HIST_CTES = """upd AS (
        SELECT make_timestamp((1704067200000 + event_id * 1000) * 1000) AS ts,
               event_id,
               CAST(user_id % 4 AS INTEGER) AS session_id,
               CAST(0 AS BIGINT) AS path_id,
               (event_id % 7 <> 0) AS is_upd,
               CAST(floor(addr_v4 / 16777216) % 256 AS BIGINT) || '.' ||
               CAST(floor(addr_v4 / 65536) % 256 AS BIGINT) || '.' ||
               CAST(floor(addr_v4 / 256) % 256 AS BIGINT) || '.' ||
               CAST(addr_v4 % 256 AS BIGINT) || '/' ||
               CAST(prefixlen AS VARCHAR) AS nlri_str,
               addr_v4, prefixlen,
               CAST(100 + user_id % 8 AS BIGINT) AS as1_raw
        FROM ({derived})
    ),
    filled AS (
        SELECT *,
               last_value(CASE WHEN is_upd THEN as1_raw END IGNORE NULLS)
                   OVER (PARTITION BY nlri_str, session_id, path_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS as1,
               is_upd AS active
        FROM upd
    ),
    hist AS (
        SELECT * FROM (
            SELECT *,
                   lag(active) OVER w AS p_active,
                   lag(as1) OVER w AS p_as1
            FROM (SELECT * FROM filled WHERE as1 IS NOT NULL)
            WINDOW w AS (PARTITION BY nlri_str, session_id, path_id ORDER BY ts)
        )
        WHERE p_active IS NULL OR active <> p_active OR as1 <> p_as1
    )""".format(derived=_DERIVED_ROUTES_SQL)

_O7_ORACLE = f"""
    WITH {_DERIVED_HIST_CTES},
    page AS (
        SELECT nlri_str
        FROM (SELECT DISTINCT nlri_str, addr_v4, prefixlen FROM hist)
        ORDER BY addr_v4, prefixlen, nlri_str
        LIMIT 50
    )
    SELECT h.nlri_str, h.session_id, h.path_id,
           epoch_ms(h.ts) AS ts_ms, h.active, h.as1
    FROM hist h JOIN page USING (nlri_str)
    QUALIFY row_number() OVER (PARTITION BY h.nlri_str, h.session_id, h.path_id
                               ORDER BY h.ts DESC) <= 10
"""

@q("o7_nested_output", _O7_ORACLE)
def o7_nested_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7/F14 — the flagship nested route→session→path→ts output
    (src/bgpsvc.rs:493-596) built via the real engine path
    (build_history → serving_copy → query_rib → to_nested_json →
    nest_items, the daemon's /api/json path), then exploded back to flat
    typed rows THROUGH the served JSON itself so the oracle verifies the
    nested shaping, the match/page/maxdepth semantics, and the attrs
    round-trip in one go.

    The history fetch and the nesting stay inside the returned frame, so
    every action on it re-reads the copy: the page's rows are grouped by
    route and each group is nested by the served :func:`nest_items`.
    Only query_rib's page action runs when the frame is built."""
    import json
    from types import SimpleNamespace

    import pandas as pd
    from pyspark.sql import Row

    from bgpexplorer_spark.operators.query import (
        QueryParams, nest_items, query_rib, serving_copy, to_nested_json,
    )

    hist = serving_copy(_derived_updates_history(spark, sf_dir))
    r = query_rib(hist, "ipv4u", QueryParams(filter="10.0.0.0/8", limit=50))
    # nest_items reads only the page order of the result
    page = SimpleNamespace(routes=r.routes)

    def nest(pdf: pd.DataFrame) -> pd.DataFrame:
        items = nest_items(page, [Row(**d) for d in pdf.to_dict("records")])
        return pd.DataFrame({
            "nlri_str": list(items),
            "items_json": [json.dumps(v) for v in items.values()],
        })

    nested = to_nested_json(r).groupBy("nlri_str").applyInPandas(
        nest, "nlri_str string, items_json string"
    )
    m = F.from_json("items_json", "map<string,map<string,map<string,string>>>")
    return (
        nested.select("nlri_str", F.explode(m).alias("sid", "paths"))
        .select(
            "nlri_str",
            F.col("sid").cast("int").alias("session_id"),
            F.explode("paths").alias("pid", "hist"),
        )
        .select(
            "nlri_str", "session_id",
            F.col("pid").cast("bigint").alias("path_id"),
            F.explode("hist").alias("tsms", "entry"),
        )
        .select(
            "nlri_str", "session_id", "path_id",
            F.col("tsms").cast("bigint").alias("ts_ms"),
            F.get_json_object("entry", "$.active").cast("boolean").alias("active"),
            F.get_json_object("entry", "$.attrs.aspath[0].asns[0]").cast("bigint").alias("as1"),
        )
    )

_FLAT_HIST_COLS = """nlri_str, session_id, path_id, epoch_ms(ts) AS ts_ms,
           active, as1"""

@q(
    "s4_snapshot_roundtrip",
    f"WITH {_DERIVED_HIST_CTES} SELECT {_FLAT_HIST_COLS} FROM hist",
)
def s4_snapshot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5 — the partitioned snapshot IS the store: build_history →
    write_snapshot ((rib, ts_date) layout + addr sort + bloom
    filters) → read_snapshot must reproduce every row bit-for-bit
    (reference dump/load src/bgprib.rs:903-948)."""
    import os
    import tempfile

    from bgpexplorer_spark.operators.rib import read_snapshot, write_snapshot

    hist = _derived_updates_history(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(), "bgpx_snap_fixture")
    write_snapshot(hist, path)
    back = read_snapshot(spark, path)
    return back.select(
        "nlri_str", "session_id", "path_id",
        ts_to_millis_col(F.col("ts")).alias("ts_ms"),
        "active", F.element_at("aspath_flat", 1).alias("as1"),
    )

@q(
    "u9_compact_retention",
    f"""WITH {_DERIVED_HIST_CTES}
    SELECT {_FLAT_HIST_COLS} FROM hist
    QUALIFY row_number() OVER (PARTITION BY nlri_str, session_id, path_id
                               ORDER BY ts DESC) <= 3""",
)
def u9_compact_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U9 — the maintenance compaction end-to-end: snapshot → compact()
    (retention depth 3, tmp-write + atomic swap) → read back. The oracle
    is the newest-3-per-key closure over the same derived history
    (shrink_hist src/bgprib.rs:326-341 + dump discipline 903-923)."""
    import os
    import tempfile

    from bgpexplorer_spark.operators.rib import compact, read_snapshot, write_snapshot

    hist = _derived_updates_history(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(), "bgpx_compact_fixture")
    write_snapshot(hist, path)
    compact(spark, path, history_depth=3)
    back = read_snapshot(spark, path)
    return back.select(
        "nlri_str", "session_id", "path_id",
        ts_to_millis_col(F.col("ts")).alias("ts_ms"),
        "active", F.element_at("aspath_flat", 1).alias("as1"),
    )

def ts_to_millis_col(c):
    from bgpexplorer_spark.functions.timeutil import ts_to_millis

    return ts_to_millis(c)

def derived_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived UPDATES_SCHEMA event rows (pre-history): the raw stream
    shape shared by the engine-path contract queries.

    ts is a synthetic per-event-unique timestamp (2024-01-01 + event_id
    seconds) so every window order and the nested ts_ms map keys are
    collision-free and deterministic — the real events ts can tie within
    a derived route key, which would make the differ lag and newest-N
    emission partition-order-dependent."""
    from bgpexplorer_spark.functions.iputil import v4_to_dotted
    from bgpexplorer_spark.schemas import UPDATES_SCHEMA

    routes = derived_routes(spark, sf_dir)
    upd = routes.select(
        F.timestamp_millis(F.lit(1704067200000) + F.col("event_id") * 1000).alias("ts"),
        (F.col("user_id") % 4).cast("int").alias("session_id"),
        F.when(F.col("event_id") % 7 == 0, "withdraw").otherwise("update").alias("op"),
        F.lit(0).cast("bigint").alias("path_id"),
        F.lit("ipv4u").alias("rib"),
        F.concat_ws(
            "/", v4_to_dotted(F.col("addr_v4")), F.col("prefixlen").cast("string")
        ).alias("nlri_str"),
        F.col("addr_v4"),
        F.col("prefixlen"),
        F.array(
            F.struct(
                F.lit("Seq").alias("kind"),
                F.array(
                    (F.lit(100) + F.col("user_id") % 8).cast("long"), F.lit(200).cast("long")
                ).alias("asns"),
            )
        ).alias("_aspath"),
    )
    for f in UPDATES_SCHEMA.fields:
        if f.name not in upd.columns and f.name != "aspath":
            upd = upd.withColumn(f.name, F.lit(None).cast(f.dataType))
    upd = upd.withColumn(
        "aspath", F.when(F.col("op") == "update", F.col("_aspath"))
    ).drop("_aspath")
    return upd.select(*[f.name for f in UPDATES_SCHEMA.fields])

def _derived_updates_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """derived_updates → rib_history (history_mode='differ'), the table
    the engine-path contract queries run against."""
    from bgpexplorer_spark.operators.ingest import build_history

    return build_history(derived_updates(spark, sf_dir), history_mode="differ")

# ---------------------------------------------------------------------------
# Oracle upgrades for previously engine-test-only operator IDs:
# F3 (nh:), F10 (+/- polarity), C3/C5 (codecs), C6 (time bucket)
# ---------------------------------------------------------------------------

@q(
    "f3_nexthop_match",
    """
    SELECT event_id, nh_v4
    FROM (
        SELECT event_id,
               CAST(172 AS BIGINT) * 16777216 + 16 * 65536
                   + (user_id % 32) * 256 + event_id % 256 AS nh_v4
        FROM events
    )
    WHERE nh_v4 >= 2886731776 AND nh_v4 <= 2886733823
    """,
)
def f3_nexthop_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — ``nh:172.16.8.0/21`` attr predicate: nexthop host address in
    subnet (src/ribfilter.rs:1041-1088, 1430-1441) on derived nexthops."""
    ev = load_table(spark, sf_dir, "events")
    nh = (
        F.lit(172 * 16777216 + 16 * 65536)
        + (F.col("user_id") % 32) * 256
        + F.col("event_id") % 256
    ).cast("bigint")
    df = ev.select("event_id", nh.alias("nh_v4"))
    first, last = iputil.v4_net_range(iputil.parse_v4("172.16.8.0"), 21)
    return df.filter(F.col("nh_v4").between(F.lit(first), F.lit(last)))

@q(
    "f10_negation",
    f"""
    SELECT event_id, addr_v4, prefixlen
    FROM ({{dr}})
    WHERE (addr_v4 >= 167772160 AND addr_v4 <= 168820735 AND prefixlen >= 12)
      AND NOT prefixlen = 24
    """.format(dr=_DERIVED_ROUTES_SQL),
)
def f10_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — term polarity: ``10.0.0.0/12 -24`` = subnet must match AND the
    bare-number term must NOT (hard-term negation is plain NOT —
    src/ribfilter.rs:1516-1546, 541-545)."""
    routes = derived_routes(spark, sf_dir)
    first, last = iputil.v4_net_range(iputil.parse_v4("10.0.0.0"), 12)
    keep = iputil.v4_subnet_contains(
        F.col("addr_v4"), F.col("prefixlen"), first, last, 12
    ) & ~(F.col("prefixlen") == 24)
    return routes.filter(keep).select("event_id", "addr_v4", "prefixlen")

@q(
    "c3_rd_codec",
    """
    SELECT event_id,
           CAST(100 + user_id % 8 AS VARCHAR) || ':' ||
           CAST(1000 + event_id % 50 AS VARCHAR) AS rd_str
    FROM events
    """,
)
def c3_rd_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 — RD 'A:B' rendering (functions/codecs.rd_to_str;
    src/ribfilter.rs:1089-1129)."""
    from bgpexplorer_spark.functions.codecs import rd_to_str

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        rd_to_str(
            (F.lit(100) + F.col("user_id") % 8), (F.lit(1000) + F.col("event_id") % 50)
        ).alias("rd_str"),
    )

@q(
    "c5_extcomm_decode",
    """
    SELECT event_id,
           CASE WHEN event_id % 3 = 0
                THEN 'rt:' || CAST(200 + user_id % 4 AS VARCHAR) || ':' ||
                     CAST(300 + event_id % 6 AS VARCHAR)
                ELSE '1:3:' || CAST(200 + user_id % 4 AS VARCHAR) || ':' ||
                     CAST(300 + event_id % 6 AS VARCHAR)
           END AS ec_str
    FROM events
    """,
)
def c5_extcomm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — typed ext-community rendering: route-target form for subtype 2,
    numeric dump otherwise (functions/codecs.extcomm_to_str;
    contrib/index.html:136-173)."""
    from bgpexplorer_spark.functions.codecs import extcomm_to_str

    ev = load_table(spark, sf_dir, "events")
    ec = F.struct(
        F.lit(1).cast("int").alias("ctype"),
        F.when(F.col("event_id") % 3 == 0, 2).otherwise(3).cast("int").alias("subtype"),
        (F.lit(200) + F.col("user_id") % 4).alias("a"),
        (F.lit(300) + F.col("event_id") % 6).alias("b"),
    )
    return ev.select("event_id", extcomm_to_str(ec).alias("ec_str"))

@q(
    "c6_time_bucket",
    """
    SELECT bucket, count(*) AS n
    FROM (
        SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600)
                    AS TIMESTAMP) AS bucket
        FROM events
    )
    GROUP BY bucket
    """,
)
def c6_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — cut_millis bucketing (functions/timeutil.cut_millis;
    src/timestamp.rs:58-64) at 6h granularity, as the J2 time index would."""
    from bgpexplorer_spark.functions.timeutil import cut_millis

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(cut_millis(F.col("ts"), 21600).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )

# ---------------------------------------------------------------------------
# AN-series: BGP time-series analytics (operators/analytics) — RIB time
# travel, MOAS origin conflicts, per-prefix churn. Same derived-updates
# engine path as o7/s4, with a per-event-varying origin AS so origin
# analytics have something to find.
# ---------------------------------------------------------------------------

# derived updates -> build_history(every) with AS path [100+u%8, 200+e%3]:
# the path TAIL (the origin AS) varies per event, sessions disagree.
_ORIGIN_HIST_CTES = """upd2 AS (
        SELECT make_timestamp((1704067200000 + event_id * 1000) * 1000) AS ts,
               event_id,
               CAST(event_id % 4 AS INTEGER) AS session_id,
               (event_id % 7 <> 0) AS is_upd,
               CAST(floor(addr_v4 / 16777216) % 256 AS BIGINT) || '.' ||
               CAST(floor(addr_v4 / 65536) % 256 AS BIGINT) || '.' ||
               CAST(floor(addr_v4 / 256) % 256 AS BIGINT) || '.' ||
               CAST(addr_v4 % 256 AS BIGINT) || '/' ||
               CAST(prefixlen AS VARCHAR) AS nlri_str,
               addr_v4, prefixlen,
               CAST(200 + event_id % 3 AS BIGINT) AS origin_raw,
               CAST(100 + user_id % 8 AS BIGINT) AS as1_raw
        FROM ({derived})
    ),
    filled2 AS (
        SELECT *,
               last_value(CASE WHEN is_upd THEN origin_raw END IGNORE NULLS)
                   OVER (PARTITION BY nlri_str, session_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS origin_as,
               is_upd AS active
        FROM upd2
    ),
    hist2 AS (SELECT * FROM filled2 WHERE origin_as IS NOT NULL)""".format(
    derived=_DERIVED_ROUTES_SQL
)

def _origins_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like :func:`_derived_updates_history` but ``history_mode='every'``
    and the AS-path tail (origin AS) varies per event — 200+event_id%3 —
    so MOAS detection and churn analytics have real structure."""
    from bgpexplorer_spark.functions.iputil import v4_to_dotted
    from bgpexplorer_spark.operators.ingest import build_history
    from bgpexplorer_spark.schemas import UPDATES_SCHEMA

    routes = derived_routes(spark, sf_dir)
    upd = routes.select(
        F.timestamp_millis(F.lit(1704067200000) + F.col("event_id") * 1000).alias("ts"),
        (F.col("event_id") % 4).cast("int").alias("session_id"),
        F.when(F.col("event_id") % 7 == 0, "withdraw").otherwise("update").alias("op"),
        F.lit(0).cast("bigint").alias("path_id"),
        F.lit("ipv4u").alias("rib"),
        F.concat_ws(
            "/", v4_to_dotted(F.col("addr_v4")), F.col("prefixlen").cast("string")
        ).alias("nlri_str"),
        F.col("addr_v4"),
        F.col("prefixlen"),
        F.array(
            F.struct(
                F.lit("Seq").alias("kind"),
                F.array(
                    (F.lit(100) + F.col("user_id") % 8).cast("long"),
                    (F.lit(200) + F.col("event_id") % 3).cast("long"),
                ).alias("asns"),
            )
        ).alias("_aspath"),
    )
    for f in UPDATES_SCHEMA.fields:
        if f.name not in upd.columns and f.name != "aspath":
            upd = upd.withColumn(f.name, F.lit(None).cast(f.dataType))
    upd = upd.withColumn(
        "aspath", F.when(F.col("op") == "update", F.col("_aspath"))
    ).drop("_aspath")
    return build_history(
        upd.select(*[f.name for f in UPDATES_SCHEMA.fields]), history_mode="every"
    )

# as-of cutoff: start + 4000 s — a non-trivial split at every sf
_ASOF_MS = 1704067200000 + 4_000_000

_O9_ASOF_ORACLE = f"""
    WITH {_ORIGIN_HIST_CTES},
    st_asof AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist2 WHERE ts <= make_timestamp({_ASOF_MS} * 1000)
    )
    SELECT nlri_str, session_id, epoch_ms(ts) AS ts_ms, addr_v4, prefixlen,
           origin_as
    FROM st_asof WHERE rn = 1 AND active
    """

@q("o9_rib_asof", _O9_ASOF_ORACLE)
def o9_rib_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIB time travel (operators/analytics.rib_asof): the state as of an
    arbitrary past instant — newest-per-key at-or-before T, tombstoned
    keys dropped. The reference can only show newest state + raw history
    (src/bgpsvc.rs); as-of is the same window over the history table."""
    from bgpexplorer_spark.operators.analytics import origin_as, rib_asof

    hist = _origins_history(spark, sf_dir)
    st = rib_asof(hist, _ASOF_MS)
    return st.select(
        "nlri_str",
        "session_id",
        ts_to_millis_col(F.col("ts")).alias("ts_ms"),
        "addr_v4",
        "prefixlen",
        origin_as(F.col("aspath_flat")).alias("origin_as"),
    )

@q(
    "an_moas_origins",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist2
    ),
    state AS (SELECT * FROM latest WHERE rn = 1 AND active),
    o AS (SELECT DISTINCT nlri_str, origin_as FROM state)
    SELECT nlri_str,
           string_agg(CAST(origin_as AS VARCHAR), ',' ORDER BY origin_as)
               AS origins_str,
           count(*) AS n_origins
    FROM o GROUP BY nlri_str HAVING count(*) >= 2
    """,
)
def an_moas_origins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-Origin-AS conflicts (operators/analytics.moas_conflicts):
    prefixes whose active routes across sessions disagree on the origin
    AS — the classic hijack/leak signal, one hash-aggregate over
    current_state."""
    from bgpexplorer_spark.operators.analytics import moas_conflicts
    from bgpexplorer_spark.operators.rib import current_state

    hist = _origins_history(spark, sf_dir)
    return moas_conflicts(current_state(hist)).select(
        "nlri_str", "origins_str", "n_origins"
    )

@q(
    "an_prefix_churn",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    flips AS (
        SELECT *,
               CASE WHEN lag(active) OVER w IS NOT NULL
                         AND lag(active) OVER w <> active
                    THEN 1 ELSE 0 END AS flip
        FROM hist2
        WINDOW w AS (PARTITION BY nlri_str, session_id ORDER BY ts)
    )
    SELECT nlri_str,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600000 AS bucket_ms,
           CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
           CAST(SUM(CASE WHEN active THEN 0 ELSE 1 END) AS BIGINT) AS n_withdraws,
           CAST(SUM(flip) AS BIGINT) AS n_flips,
           count(DISTINCT session_id) AS n_sessions
    FROM flips GROUP BY 1, 2
    """,
)
def an_prefix_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-prefix churn per hour bucket (operators/analytics.prefix_churn):
    announce/withdraw counts, announce<->withdraw flips, sessions touched
    — the reference's global cnt_updates/cnt_withdraws counters
    (src/ribservice.rs:168-219) broken out per prefix and time bucket."""
    from bgpexplorer_spark.operators.analytics import prefix_churn

    hist = _origins_history(spark, sf_dir)
    return prefix_churn(hist, 3600).select(
        "nlri_str",
        ts_to_millis_col(F.col("bucket")).alias("bucket_ms"),
        "n_updates",
        "n_withdraws",
        "n_flips",
        "n_sessions",
    )

@q(
    "s2_bmp_lifecycle",
    """
    SELECT '10.255.0.' || CAST(p AS VARCHAR) AS peer_addr,
           CAST(65000 + p AS BIGINT) AS peer_as,
           CAST(2 AS BIGINT) AS n_intervals,
           CAST(1 AS BIGINT) AS n_closed,
           CAST((1704067000 + p) * 1000 AS BIGINT) AS first_up_ms,
           CAST((1704067200 + p) * 1000 AS BIGINT) AS last_down_ms,
           CAST(p % 3 + 1 AS INTEGER) AS reason,
           CAST(p * 10 + 1 AS BIGINT) AS stat0,
           CAST(p * 1000 + 5 AS BIGINT) AS stat7
    FROM range(8) t(p)
    """,
)
def s2_bmp_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 completion — BMP Peer Up/Down lifecycle + Stats Report decode
    (RFC 7854 §4.8-4.10) from real frame bytes: session intervals paired
    per peer (open second session has no down), per-peer counter rollup
    joined in. The oracle is the closed form of the synthesized stream."""
    import os
    import tempfile

    from bgpexplorer_spark.sources.bmp import (
        encode_bmp_peer_down, encode_bmp_peer_up, encode_bmp_stats,
        peer_session_intervals, read_bmp_peer_events, read_bmp_stats,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = b""
    for p in range(8):
        ip, asn = 0x0AFF0000 + p, 65000 + p
        stream += encode_bmp_peer_up(ip, asn, 1704067000 + p)
        stream += encode_bmp_stats(
            ip, asn, 1704067100 + p, [(0, p * 10 + 1), (7, p * 1000 + 5)]
        )
        stream += encode_bmp_peer_down(ip, asn, 1704067200 + p, p % 3 + 1)
        stream += encode_bmp_peer_up(ip, asn, 1704067300 + p)
    path = os.path.join(tempfile.gettempdir(), "bgpx_bmp_lifecycle.bmp")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(stream)
    os.replace(tmp, path)

    iv = peer_session_intervals(read_bmp_peer_events(spark, path))
    ivagg = iv.groupBy("peer_addr", "peer_as").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("down_ts").isNotNull().cast("bigint")).alias("n_closed"),
        ts_to_millis_col(F.min("up_ts")).alias("first_up_ms"),
        ts_to_millis_col(F.max("down_ts")).alias("last_down_ms"),
        F.max("down_reason").alias("reason"),
    )
    st = read_bmp_stats(spark, path).groupBy("peer_addr", "peer_as").agg(
        F.sum(F.when(F.col("stat_type") == 0, F.col("stat_value"))).alias("stat0"),
        F.max(F.when(F.col("stat_type") == 7, F.col("stat_value"))).alias("stat7"),
    )
    return ivagg.join(st, ["peer_addr", "peer_as"])

@q(
    "an_aspath_prepends",
    f"""
    SELECT event_id,
           CAST(event_id % 4 + 3 AS INTEGER) AS path_len,
           CAST(3 - CASE WHEN user_id % 5 = event_id % 7 THEN 1 ELSE 0 END
                AS INTEGER) AS uniq_len,
           CAST(event_id % 4 + CASE WHEN user_id % 5 = event_id % 7 THEN 1
                ELSE 0 END AS INTEGER) AS n_prepends
    FROM events
    """,
)
def an_aspath_prepends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-path prepend detection (operators/analytics.aspath_prepend_stats):
    consecutive-duplicate hops counted by a pure array fold — derived
    paths [100+u%5 x (e%4+1), 100+e%7, 300+e%3] carry e%4 deliberate
    prepends plus an occasional adjacent collision; the oracle is the
    closed form."""
    from bgpexplorer_spark.operators.analytics import aspath_prepend_stats

    ev = load_table(spark, sf_dir, "events")
    path = F.concat(
        F.array_repeat(
            (F.lit(100) + F.col("user_id") % 5).cast("bigint"),
            (F.col("event_id") % 4 + 1).cast("int"),
        ),
        F.array(
            (F.lit(100) + F.col("event_id") % 7).cast("bigint"),
            (F.lit(300) + F.col("event_id") % 3).cast("bigint"),
        ),
    )
    st = aspath_prepend_stats(path)
    return ev.select(
        "event_id",
        st.getField("path_len").alias("path_len"),
        st.getField("uniq_len").alias("uniq_len"),
        st.getField("n_prepends").alias("n_prepends"),
    )

@q(
    "an_origin_changes",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    act AS (SELECT * FROM hist2 WHERE active),
    flow AS (
        SELECT nlri_str, ts, origin_as,
               lag(origin_as) OVER (PARTITION BY nlri_str ORDER BY ts)
                   AS prev_origin
        FROM act
    )
    SELECT nlri_str, epoch_ms(ts) AS ts_ms, prev_origin,
           origin_as AS new_origin
    FROM flow WHERE prev_origin IS NOT NULL AND prev_origin <> origin_as
    """,
)
def an_origin_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-AS change timeline (operators/analytics.origin_changes) —
    the raw feed a hijack detector consumes: every active announcement
    whose origin differs from the prefix's previous active announcement."""
    from bgpexplorer_spark.operators.analytics import origin_changes

    hist = _origins_history(spark, sf_dir)
    return origin_changes(hist).select(
        "nlri_str",
        ts_to_millis_col(F.col("ts")).alias("ts_ms"),
        "prev_origin",
        "new_origin",
    )

@q(
    "o5_lpm_v6_join",
    """
    WITH r AS (
        SELECT DISTINCT
               CAST(floor(((user_id % 64) * 65536 + (event_id % 256) * 256)
                    / power(2, 64 - (48 + (event_id % 5) * 4))) AS BIGINT)
                 * CAST(power(2, 64 - (48 + (event_id % 5) * 4)) AS BIGINT)
                 AS val_c,
               48 + (event_id % 5) * 4 AS plen
        FROM events
    ),
    h AS (
        SELECT event_id,
               (user_id % 64) * 65536 + (event_id % 256) * 256 + event_id % 16
                   AS w
        FROM events
    ),
    cand AS (
        SELECT h.event_id, h.w, p.plen,
               CAST(floor(h.w / power(2, 64 - p.plen)) AS BIGINT)
                 * CAST(power(2, 64 - p.plen) AS BIGINT) AS w_c
        FROM h CROSS JOIN (VALUES (48), (52), (56), (60), (64)) p(plen)
    ),
    hit AS (
        SELECT c.event_id, c.w_c, c.plen,
               row_number() OVER (PARTITION BY c.event_id
                                  ORDER BY c.plen DESC) AS rk
        FROM cand c JOIN r ON r.val_c = c.w_c AND r.plen = c.plen
    )
    SELECT event_id,
           '20010DB8' || upper(lpad(hex(w_c), 8, '0')) || '0000000000000000'
               AS matched_hex,
           CAST(plen AS INTEGER) AS matched_prefixlen
    FROM hit WHERE rk = 1
    """,
)
def o5_lpm_v6_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 generalized for IPv6 (operators/lpm.lpm_join_v6): longest-prefix
    match over real BINARY(16) keys — candidate masking per occurring
    prefix length, equi-join, map-side-combinable longest-hit pick. Routes
    and hosts derive 2001:db8::/32 space with the variable 32-bit word in
    bytes 4-7 (the f2 derivation); the oracle mirrors the arithmetic on
    that word."""
    from bgpexplorer_spark.operators.lpm import lpm_join_v6

    ev = load_table(spark, sf_dir, "events")
    plen = (F.lit(48) + (F.col("event_id") % 5) * 4).cast("int")
    val = ((F.col("user_id") % 64) * 65536 + (F.col("event_id") % 256) * 256).cast(
        "bigint"
    )
    span = F.pow(F.lit(2.0), (F.lit(64) - plen)).cast("bigint")
    val_c = F.floor(val / span).cast("bigint") * span
    to_bin = lambda word: F.unhex(  # noqa: E731
        F.concat(F.lit("20010DB8"), F.lpad(F.hex(word), 8, "0"), F.lit("0" * 16))
    )
    routes = ev.select(to_bin(val_c).alias("addr_v6"), plen.alias("prefixlen")).distinct()
    w = (
        (F.col("user_id") % 64) * 65536
        + (F.col("event_id") % 256) * 256
        + F.col("event_id") % 16
    ).cast("bigint")
    hosts = ev.select("event_id", to_bin(w).alias("addr_v6"))
    out = lpm_join_v6(hosts, routes, plens=[48, 52, 56, 60, 64])
    return out.select(
        "event_id",
        F.upper(F.hex("matched_addr_v6")).alias("matched_hex"),
        F.col("matched_prefixlen").cast("int").alias("matched_prefixlen"),
    )

@q(
    "an_as_adjacency",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist2
    ),
    state AS (SELECT * FROM latest WHERE rn = 1 AND active)
    SELECT as1_raw AS as_a, origin_as AS as_b,
           count(*) AS n_routes
    FROM state GROUP BY 1, 2
    """,
)
def an_as_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS adjacency graph (operators/analytics.as_adjacency): directed
    edges between consecutive path hops across the active state, weighted
    by route count — the AS-topology view a path analyst derives first."""
    from bgpexplorer_spark.operators.analytics import as_adjacency
    from bgpexplorer_spark.operators.rib import current_state

    hist = _origins_history(spark, sf_dir)
    return as_adjacency(current_state(hist))

# Gao-style relationship inference + customer cone. The path fixture
# builds a 3-tier topology from events — stubs 10-14, transits 50-52,
# origins 100-106 — with three deliberate wrinkles: direct stub→origin
# paths (e%4), a stub-origin-stub detour that manufactures conflicting
# orientations → p2p (e%13==2), and a prepended transit hop that the
# Spark-side collapse must erase (e%13==5; the oracle never sees it, so
# a broken collapse breaks the hash). Both engines then run the same
# deterministic algorithm: per-path summit = highest degree (ties → the
# earliest position), uphill votes c2p, downhill p2c.
_AS_REL_PATH_CASE = """CASE WHEN event_id % 13 = 2
      THEN [10 + user_id % 5, 100 + event_id % 7, 10 + (user_id + 1) % 5]
      WHEN event_id % 4 = 0
      THEN [10 + user_id % 5, 100 + event_id % 7]
      ELSE [10 + user_id % 5, 50 + (user_id + event_id) % 3,
            100 + event_id % 7]
      END"""

_AS_REL_CTES = f"""raw AS (
        SELECT DISTINCT {_AS_REL_PATH_CASE} AS path FROM events
    ),
    hops AS (
        SELECT path, CAST(unnest(range(1, len(path) + 1)) AS INTEGER) AS pos,
               unnest(path) AS asn
        FROM raw
    ),
    edges AS (
        SELECT path, pos, path[pos] AS a, path[pos + 1] AS b
        FROM hops WHERE pos < len(path)
    ),
    und AS (
        SELECT DISTINCT a, b
        FROM (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges)
    ),
    deg AS (SELECT a AS asn, count(*) AS degree FROM und GROUP BY 1),
    top AS (
        SELECT path, pos AS top_pos FROM (
            SELECT h.path, h.pos,
                   row_number() OVER (PARTITION BY h.path
                                      ORDER BY d.degree DESC, h.pos) AS rn
            FROM hops h JOIN deg d USING (asn)
        ) WHERE rn = 1
    ),
    votes AS (
        SELECT CAST(least(a, b) AS BIGINT) AS as_low,
               CAST(greatest(a, b) AS BIGINT) AS as_high,
               CASE WHEN pos < top_pos THEN a < b ELSE b < a END
                   AS low_is_customer
        FROM edges JOIN top USING (path)
    ),
    rels AS (
        SELECT as_low, as_high,
               CAST(sum(CASE WHEN low_is_customer THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low_customer,
               CAST(sum(CASE WHEN low_is_customer THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_high_customer,
               CASE WHEN sum(CASE WHEN low_is_customer THEN 1 ELSE 0 END) > 0
                         AND sum(CASE WHEN low_is_customer THEN 0 ELSE 1 END) > 0
                    THEN 'p2p'
                    WHEN sum(CASE WHEN low_is_customer THEN 1 ELSE 0 END) > 0
                    THEN 'c2p'
                    ELSE 'p2c' END AS rel
        FROM votes GROUP BY 1, 2
    )"""

def _as_rel_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = F.lit(10) + u % 5
    s2 = F.lit(10) + (u + 1) % 5
    mm = F.lit(50) + (u + e) % 3
    o = F.lit(100) + e % 7
    path = (
        F.when(e % 13 == 2, F.array(s, o, s2))
        .when(e % 4 == 0, F.array(s, o))
        .when(e % 13 == 5, F.array(s, mm, mm, o))  # prepend → collapses
        .otherwise(F.array(s, mm, o))
    )
    return ev.select(path.cast("array<long>").alias("aspath_flat"))

@q("an_as_relationships", f"WITH {_AS_REL_CTES} SELECT * FROM rels")
def an_as_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gao-style provider/customer/peer inference
    (operators/analytics.as_relationships) over a derived 3-tier path
    set — c2p/p2c/p2p classes, prepend collapse, and the deterministic
    degree-with-position tie-break all exercised."""
    from bgpexplorer_spark.operators.analytics import as_relationships

    return as_relationships(_as_rel_routes(spark, sf_dir))

@q(
    "an_customer_cone",
    f"""
    WITH RECURSIVE {_AS_REL_CTES},
    pc AS (
        SELECT DISTINCT
               CASE WHEN rel = 'p2c' THEN as_low ELSE as_high END AS provider,
               CASE WHEN rel = 'p2c' THEN as_high ELSE as_low END AS customer
        FROM rels WHERE rel <> 'p2p'
    ),
    reach AS (
        SELECT provider, customer FROM pc
        UNION
        SELECT r.provider, e.customer
        FROM reach r JOIN pc e ON r.customer = e.provider
    ),
    nodes AS (
        SELECT DISTINCT asn FROM (
            SELECT provider AS asn FROM pc
            UNION ALL SELECT customer FROM pc
        )
    )
    SELECT n.asn, CAST(COALESCE(s.cnt, 0) + 1 AS BIGINT) AS cone_size
    FROM nodes n LEFT JOIN (
        SELECT provider, count(*) AS cnt
        FROM (SELECT DISTINCT provider, customer FROM reach
              WHERE provider <> customer) GROUP BY 1
    ) s ON n.asn = s.provider
    """,
)
def an_customer_cone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-cone sizes (operators/analytics.customer_cone) from the
    inferred relationship graph — iterative provider→customer closure
    vs the oracle's recursive CTE."""
    from bgpexplorer_spark.operators.analytics import (
        as_relationships,
        customer_cone,
    )

    rels = as_relationships(_as_rel_routes(spark, sf_dir))
    return customer_cone(rels)

@q(
    "s1_mrt_state_changes",
    """
    SELECT '10.255.1.' || CAST(i % 6 AS VARCHAR) AS peer_addr,
           CAST(64900 + i % 6 AS BIGINT) AS peer_as,
           CAST((1704067000 + i) * 1000 AS BIGINT) AS ts_ms,
           CAST(i % 5 + 1 AS INTEGER) AS old_state,
           CAST(i % 5 + 2 AS INTEGER) AS new_state
    FROM range(120) t(i)
    """,
)
def s1_mrt_state_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 completion — BGP4MP_STATE_CHANGE decode (RFC 6396 §4.4.1): FSM
    transitions from an MRT archive, interleaved UPDATE records skipped by
    the walk. The oracle is the closed form of the synthesized archive."""
    import os
    import tempfile

    from bgpexplorer_spark.sources.mrt import (
        encode_state_change, encode_update, read_mrt_state_changes,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = b""
    for i in range(120):
        p = i % 6
        stream += encode_state_change(
            1704067000 + i, 64900 + p, 0x0AFF0100 + p, i % 5 + 1, i % 5 + 2
        )
        if i % 10 == 0:  # interleave updates: the state walk must skip them
            stream += encode_update(
                1704067000 + i, 64900 + p, 0x0AFF0100 + p,
                nlri=[(0x0A000000, 16)], origin=0, aspath=[(2, [100])],
                nexthop=0x01010101,
            )
    path = os.path.join(tempfile.gettempdir(), "bgpx_mrt_states.mrt")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(stream)
    os.replace(tmp, path)

    df = read_mrt_state_changes(spark, path)
    return df.select(
        "peer_addr", "peer_as",
        ts_to_millis_col(F.col("ts")).alias("ts_ms"),
        "old_state", "new_state",
    )

@q(
    "st_prefix_churn",
    f"""
    SELECT nlri_str,
           time_bucket(INTERVAL 1 MINUTE, ts) AS win_start,
           CAST(sum(CASE WHEN event_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS updates,
           CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS withdraws
    FROM (
        SELECT event_id, ts,
               CAST(floor(addr_v4 / 16777216) % 256 AS BIGINT) || '.' ||
               CAST(floor(addr_v4 / 65536) % 256 AS BIGINT) || '.' ||
               CAST(floor(addr_v4 / 256) % 256 AS BIGINT) || '.' ||
               CAST(addr_v4 % 256 AS BIGINT) || '/' ||
               CAST(prefixlen AS VARCHAR) AS nlri_str
        FROM ({_DERIVED_ROUTES_SQL})
    )
    GROUP BY 1, 2
    """,
)
def st_prefix_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 extension — per-prefix windowed churn
    (streaming/feed.windowed_prefix_churn) run in batch mode on the
    derived updates: the same incremental groupBy(window) aggregation the
    stream executes, so the streaming semantics get an oracle row."""
    from bgpexplorer_spark.functions.iputil import v4_to_dotted
    from bgpexplorer_spark.streaming.feed import windowed_prefix_churn

    routes = derived_routes(spark, sf_dir)
    upd = routes.select(
        "ts",
        F.lit("ipv4u").alias("rib"),
        F.concat_ws(
            "/", v4_to_dotted(F.col("addr_v4")), F.col("prefixlen").cast("string")
        ).alias("nlri_str"),
        F.when(F.col("event_id") % 7 == 0, "withdraw").otherwise("update").alias("op"),
    )
    churn = windowed_prefix_churn(upd, window="1 minute", watermark="5 minutes")
    return churn.select(
        "nlri_str",
        F.col("window.start").alias("win_start"),
        "updates",
        "withdraws",
    )

@q(
    "an_rpki_validate",
    f"""
    WITH r AS (
        SELECT event_id, addr_v4, prefixlen,
               CAST(200 + event_id % 3 AS BIGINT) AS origin_as,
               CAST(floor(addr_v4 / 65536) AS BIGINT) % 256 AS u
        FROM ({_DERIVED_ROUTES_SQL})
    )
    SELECT event_id, addr_v4, prefixlen, origin_as,
           CASE
               WHEN u % 4 = 3 THEN 'NotFound'
               WHEN (prefixlen <= 24 AND origin_as = 200 + u % 3)
                 OR (u % 2 = 0 AND prefixlen >= 20
                     AND CAST(floor(addr_v4 / 4096) AS BIGINT) % 16 = 0
                     AND prefixlen <= 28 AND origin_as = 200 + u % 2)
                   THEN 'Valid'
               ELSE 'Invalid'
           END AS validity
    FROM r
    """,
)
def an_rpki_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RPKI route-origin validation (operators/analytics.rpki_validate,
    RFC 6811): derived routes against a derived ROA table — /16 ROAs
    (max_len 24, asn 200+u%3) for three quarters of the space (the last
    quarter is NotFound), plus /20 ROAs (max_len 28, asn 200+u%2) on even
    /16s. The oracle is the closed form of the same coverage rules."""
    from bgpexplorer_spark.operators.analytics import rpki_validate

    routes = derived_routes(spark, sf_dir).select(
        "event_id", "addr_v4", "prefixlen",
        (F.lit(200) + F.col("event_id") % 3).cast("bigint").alias("origin_as"),
    )
    u = spark.range(64).select(F.col("id").alias("u"))
    base = (F.lit(10 * 16777216) + F.col("u") * 65536).cast("bigint")
    roa16 = u.filter(F.col("u") % 4 != 3).select(
        base.alias("net"),
        F.lit(16).alias("plen"),
        F.lit(24).alias("max_len"),
        (F.lit(200) + F.col("u") % 3).cast("bigint").alias("asn"),
    )
    roa20 = u.filter(F.col("u") % 2 == 0).select(
        base.alias("net"),
        F.lit(20).alias("plen"),
        F.lit(28).alias("max_len"),
        (F.lit(200) + F.col("u") % 2).cast("bigint").alias("asn"),
    )
    roas = roa16.unionByName(roa20)
    return rpki_validate(routes, roas, roa_plens=[16, 20])

@q(
    "an_rpki_validate_v6",
    """
    SELECT event_id,
           '20010DB8' || upper(lpad(hex(w), 8, '0')) || '0000000000000000'
               AS addr_hex,
           plen AS prefixlen, origin_as,
           CASE
               WHEN NOT (u % 4 <> 3)
                    AND NOT (u % 2 = 0 AND w % 65536 < 4096 AND plen >= 52)
                   THEN 'NotFound'
               WHEN (u % 4 <> 3 AND plen <= 56 AND origin_as = 200 + u % 3)
                 OR (u % 2 = 0 AND w % 65536 < 4096 AND plen >= 52
                     AND plen <= 60 AND origin_as = 200 + u % 2)
                   THEN 'Valid'
               ELSE 'Invalid'
           END AS validity
    FROM (
        SELECT event_id,
               48 + (event_id % 5) * 4 AS plen,
               (user_id % 64) * 65536 + (event_id % 256) * 256 AS w,
               user_id % 64 AS u,
               CAST(200 + event_id % 3 AS BIGINT) AS origin_as
        FROM events
    )
    """,
)
def an_rpki_validate_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv6 RPKI origin validation (analytics.rpki_validate_v6) over real
    BINARY(16) keys: /48 ROAs (max_len 56, asn 200+u%3) for three
    quarters of the /48 space, /52 ROAs (max_len 60, asn 200+u%2) on the
    first /52 of even /48s. Oracle mirrors the coverage rules on the
    variable 32-bit word (the f2/o5-v6 derivation)."""
    from bgpexplorer_spark.operators.analytics import rpki_validate_v6

    ev = load_table(spark, sf_dir, "events")
    plen = (F.lit(48) + (F.col("event_id") % 5) * 4).cast("int")
    w = ((F.col("user_id") % 64) * 65536 + (F.col("event_id") % 256) * 256).cast(
        "bigint"
    )
    to_bin = lambda word: F.unhex(  # noqa: E731
        F.concat(F.lit("20010DB8"), F.lpad(F.hex(word), 8, "0"), F.lit("0" * 16))
    )
    routes = ev.select(
        "event_id",
        to_bin(w).alias("addr_v6"),
        plen.alias("prefixlen"),
        (F.lit(200) + F.col("event_id") % 3).cast("bigint").alias("origin_as"),
    )
    u = spark.range(64).select(F.col("id").alias("u"))
    w48 = (F.col("u") * 65536).cast("bigint")
    roa48 = u.filter(F.col("u") % 4 != 3).select(
        to_bin(w48).alias("net"),
        F.lit(48).alias("plen"),
        F.lit(56).alias("max_len"),
        (F.lit(200) + F.col("u") % 3).cast("bigint").alias("asn"),
    )
    roa52 = u.filter(F.col("u") % 2 == 0).select(
        to_bin(w48).alias("net"),
        F.lit(52).alias("plen"),
        F.lit(60).alias("max_len"),
        (F.lit(200) + F.col("u") % 2).cast("bigint").alias("asn"),
    )
    roas = roa48.unionByName(roa52)
    out = rpki_validate_v6(routes, roas, roa_plens=[48, 52])
    return out.select(
        "event_id",
        F.upper(F.hex("addr_v6")).alias("addr_hex"),
        "prefixlen",
        "origin_as",
        "validity",
    )

@q(
    "s5_td1_rib_dump",
    """
    SELECT '10.' || CAST(i % 32 AS VARCHAR) || '.0.0/16' AS nlri_str,
           CAST((1704067200 + i) * 1000 AS BIGINT) AS ts_ms,
           CAST(65001 AS BIGINT) AS peer_as,
           CASE i % 3 WHEN 0 THEN 'IGP' WHEN 1 THEN 'EGP'
                ELSE 'Incomplete' END AS origin,
           CAST(100 + i % 9 AS BIGINT) AS as1,
           CAST(3221226240 + i % 4 AS BIGINT) AS nexthop_v4
    FROM range(200) t(i)
    """,
)
def s5_td1_rib_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 completion — TABLE_DUMP v1 decode (RFC 6396 §5.1, the legacy
    full-RIB archive form: 16-bit ASNs, 2-byte-AS attribute walk,
    full-width prefix field) through the same per-file parallel walk."""
    import os
    import tempfile

    from bgpexplorer_spark.sources.mrt import encode_td1_v4, read_mrt

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = b""
    for i in range(200):
        stream += encode_td1_v4(
            i, 0x0A000000 + (i % 32) * 65536, 16, 1704067200 + i,
            0x0AFF0001, 65001, i % 3, [100 + i % 9, 200], 0xC0000300 + i % 4,
        )
    path = os.path.join(tempfile.gettempdir(), "bgpx_td1.mrt")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(stream)
    os.replace(tmp, path)

    df = read_mrt(spark, path)
    return df.select(
        "nlri_str",
        ts_to_millis_col(F.col("ts")).alias("ts_ms"),
        "peer_as",
        "origin",
        F.col("aspath")[0]["asns"][0].alias("as1"),
        "nexthop_v4",
    )

# Bogon-ASN detection — private/reserved/documentation ASNs in the AS
# path (RFC 6996/7607/6793/5398/7300). Paths are derived with injected
# offenders so the oracle has a closed form.
@q(
    "an_bogon_paths",
    f"""
    SELECT event_id,
           CASE
               WHEN event_id % 5 = 0 AND event_id % 11 = 0
                   THEN '0,' || CAST(64512 + event_id % 50 AS VARCHAR)
               WHEN event_id % 5 = 0
                   THEN CAST(64512 + event_id % 50 AS VARCHAR)
               ELSE '0'
           END AS bogons_str
    FROM ({_DERIVED_ROUTES_SQL})
    WHERE event_id % 5 = 0 OR event_id % 11 = 0
    """,
)
def an_bogon_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bogon-ASN detection (operators/analytics.bogon_asns): derived AS
    paths carry a private ASN on event_id % 5 == 0 and AS 0 on
    event_id % 11 == 0; only offending routes survive, with the sorted
    offender list."""
    from bgpexplorer_spark.operators.analytics import bogon_asns

    routes = derived_routes(spark, sf_dir)
    base_path = F.array(
        (F.lit(100) + F.col("event_id") % 8).cast("bigint"),
        (F.lit(200) + F.col("event_id") % 3).cast("bigint"),
    )
    with_priv = F.when(
        F.col("event_id") % 5 == 0,
        F.concat(
            base_path,
            F.array((F.lit(64512) + F.col("event_id") % 50).cast("bigint")),
        ),
    ).otherwise(base_path)
    with_zero = F.when(
        F.col("event_id") % 11 == 0,
        F.concat(with_priv, F.array(F.lit(0).cast("bigint"))),
    ).otherwise(with_priv)
    df = routes.select("event_id", with_zero.alias("aspath_flat"))
    return bogon_asns(df).select(
        "event_id",
        F.concat_ws(
            ",",
            F.transform(F.col("bogon_asns"), lambda x: x.cast("string")),
        ).alias("bogons_str"),
    )

# RIB diff between two as-of instants over the origin-history fixture:
# origins rotate per event and prefixes appear/withdraw over time, so all
# three change classes occur.
_DIFF_T1_MS = 1704067200000 + 2_500_000
_DIFF_T2_MS = 1704067200000 + 7_500_000

@q(
    "an_rib_diff",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    s1 AS (
        SELECT nlri_str, origin_as FROM (
            SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                         ORDER BY ts DESC) AS rn
            FROM hist2 WHERE ts <= make_timestamp({_DIFF_T1_MS} * 1000)
        ) WHERE rn = 1 AND active
    ),
    s2 AS (
        SELECT nlri_str, origin_as FROM (
            SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                         ORDER BY ts DESC) AS rn
            FROM hist2 WHERE ts <= make_timestamp({_DIFF_T2_MS} * 1000)
        ) WHERE rn = 1 AND active
    ),
    a1 AS (
        SELECT nlri_str,
               string_agg(DISTINCT CAST(origin_as AS VARCHAR), ','
                          ORDER BY origin_as) AS origins_before
        FROM s1 GROUP BY nlri_str
    ),
    a2 AS (
        SELECT nlri_str,
               string_agg(DISTINCT CAST(origin_as AS VARCHAR), ','
                          ORDER BY origin_as) AS origins_after
        FROM s2 GROUP BY nlri_str
    )
    SELECT coalesce(a1.nlri_str, a2.nlri_str) AS nlri_str,
           CASE WHEN a1.nlri_str IS NULL THEN 'added'
                WHEN a2.nlri_str IS NULL THEN 'removed'
                ELSE 'origin_changed' END AS change,
           origins_before, origins_after
    FROM a1 FULL OUTER JOIN a2 ON a1.nlri_str = a2.nlri_str
    WHERE origins_before IS DISTINCT FROM origins_after
    """,
)
def an_rib_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIB diff (operators/analytics.rib_diff): per-prefix origin-set
    comparison of two time-traveled states — added / removed /
    origin_changed between T1 and T2."""
    from bgpexplorer_spark.operators.analytics import rib_diff

    hist = _origins_history(spark, sf_dir)
    return rib_diff(hist, _DIFF_T1_MS, _DIFF_T2_MS).select(
        "nlri_str", "change", "origins_before", "origins_after"
    )

# Martian-prefix detection — announcements inside RFC 6890
# special-purpose IPv4 space. Addresses are synthesized across six
# special ranges and two clean ones, so the oracle has a closed form and
# the range CASE is exercised on both edges.
@q(
    "an_martian_prefixes",
    f"""
    SELECT event_id,
           CASE event_id % 8
               WHEN 0 THEN 'rfc1918-10'
               WHEN 1 THEN 'cgn-rfc6598'
               WHEN 2 THEN 'rfc1918-172'
               WHEN 3 THEN 'rfc1918-192'
               WHEN 4 THEN 'multicast'
               WHEN 7 THEN 'benchmark'
           END AS martian
    FROM ({_DERIVED_ROUTES_SQL})
    WHERE event_id % 8 NOT IN (5, 6)
    """,
)
def an_martian_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Martian detection (operators/analytics.martian_prefixes): event-
    derived network addresses across RFC 1918/6598/5771 ranges plus two
    clean ranges (8.8/16, 198.51.0/24) that must NOT flag."""
    from bgpexplorer_spark.operators.analytics import martian_prefixes

    routes = derived_routes(spark, sf_dir)
    e = F.col("event_id")
    bases = [
        10 << 24, (100 << 24) + (64 << 16), (172 << 24) + (16 << 16),
        (192 << 24) + (168 << 16), 224 << 24, (8 << 24) + (8 << 16),
        (198 << 24) + (51 << 16), (198 << 24) + (18 << 16),
    ]
    addr = F.lit(None).cast("bigint")
    for i, b in reversed(list(enumerate(bases))):
        addr = F.when(e % 8 == i, F.lit(b) + (e % 250) * 16).otherwise(addr)
    df = routes.select("event_id", addr.alias("addr_v4"))
    return martian_prefixes(df).select("event_id", "martian")


# RFC 2439 route-flap damping over the origin-history fixture: each
# withdrawal adds a penalty decayed to the evaluation instant; the
# oracle replicates the lag-window flap detection and the exponential
# sum (identical double constants on both engines).
_DAMP_LAM = 0.0001925408834888737
_DAMP_AT_MS = 1704077200000

@q(
    "an_flap_damping",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    flags AS (
        SELECT *, lag(active) OVER (PARTITION BY nlri_str, session_id
                                    ORDER BY ts) AS prev_active
        FROM hist2
    ),
    pen AS (
        SELECT nlri_str,
               CASE WHEN coalesce(prev_active, FALSE) AND NOT active
                    THEN 1 ELSE 0 END AS flap,
               CASE WHEN coalesce(prev_active, FALSE) AND NOT active
                    THEN 1000.0 * exp(-{_DAMP_LAM} *
                         ({_DAMP_AT_MS} / 1000.0 - epoch_ms(ts) / 1000.0))
                    ELSE 0.0 END AS p
        FROM flags
    )
    SELECT nlri_str, CAST(sum(flap) AS BIGINT) AS n_flaps,
           round(sum(p), 4) AS penalty,
           round(sum(p), 4) >= 2000.0 AS suppressed,
           round(sum(p), 4) < 750.0 AS reusable
    FROM pen GROUP BY nlri_str HAVING sum(flap) > 0
    """,
)
def an_flap_damping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flap damping (operators/analytics.flap_damping): decayed
    withdrawal penalties with suppress/reuse classification at a fixed
    evaluation instant (half-life 1 h)."""
    from bgpexplorer_spark.operators.analytics import flap_damping

    hist = _origins_history(spark, sf_dir)
    return flap_damping(hist, _DAMP_AT_MS, half_life_sec=3600.0).select(
        "nlri_str", "n_flaps", "penalty", "suppressed", "reusable"
    )

# S1 — the full multiprotocol family matrix decoded from REAL wire bytes:
# the reference ingests 15 RIBs (src/bgprib.rs:807-821); this fixture
# cycles VPN / labeled-unicast / MDT / VPLS / EVPN / MVPN routes through
# MRT records and checks rib dispatch, RD/label/key decode, and the
# canonical nlri_str forms against closed-form SQL.
_MP_FAM_ORACLE = """
    SELECT i,
           CASE i % 6 WHEN 0 THEN 'vpnv4u' WHEN 1 THEN 'ipv4lu'
                WHEN 2 THEN 'ipv4mdt' WHEN 3 THEN 'l2vpls'
                WHEN 4 THEN 'evpn' ELSE 'mvpn' END AS rib,
           CASE i % 6
             WHEN 0 THEN 'L' || (16 + i % 10) || ':' || (100 + i % 5) || ':'
                  || (1000 + i % 7) || ':10.' || (i % 16) || '.0.0/24'
             WHEN 1 THEN 'L' || (33 + i % 4) || ':10.' || (i % 16) || '.0.0/16'
             WHEN 2 THEN (1 + i % 3) || ':2:10.1.1.' || (1 + i % 9)
                  || '/32:G232.1.1.' || (1 + i % 9)
             WHEN 3 THEN 'L2:' || (10 + i % 50) || ':' || (i % 100)
                  || '-200:2:' || (2 + i % 4) || ':0.0.0.0/0'
             WHEN 4 THEN 'E2:1:' || (i % 6) || ':10.0.0.' || (i % 200) || '/32'
             ELSE 'T5:3:' || (i % 5) || ':10.0.1.' || (i % 100) || '/32'
           END AS nlri_str,
           CASE i % 6 WHEN 0 THEN 100 + i % 5 WHEN 2 THEN 1 + i % 3
                WHEN 3 THEN 2 WHEN 4 THEN 1 WHEN 5 THEN 3 END AS rd_hi,
           CASE i % 6 WHEN 0 THEN 1000 + i % 7 WHEN 2 THEN 2
                WHEN 3 THEN 2 + i % 4 WHEN 4 THEN i % 6 WHEN 5 THEN i % 5
           END AS rd_lo,
           CASE i % 6 WHEN 0 THEN 16 + i % 10 WHEN 1 THEN 33 + i % 4
                WHEN 3 THEN 4096 + i % 8 WHEN 4 THEN 9 END AS label0,
           CASE i % 6 WHEN 0 THEN 24 WHEN 1 THEN 16 WHEN 2 THEN 32
                WHEN 3 THEN 0 WHEN 4 THEN 32 ELSE 32 END AS prefixlen
    FROM range(300) t(i)
"""

@q("s1_mrt_mp_families", _MP_FAM_ORACLE)
def s1_mrt_mp_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprotocol NLRI families decoded from real MRT wire bytes
    (sources/mrt._decode_mp_nlri; RFC 8277/4364/6037/4761/7432/6514):
    each record carries one VPN / labeled / MDT / VPLS / EVPN / MVPN
    route built by the in-package fixture encoders, batch-decoded via
    binaryFile + mapInPandas."""
    import os
    import tempfile

    from bgpexplorer_spark.sources.mrt import (
        assign_sessions,
        encode_evpn_nlri,
        encode_labeled_nlri,
        encode_mdt_nlri,
        encode_mvpn_nlri,
        encode_update,
        encode_vpls_nlri,
        mrt_peers,
        read_mrt,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    recs = b""
    for i in range(300):
        kw = dict(ts_sec=1704067200 + i, peer_as=65000, peer_ip=0x0AFF0001,
                  origin=0, aspath=[(2, [65000, 200])])
        fam = i % 6
        if fam == 0:
            mp = (1, 128, bytes(8) + b"\x0a\x00\x00\x01", encode_labeled_nlri(
                [16 + i % 10], 0x0A000000 + (i % 16) * 65536, 24,
                rd=(100 + i % 5, 1000 + i % 7)))
        elif fam == 1:
            mp = (1, 4, b"\x0a\x00\x00\x01", encode_labeled_nlri(
                [33 + i % 4], 0x0A000000 + (i % 16) * 65536, 16))
        elif fam == 2:
            mp = (1, 66, b"\x0a\x00\x00\x01", encode_mdt_nlri(
                (1 + i % 3, 2), 0x0A010101 + i % 9, 0xE8010101 + i % 9))
        elif fam == 3:
            mp = (25, 65, b"\x0a\x00\x00\x01", encode_vpls_nlri(
                (2, 2 + i % 4), ve_id=10 + i % 50, offset=i % 100,
                vrange=200, label_base=4096 + i % 8))
        elif fam == 4:
            mp = (25, 70, b"\x0a\x00\x00\x01", encode_evpn_nlri(
                2, (1, i % 6), mac=bytes(6),
                ip=bytes([10, 0, 0, i % 200]), label=9))
        else:
            mp = (1, 5, b"\x0a\x00\x00\x01", encode_mvpn_nlri(
                5, (3, i % 5), source=0x0A000100 + i % 100,
                group=0xE8010101 + i % 50))
        recs += encode_update(**kw, mp_reach=mp)
    path = os.path.join(tempfile.gettempdir(), "bgpx_mrt_mp_fixture.mrt")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(recs)
    os.replace(tmp, path)

    upd, _sessions = assign_sessions(read_mrt(spark, path), mrt_peers(spark, path))
    return upd.select(
        (F.col("ts").cast("long") - F.lit(1704067200)).alias("i"),
        "rib", "nlri_str", "rd_hi", "rd_lo",
        F.element_at("labels", 1).alias("label0"),
        "prefixlen",
    )

# The filter language applied to WIRE-DECODED VPN routes: the two
# round-4 threads composed — family decode feeds the compiled 3VL filter
# (subnet term against the VPN rib), something a reference user does
# constantly ("show 10.4/16 in this VRF"). Fixture rows with fam i%6==0
# are vpnv4u 10.(i%16).0.0/24; the subnet 10.4.0.0/16 selects i%16==4,
# i.e. i ≡ 36 (mod 48) by CRT.
_WIRE_VPN_ORACLE = """
    SELECT i,
           'L' || (16 + i % 10) || ':' || (100 + i % 5) || ':'
               || (1000 + i % 7) || ':10.4.0.0/24' AS nlri_str,
           CAST(100 + i % 5 AS BIGINT) AS rd_hi,
           CAST(1000 + i % 7 AS BIGINT) AS rd_lo
    FROM range(300) t(i)
    WHERE i % 6 = 0 AND i % 16 = 4
"""

@q("f_wire_vpn_subnet", _WIRE_VPN_ORACLE)
def f_wire_vpn_subnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire → filter integration: MRT-decoded vpnv4u routes (RD + label
    stack from real bytes) filtered by the compiled 3VL subnet term on
    the VPN rib (filterlang F1 dispatch through the rd chain)."""
    from bgpexplorer_spark.filterlang.compile import matches
    from bgpexplorer_spark.functions.codecs import aspath_flatten
    from bgpexplorer_spark.sources.mrt import assign_sessions, read_mrt, mrt_peers

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # building the family-matrix query writes its MRT fixture eagerly
    s1_mrt_mp_families(spark, sf_dir)
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "bgpx_mrt_mp_fixture.mrt")
    upd, _ = assign_sessions(read_mrt(spark, path), mrt_peers(spark, path))
    upd = upd.withColumn("aspath_flat", aspath_flatten(F.col("aspath")))
    return (
        upd.filter(F.col("rib") == "vpnv4u")
        .filter(matches("10.4.0.0/16", "vpnv4u"))
        .select(
            (F.col("ts").cast("long") - F.lit(1704067200)).alias("i"),
            "nlri_str", "rd_hi", "rd_lo",
        )
    )

# Per-VRF (RD) analytics over the wire-decoded VPN table — the "show me
# my VRFs" rollup: route counts, distinct prefixes, label range.
_VRF_ORACLE = """
    SELECT (100 + i % 5) || ':' || (1000 + i % 7) AS vrf,
           CAST(count(*) AS BIGINT) AS routes,
           CAST(count(DISTINCT i % 16) AS BIGINT) AS prefixes,
           CAST(min(16 + i % 10) AS BIGINT) AS min_label,
           CAST(max(16 + i % 10) AS BIGINT) AS max_label
    FROM range(300) t(i) WHERE i % 6 = 0
    GROUP BY 1
"""

@q("an_vrf_summary", _VRF_ORACLE)
def an_vrf_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-VRF rollup over wire-decoded vpnv4u routes: one aggregate
    keyed by the RD display form — count, distinct prefixes, label
    range. Map-side combinable; the VRF key is low-cardinality so the
    exchange is tiny at any scale."""
    from bgpexplorer_spark.functions.codecs import rd_to_str
    from bgpexplorer_spark.sources.mrt import assign_sessions, read_mrt, mrt_peers

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    s1_mrt_mp_families(spark, sf_dir)  # writes the MRT fixture eagerly
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "bgpx_mrt_mp_fixture.mrt")
    upd, _ = assign_sessions(read_mrt(spark, path), mrt_peers(spark, path))
    return (
        upd.filter(F.col("rib") == "vpnv4u")
        .groupBy(rd_to_str(F.col("rd_hi"), F.col("rd_lo")).alias("vrf"))
        .agg(
            F.count(F.lit(1)).alias("routes"),
            F.count_distinct("addr_v4").alias("prefixes"),
            F.min(F.element_at("labels", 1)).alias("min_label"),
            F.max(F.element_at("labels", 1)).alias("max_label"),
        )
    )

# Wire → filter composition for the OTHER key-dispatch families: MVPN
# and EVPN routes built as real NLRI bytes (encode_mvpn_nlri /
# encode_evpn_nlri → UPDATE → MRT), batch-decoded, then filtered by the
# SAME compiled 3VL terms the derived-key queries use. MVPN type-5
# majority vote: source 10.x is never multicast → Unknown; group 232.x →
# Yes (kept), 224.x → No, 10.x → Unknown. EVPN: type 1 is rd-only →
# Unknown for a V4 term (dropped); type 2 matches the host IP.
_WIRE_MVPN_EVPN_ORACLE = """
    SELECT 'mvpn' AS fam, i,
           CAST(100 + i % 5 AS BIGINT) AS rd_hi, CAST(1 AS BIGINT) AS rd_lo
    FROM range(120) t(i) WHERE i % 3 = 0
    UNION ALL
    SELECT 'evpn' AS fam, i,
           CAST(200 + i % 5 AS BIGINT) AS rd_hi, CAST(2 AS BIGINT) AS rd_lo
    FROM range(120) t(i) WHERE i % 5 <> 0 AND i % 2 = 0
"""

@q("f_wire_mvpn_evpn", _WIRE_MVPN_EVPN_ORACLE)
def f_wire_mvpn_evpn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire → filter integration for MVPN/EVPN (the round-4 gap: both
    halves were oracle-verified separately, never composed): MVPN type-5
    and EVPN type-1/2 routes travel from fixture-encoded NLRI wire bytes
    (RFC 6514 §4 / RFC 7432 §7) through the MRT batch decoder into the
    compiled 3VL filter — multicast majority vote on the mvpn rib, the
    rd → host-IP dispatch chain on the evpn rib."""
    import os
    import tempfile

    from bgpexplorer_spark.filterlang.compile import matches
    from bgpexplorer_spark.sources.mrt import (
        assign_sessions,
        encode_evpn_nlri,
        encode_mvpn_nlri,
        encode_update,
        mrt_peers,
        read_mrt,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = 1704200000
    recs = b""
    for i in range(120):
        group = (0xE8000000 if i % 3 == 0 else
                 0xE0000000 if i % 3 == 1 else 0x0A000000) + i
        recs += encode_update(
            ts_sec=base + i, peer_as=65000, peer_ip=0x0AFF0001,
            origin=0, aspath=[(2, [65000, 200])],
            mp_reach=(1, 5, b"\x0a\x00\x00\x01", encode_mvpn_nlri(
                5, (100 + i % 5, 1), source=0x0A000000 + i, group=group)),
        )
    for i in range(120):
        rd = (200 + i % 5, 2)
        if i % 5 == 0:
            payload = encode_evpn_nlri(1, rd, label=7)
        else:
            ip = bytes([10 if i % 2 == 0 else 192, 168, 0, i % 200])
            payload = encode_evpn_nlri(
                2, rd, mac=bytes(6), ip=ip, label=9 + i % 4)
        recs += encode_update(
            ts_sec=base + 120 + i, peer_as=65000, peer_ip=0x0AFF0001,
            origin=0, aspath=[(2, [65000, 200])],
            mp_reach=(25, 70, b"\x0a\x00\x00\x01", payload),
        )
    path = os.path.join(
        tempfile.gettempdir(), "bgpx_mrt_wirefilter_fixture.mrt")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(recs)
    os.replace(tmp, path)

    upd, _ = assign_sessions(read_mrt(spark, path), mrt_peers(spark, path))
    ts = F.col("ts").cast("long") - F.lit(base)
    mvpn = (
        upd.filter(F.col("rib") == "mvpn")
        .filter(matches("232.0.0.0/8", "mvpn"))
        .select(F.lit("mvpn").alias("fam"), ts.alias("i"),
                "rd_hi", "rd_lo")
    )
    evpn = (
        upd.filter(F.col("rib") == "evpn")
        .filter(matches("10.0.0.0/8", "evpn"))
        .select(F.lit("evpn").alias("fam"), (ts - F.lit(120)).alias("i"),
                "rd_hi", "rd_lo")
    )
    return mvpn.unionByName(evpn)

# PMSI tunnel attribute (RFC 6514 §5) riding I-PMSI/S-PMSI A-D routes:
# the reference interns it as the 13th BgpAttrs field (`pmsi_ta`,
# src/bgpattrs.rs:34, store src/bgprib.rs:805). Fixture tunnels cycle
# ingress-replication / PIM-SSM / mLDP; PIM-SSM carries an 8-byte
# sender+group identifier, the others a 4-byte endpoint — so both the
# field decode (flags / type / 20-bit label) and the variable-length
# opaque identifier are closed-form over the range table.
_PMSI_ORACLE = """
    SELECT i,
           CAST(i % 2 AS INTEGER) AS flags,
           CAST(CASE i % 3 WHEN 0 THEN 6 WHEN 1 THEN 3 ELSE 2 END
                AS INTEGER) AS tunnel_type,
           CAST(16 + i % 50 AS INTEGER) AS label,
           CAST(CASE i % 3 WHEN 1 THEN 8 ELSE 4 END AS INTEGER) AS tid_len,
           CAST(167772160 + i AS BIGINT) AS tunnel_v4
    FROM range(90) t(i)
"""

@q("s1_mrt_pmsi_tunnel", _PMSI_ORACLE)
def s1_mrt_pmsi_tunnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 attr parity — PMSI tunnel attribute (attr 22, RFC 6514 §5)
    decoded from fixture-encoded MVPN type-1 I-PMSI A-D routes: flags
    (Leaf-Info-Required), tunnel type, the 20-bit MPLS label out of the
    3-octet field, and the opaque tunnel identifier bytes."""
    import os
    import tempfile

    from bgpexplorer_spark.sources.mrt import (
        assign_sessions,
        encode_mvpn_nlri,
        encode_update,
        mrt_peers,
        read_mrt,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = 1704300000
    recs = b""
    for i in range(90):
        ep = (0x0A000000 + i).to_bytes(4, "big")
        tid = ep + bytes([232, 1, 0, i % 200]) if i % 3 == 1 else ep
        recs += encode_update(
            ts_sec=base + i, peer_as=65000, peer_ip=0x0AFF0001,
            origin=0, aspath=[(2, [65000, 300])],
            pmsi=(i % 2, (6, 3, 2)[i % 3], 16 + i % 50, tid),
            mp_reach=(1, 5, b"\x0a\x00\x00\x01", encode_mvpn_nlri(
                1, (300 + i % 7, 1), originator=0x0A000000 + i)),
        )
    path = os.path.join(tempfile.gettempdir(), "bgpx_mrt_pmsi_fixture.mrt")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(recs)
    os.replace(tmp, path)

    upd, _ = assign_sessions(read_mrt(spark, path), mrt_peers(spark, path))
    p = F.col("pmsi_ta")
    return upd.filter(F.col("rib") == "mvpn").select(
        (F.col("ts").cast("long") - F.lit(base)).alias("i"),
        p.getField("flags").alias("flags"),
        p.getField("tunnel_type").alias("tunnel_type"),
        p.getField("label").alias("label"),
        F.length(p.getField("tunnel_id")).alias("tid_len"),
        F.conv(F.hex(F.expr("substring(pmsi_ta.tunnel_id, 1, 4)")), 16, 10)
        .cast("long").alias("tunnel_v4"),
    )

# Session stability from wire-decoded FSM transitions: the per-4 pattern
# 1→3, 3→5, 5→6 (reach Established), 6→1 (lose it) gives every peer real
# up/down structure; peers are i % 6 so the per-peer tallies are a
# closed-form GROUP BY over the range table.
_SESSION_STAB_ORACLE = """
    WITH tr AS (
        SELECT '10.255.1.' || CAST(i % 6 AS VARCHAR) AS peer_addr,
               CAST(64900 + i % 6 AS BIGINT) AS peer_as,
               (1704067000 + i) * 1000 AS ts_ms,
               CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 5
                    ELSE 6 END AS old_state,
               CASE i % 4 WHEN 0 THEN 3 WHEN 1 THEN 5 WHEN 2 THEN 6
                    ELSE 1 END AS new_state
        FROM range(240) t(i)
    )
    SELECT peer_addr, peer_as,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(CASE WHEN new_state = 6 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_established,
           CAST(sum(CASE WHEN old_state = 6 AND new_state <> 6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lost,
           CAST(max_by(new_state, ts_ms) AS INTEGER) AS last_state,
           min(ts_ms) AS first_ts_ms, max(ts_ms) AS last_ts_ms
    FROM tr GROUP BY 1, 2
"""

@q("an_session_stability", _SESSION_STAB_ORACLE)
def an_session_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-health rollup (operators/analytics.session_stability) over
    REAL wire-decoded BGP4MP_STATE_CHANGE records: Established
    reached/lost counts, argmax last state, observation span — one
    map-side-combinable aggregate per peer."""
    import os
    import tempfile

    from bgpexplorer_spark.operators.analytics import session_stability
    from bgpexplorer_spark.sources.mrt import (
        encode_state_change,
        read_mrt_state_changes,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    old_states = [1, 3, 5, 6]
    new_states = [3, 5, 6, 1]
    stream = b"".join(
        encode_state_change(
            1704067000 + i, 64900 + i % 6, 0x0AFF0100 + i % 6,
            old_states[i % 4], new_states[i % 4],
        )
        for i in range(240)
    )
    path = os.path.join(tempfile.gettempdir(), "bgpx_mrt_stab.mrt")
    tmp = path + ".part"
    with open(tmp, "wb") as f:
        f.write(stream)
    os.replace(tmp, path)

    out = session_stability(read_mrt_state_changes(spark, path))
    return out.select(
        "peer_addr", "peer_as", "n_transitions", "n_established", "n_lost",
        "last_state",
        ts_to_millis_col(F.col("first_ts")).alias("first_ts_ms"),
        ts_to_millis_col(F.col("last_ts")).alias("last_ts_ms"),
    )

@q(
    "an_aggregatable",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist2
    ),
    state AS (SELECT * FROM latest WHERE rn = 1 AND active),
    o AS (SELECT DISTINCT addr_v4, prefixlen, origin_as FROM state
          WHERE prefixlen > 0),
    sib AS (
        SELECT prefixlen, origin_as,
               CAST(addr_v4 - (addr_v4 %
                    CAST(pow(2, 33 - prefixlen) AS BIGINT)) AS BIGINT)
                   AS parent,
               addr_v4
        FROM o
    )
    SELECT CAST(floor(parent / 16777216) % 256 AS BIGINT) || '.' ||
           CAST(floor(parent / 65536) % 256 AS BIGINT) || '.' ||
           CAST(floor(parent / 256) % 256 AS BIGINT) || '.' ||
           CAST(parent % 256 AS BIGINT) || '/' ||
           CAST(prefixlen - 1 AS VARCHAR) AS agg_nlri,
           CAST(prefixlen - 1 AS INTEGER) AS agg_plen,
           origin_as
    FROM sib
    GROUP BY parent, prefixlen, origin_as
    HAVING count(DISTINCT addr_v4) = 2
    """,
)
def an_aggregatable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIDR-Report-style aggregation potential
    (operators/analytics.aggregatable_prefixes): same-origin sibling
    prefix pairs whose parent would cover both — each is one redundant
    announcement. Distinct + one hash aggregate, no join."""
    from bgpexplorer_spark.operators.analytics import aggregatable_prefixes
    from bgpexplorer_spark.operators.rib import current_state

    hist = _origins_history(spark, sf_dir)
    return aggregatable_prefixes(current_state(hist))

# AS-path loop detection over derived paths: every 11th event carries a
# true loop (a1, 999, a1), every 4th-but-not-11th consecutive prepending
# (a1, 300, 300 — NOT a loop), the rest are clean.
@q(
    "an_aspath_loops",
    f"""
    WITH p AS (
        SELECT event_id,
               'r' || CAST(event_id AS VARCHAR) AS nlri_str,
               CASE
                 WHEN event_id % 11 = 0 THEN
                   [100 + event_id % 8, 999, 100 + event_id % 8]
                 WHEN event_id % 4 = 0 THEN
                   [100 + event_id % 8, 300, 300]
                 ELSE [100 + event_id % 8, 200 + event_id % 3]
               END AS flat
        FROM events
    ),
    c AS (
        SELECT nlri_str, flat,
               [flat[i] for i in range(1, len(flat) + 1)
                if i = 1 OR flat[i] <> flat[i - 1]] AS comp
        FROM p
    )
    SELECT nlri_str,
           array_to_string(comp, ',') AS compressed_path,
           array_to_string([a for a in list_distinct(comp)
                            if len(list_filter(comp, x -> x = a)) > 1],
                           ',') AS looped_asns
    FROM c
    WHERE len(comp) <> len(list_distinct(comp))
    """,
)
def an_aspath_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-adjacent ASN repeats (operators/analytics.aspath_loops):
    run-compress the path, flag duplicates — prepending stays clean,
    poisoned/leaked paths surface. Map-only, zero shuffles. Array
    outputs are comma-joined at this contract boundary (the driver
    gate's canonicalizer only sorts scalar columns); the operator
    itself keeps its typed ARRAY<BIGINT> API."""
    from bgpexplorer_spark.operators.analytics import aspath_loops

    ev = load_table(spark, sf_dir, "events")
    a1 = (F.lit(100) + F.col("event_id") % 8).cast("long")
    flat = (
        F.when(F.col("event_id") % 11 == 0,
               F.array(a1, F.lit(999).cast("long"), a1))
        .when(F.col("event_id") % 4 == 0,
              F.array(a1, F.lit(300).cast("long"), F.lit(300).cast("long")))
        .otherwise(F.array(a1, (F.lit(200) + F.col("event_id") % 3).cast("long")))
    )
    df = ev.select(
        F.concat(F.lit("r"), F.col("event_id").cast("string")).alias("nlri_str"),
        flat.alias("aspath_flat"),
    )
    return aspath_loops(df).select(
        "nlri_str",
        F.concat_ws(",", "compressed_path").alias("compressed_path"),
        F.concat_ws(",", "looped_asns").alias("looped_asns"),
    )

@q(
    "st_exact_dedup",
    """
    SELECT DISTINCT 'ipv4u' AS rib,
           'p' || CAST(event_id % 500 AS VARCHAR) AS nlri_str,
           CAST(user_id % 4 AS INT) AS session_id,
           CAST(0 AS BIGINT) AS path_id, ts
    FROM events
    """,
)
def st_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming re-delivery dedup (streaming/feed.live_exact_dedup) in
    its batch-equivalent mode: the input is every key-row delivered
    TWICE (a BMP session replay), the operator keeps one. The streaming
    variant bounds state by the watermark horizon via
    dropDuplicatesWithinWatermark (e2e test in test_streaming.py); the
    semantics verified here are the same keep-one-per-key."""
    from bgpexplorer_spark.streaming.feed import live_exact_dedup

    ev = load_table(spark, sf_dir, "events")
    upd = ev.select(
        "ts",
        F.lit("ipv4u").alias("rib"),
        F.concat(F.lit("p"), (F.col("event_id") % 500).cast("string"))
        .alias("nlri_str"),
        (F.col("user_id") % 4).cast("int").alias("session_id"),
        F.lit(0).cast("bigint").alias("path_id"),
    )
    doubled = upd.unionAll(upd)
    return live_exact_dedup(doubled).select(
        "rib", "nlri_str", "session_id", "path_id", "ts"
    )

@q(
    "an_as_hegemony",
    """
    WITH p AS (
        SELECT CASE WHEN event_id % 11 = 0 THEN
                   [100 + event_id % 8, 999, 100 + event_id % 8]
                 WHEN event_id % 4 = 0 THEN
                   [100 + event_id % 8, 300, 300]
                 ELSE [100 + event_id % 8, 200 + event_id % 3]
               END AS flat
        FROM events
    ), c AS (
        SELECT [flat[i] for i in range(1, len(flat) + 1)
                if i = 1 OR flat[i] <> flat[i - 1]] AS comp
        FROM p
    ), t AS (
        SELECT unnest(list_distinct(comp[1:len(comp) - 1])) AS asn FROM c
    )
    SELECT asn, CAST(count(*) AS BIGINT) AS n_routes,
           round(count(*) / (SELECT count(*) FROM p), 6) AS hegemony
    FROM t GROUP BY asn
    """,
)
def an_as_hegemony(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-AS transit footprint (operators/analytics.as_hegemony) over
    derived paths: prepends collapse, loops count once, the origin hop
    is excluded. Explode + hash-aggregate + broadcast total."""
    from bgpexplorer_spark.operators.analytics import as_hegemony

    ev = load_table(spark, sf_dir, "events")
    a1 = (F.lit(100) + F.col("event_id") % 8).cast("long")
    flat = (
        F.when(F.col("event_id") % 11 == 0,
               F.array(a1, F.lit(999).cast("long"), a1))
        .when(F.col("event_id") % 4 == 0,
              F.array(a1, F.lit(300).cast("long"), F.lit(300).cast("long")))
        .otherwise(F.array(a1, (F.lit(200) + F.col("event_id") % 3).cast("long")))
    )
    return as_hegemony(ev.select(flat.alias("aspath_flat")))

@q(
    "an_prefix_visibility",
    """
    WITH s AS (
        SELECT 'ipv4u' AS rib,
               'p' || CAST(event_id % 50 AS VARCHAR) AS nlri_str,
               CAST(user_id % 4 AS INT) AS session_id
        FROM events
    ), per AS (
        SELECT rib, nlri_str,
               CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions
        FROM s GROUP BY rib, nlri_str
    ), tot AS (
        SELECT rib, count(DISTINCT session_id) AS t FROM s GROUP BY rib
    )
    SELECT per.rib, nlri_str, n_sessions,
           round(n_sessions / t, 6) AS visibility
    FROM per JOIN tot ON per.rib = tot.rib
    """,
)
def an_prefix_visibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-prefix session visibility (operators/analytics.
    prefix_visibility): distinct sessions carrying each prefix as a
    fraction of the rib's sessions. One aggregate + broadcast totals."""
    from bgpexplorer_spark.operators.analytics import prefix_visibility

    ev = load_table(spark, sf_dir, "events")
    state = ev.select(
        F.lit("ipv4u").alias("rib"),
        F.concat(F.lit("p"), (F.col("event_id") % 50).cast("string"))
        .alias("nlri_str"),
        (F.col("user_id") % 4).cast("int").alias("session_id"),
    )
    return prefix_visibility(state)


@q(
    "st_moas_alerts",
    """
    WITH upd AS (
        SELECT ts, 'ipv4u' AS rib,
               'p' || CAST(event_id % 10 AS VARCHAR) AS nlri_str,
               CAST(200 + event_id % 3 AS BIGINT) AS origin_as
        FROM events WHERE event_id % 7 <> 0
    ),
    w AS (
        SELECT time_bucket(INTERVAL 1 DAY, ts) AS win_start,
               rib, nlri_str,
               string_agg(DISTINCT CAST(origin_as AS VARCHAR), ','
                          ORDER BY CAST(origin_as AS VARCHAR)) AS origins_str,
               count(DISTINCT origin_as) AS n_origins,
               count(*) AS n_updates
        FROM upd GROUP BY 1, 2, 3
    )
    SELECT * FROM w WHERE n_origins >= 2
    """,
)
def st_moas_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live MOAS/hijack alerting (streaming/feed.live_moas_alerts) in
    its batch-equivalent mode: per daily window, prefixes announced
    from ≥ 2 distinct origin ASes. The streaming variant adds only the
    watermark (e2e in test_streaming.py); the windowed aggregation
    verified here is the same plan."""
    from bgpexplorer_spark.streaming.feed import live_moas_alerts

    ev = load_table(spark, sf_dir, "events")
    upd = ev.filter(F.col("event_id") % 7 != 0).select(
        "ts",
        F.lit("ipv4u").alias("rib"),
        F.concat(F.lit("p"), (F.col("event_id") % 10).cast("string"))
        .alias("nlri_str"),
        F.lit("update").alias("op"),
        F.array(
            F.struct(
                F.lit("Seq").alias("kind"),
                F.array(
                    (F.lit(100) + F.col("user_id") % 8).cast("long"),
                    (F.lit(200) + F.col("event_id") % 3).cast("long"),
                ).alias("asns"),
            )
        ).alias("aspath"),
    )
    out = live_moas_alerts(upd, window="1 day")
    return out.select(
        "win_start", "rib", "nlri_str",
        F.array_join(F.col("origins").cast("array<string>"), ",")
        .alias("origins_str"),
        F.col("n_origins").cast("long").alias("n_origins"),
        "n_updates",
    )


@q(
    "an_as_degree_summary",
    f"""
    WITH {_AS_REL_CTES},
    sides AS (
        SELECT as_low AS asn,
               CASE WHEN rel = 'c2p' THEN 1 ELSE 0 END AS p,
               CASE WHEN rel = 'p2c' THEN 1 ELSE 0 END AS c,
               CASE WHEN rel = 'p2p' THEN 1 ELSE 0 END AS e
        FROM rels
        UNION ALL
        SELECT as_high,
               CASE WHEN rel = 'p2c' THEN 1 ELSE 0 END,
               CASE WHEN rel = 'c2p' THEN 1 ELSE 0 END,
               CASE WHEN rel = 'p2p' THEN 1 ELSE 0 END
        FROM rels
    )
    SELECT asn, CAST(sum(p) AS BIGINT) AS n_providers,
           CAST(sum(c) AS BIGINT) AS n_customers,
           CAST(sum(e) AS BIGINT) AS n_peers,
           CASE WHEN sum(c) > 0 THEN 'transit' ELSE 'stub' END AS role
    FROM sides GROUP BY asn
    """,
)
def an_as_degree_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-AS provider/customer/peer counts + stub/transit role
    (operators/analytics.as_degree_summary) over the inferred graph."""
    from bgpexplorer_spark.operators.analytics import (
        as_degree_summary,
        as_relationships,
    )

    return as_degree_summary(as_relationships(_as_rel_routes(spark, sf_dir)))


@q(
    "an_route_age",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    counted AS (
        SELECT *,
               row_number() OVER (PARTITION BY nlri_str, session_id
                                  ORDER BY ts DESC) AS rn,
               count(*) OVER (PARTITION BY nlri_str, session_id) AS n,
               min(ts) OVER (PARTITION BY nlri_str, session_id) AS first_ts
        FROM hist2 WHERE ts <= make_timestamp({_ASOF_MS} * 1000)
    )
    SELECT nlri_str, session_id,
           epoch_ms(ts) AS last_change_ms,
           epoch_ms(first_ts) AS first_seen_ms,
           CAST(floor({_ASOF_MS} / 1000.0 - epoch(ts)) AS BIGINT) AS age_sec,
           CAST(n AS BIGINT) AS n_events
    FROM counted WHERE rn = 1 AND active
    """,
)
def an_route_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route stability (operators/analytics.route_age_report): per
    active route at the as-of instant, its last-change time, first-seen
    time, age, and per-key event count."""
    from bgpexplorer_spark.operators.analytics import route_age_report

    hist = _origins_history(spark, sf_dir)
    out = route_age_report(hist, _ASOF_MS)
    return out.select(
        "nlri_str", "session_id",
        ts_to_millis_col(F.col("last_change_ts")).alias("last_change_ms"),
        ts_to_millis_col(F.col("first_seen_ts")).alias("first_seen_ms"),
        "age_sec", "n_events",
    )

@q(
    "an_update_burstiness",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    pb AS (
        SELECT session_id,
               CAST(floor(epoch(ts) / 60) AS BIGINT) AS b,
               count(*) AS c
        FROM hist2 GROUP BY 1, 2
    )
    SELECT session_id, CAST(sum(c) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(c) AS BIGINT) AS max_bucket,
           round(max(c) / (sum(c) / count(*)), 4) AS burst_ratio
    FROM pb GROUP BY session_id
    """,
)
def an_update_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session burstiness (operators/analytics.update_burstiness):
    total events, active minute-buckets, busiest bucket, burst ratio."""
    from bgpexplorer_spark.operators.analytics import update_burstiness

    return update_burstiness(_origins_history(spark, sf_dir), bucket_sec=60)

@q(
    "an_peer_agreement",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist2
    ),
    state AS (SELECT DISTINCT session_id, nlri_str FROM latest
              WHERE rn = 1 AND active),
    sizes AS (SELECT session_id, count(*) AS n FROM state GROUP BY 1),
    shared AS (
        SELECT a.session_id AS session_a, b.session_id AS session_b,
               count(*) AS n_shared
        FROM state a JOIN state b
             ON a.nlri_str = b.nlri_str AND a.session_id < b.session_id
        GROUP BY 1, 2
    )
    SELECT session_a, session_b, CAST(n_shared AS BIGINT) AS n_shared,
           round(n_shared / (na.n + nb.n - n_shared), 4) AS jaccard
    FROM shared
    JOIN sizes na ON na.session_id = session_a
    JOIN sizes nb ON nb.session_id = session_b
    """,
)
def an_peer_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise session agreement (operators/analytics.peer_agreement):
    Jaccard overlap of active prefix sets, joined on shared prefixes."""
    from bgpexplorer_spark.operators.analytics import peer_agreement
    from bgpexplorer_spark.operators.rib import current_state

    st = current_state(_origins_history(spark, sf_dir))
    return peer_agreement(st)


@q(
    "an_top_communities",
    f"""
    WITH {_DERIVED_HIST_CTES},
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist
    ),
    state AS (SELECT * FROM latest WHERE rn = 1 AND active),
    ex AS (
        SELECT CAST(65536 * (600 + session_id % 4)
                    + floor(addr_v4 / 65536) % 50 AS BIGINT) AS comm
        FROM state
    )
    SELECT comm,
           CAST(floor(comm / 65536) AS BIGINT) || ':' ||
           CAST(comm % 65536 AS BIGINT) AS comm_str,
           count(*) AS n_routes
    FROM ex GROUP BY comm
    ORDER BY n_routes DESC, comm LIMIT 20
    """,
)
def an_top_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community inventory (operators/analytics.top_communities): the
    most-attached community values with asn:value display forms."""
    from bgpexplorer_spark.operators.analytics import top_communities
    from bgpexplorer_spark.operators.rib import current_state

    hist = _derived_updates_history(spark, sf_dir)
    st = current_state(hist).withColumn(
        "comms",
        F.array(
            (
                F.lit(65536) * (F.lit(600) + F.col("session_id") % 4)
                + F.floor(F.col("addr_v4") / 65536) % 50
            ).cast("long")
        ),
    )
    return top_communities(st, k=20)

@q(
    "an_prefixlen_distribution",
    f"""
    WITH {_DERIVED_HIST_CTES},
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist
    ),
    state AS (SELECT * FROM latest WHERE rn = 1 AND active),
    per AS (
        SELECT prefixlen, count(*) AS n_routes,
               count(DISTINCT nlri_str) AS n_prefixes
        FROM state GROUP BY prefixlen
    ),
    tot AS (SELECT sum(n_routes) AS t FROM per)
    SELECT 'ipv4u' AS rib, prefixlen, n_routes,
           CAST(n_prefixes AS BIGINT) AS n_prefixes,
           round(n_routes / t, 4) AS share
    FROM per, tot
    """,
)
def an_prefixlen_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-length table (operators/analytics
    .prefix_length_distribution): routes/prefixes/share per length."""
    from bgpexplorer_spark.operators.analytics import (
        prefix_length_distribution,
    )
    from bgpexplorer_spark.operators.rib import current_state

    st = current_state(_derived_updates_history(spark, sf_dir))
    return prefix_length_distribution(st)


@q(
    "st_rpki_rates",
    f"""
    WITH r AS (
        SELECT ts, addr_v4, prefixlen,
               CAST(200 + event_id % 3 AS BIGINT) AS origin_as,
               CAST(floor(addr_v4 / 65536) AS BIGINT) % 256 AS u
        FROM ({_DERIVED_ROUTES_SQL})
    ),
    cls AS (
        SELECT time_bucket(INTERVAL 1 DAY, ts) AS win_start,
               CASE
                   WHEN u % 4 = 3 THEN 'NotFound'
                   WHEN (prefixlen <= 24 AND origin_as = 200 + u % 3)
                     OR (u % 2 = 0 AND prefixlen >= 20
                         AND CAST(floor(addr_v4 / 4096) AS BIGINT) % 16 = 0
                         AND prefixlen <= 28 AND origin_as = 200 + u % 2)
                       THEN 'Valid'
                   ELSE 'Invalid'
               END AS validity
        FROM r
    )
    SELECT win_start,
           CAST(sum(CASE WHEN validity = 'Valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           CAST(sum(CASE WHEN validity = 'Invalid' THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
           CAST(sum(CASE WHEN validity = 'NotFound' THEN 1 ELSE 0 END) AS BIGINT) AS n_notfound,
           count(*) AS n_total
    FROM cls GROUP BY win_start
    """,
)
def st_rpki_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live RPKI validity mix (streaming/feed.live_rpki_rates) in its
    batch-equivalent mode over daily windows: join-only verdicts (one
    broadcast left join per ROA length, exists over the ROA lists), one
    windowed count — the only stateful operator a stream would run."""
    from bgpexplorer_spark.streaming.feed import live_rpki_rates

    routes = derived_routes(spark, sf_dir)
    upd = routes.select(
        "ts", "addr_v4", "prefixlen",
        F.lit("update").alias("op"),
        F.array(
            F.struct(
                F.lit("Seq").alias("kind"),
                F.array(
                    F.lit(100).cast("long"),
                    (F.lit(200) + F.col("event_id") % 3).cast("long"),
                ).alias("asns"),
            )
        ).alias("aspath"),
    )
    u = spark.range(64).select(F.col("id").alias("u"))
    base = (F.lit(10 * 16777216) + F.col("u") * 65536).cast("bigint")
    roa16 = u.filter(F.col("u") % 4 != 3).select(
        base.alias("net"), F.lit(16).alias("plen"),
        F.lit(24).alias("max_len"),
        (F.lit(200) + F.col("u") % 3).cast("bigint").alias("asn"),
    )
    roa20 = u.filter(F.col("u") % 2 == 0).select(
        base.alias("net"), F.lit(20).alias("plen"),
        F.lit(28).alias("max_len"),
        (F.lit(200) + F.col("u") % 2).cast("bigint").alias("asn"),
    )
    roas = roa16.unionByName(roa20)
    return live_rpki_rates(upd, roas, roa_plens=[16, 20], window="1 day")


@q(
    "an_route_leaks",
    f"""
    WITH {_AS_REL_CTES},
    typed AS (
        SELECT e.path, e.pos, e.a, e.b,
               CASE WHEN r.rel = 'p2p' THEN 'peer'
                    WHEN (r.rel = 'c2p' AND e.a < e.b)
                      OR (r.rel = 'p2c' AND e.a > e.b) THEN 'up'
                    ELSE 'down' END AS dir
        FROM edges e
        JOIN rels r ON least(e.a, e.b) = r.as_low
                   AND greatest(e.a, e.b) = r.as_high
        WHERE len(e.path) >= 3
    ),
    spans AS (
        SELECT path,
               min(CASE WHEN dir IN ('down', 'peer') THEN pos END) AS dp,
               max(CASE WHEN dir IN ('up', 'peer') THEN pos END) AS upmax
        FROM typed GROUP BY path
    ),
    leaks AS (SELECT * FROM spans WHERE dp < upmax)
    SELECT array_to_string(t.path, ' ') AS path_str,
           CAST(arg_min(t.a, t.pos) AS BIGINT) AS leaker_asn,
           CAST(min(t.pos) AS INTEGER) AS leak_pos
    FROM typed t JOIN leaks l ON t.path = l.path
    WHERE t.dir IN ('up', 'peer') AND t.pos > l.dp
    GROUP BY t.path
    """,
)
def an_route_leaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 7908 route-leak candidates (operators/analytics.route_leaks):
    valley-free violations under the inferred relationship graph — an
    up/peer edge after the path has already gone down/peer — with the
    re-exporting AS named."""
    from bgpexplorer_spark.operators.analytics import (
        as_relationships,
        route_leaks,
    )

    routes = _as_rel_routes(spark, sf_dir)
    return route_leaks(routes, as_relationships(routes))


@q(
    "an_origin_footprint",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist2
    ),
    state AS (SELECT * FROM latest WHERE rn = 1 AND active),
    pfx AS (SELECT DISTINCT origin_as, addr_v4, prefixlen FROM state)
    SELECT origin_as, count(*) AS n_prefixes,
           CAST(sum(CAST(pow(2, 32 - prefixlen) AS BIGINT)) AS BIGINT)
               AS n_addresses
    FROM pfx GROUP BY origin_as
    ORDER BY n_addresses DESC, origin_as LIMIT 50
    """,
)
def an_origin_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-origin announced address-space footprint
    (operators/analytics.origin_footprint): distinct prefixes + summed
    address span, the hijack-magnitude axis."""
    from bgpexplorer_spark.operators.analytics import origin_footprint
    from bgpexplorer_spark.operators.rib import current_state

    return origin_footprint(current_state(_origins_history(spark, sf_dir)))


# v6 martian fixture: event_id % 8 picks the RFC 6890 block (7 = clean
# global space, filtered out); the address embeds user/event offset
# bytes so each block holds many distinct addresses. Both engines build
# the same 32-hex-char string; Spark additionally round-trips it
# through real BINARY(16) and the byte-range classifier.
_V6_MARTIAN_ORACLE = """
    WITH p AS (
        SELECT event_id,
               lpad(upper(hex(user_id % 256)), 2, '0') AS b,
               lpad(upper(hex(event_id % 256)), 2, '0') AS c,
               event_id % 8 AS cat
        FROM events
    ),
    built AS (
        SELECT event_id,
               CASE cat
                   WHEN 0 THEN repeat('00', 15) ||
                        CASE WHEN event_id % 2 = 1 THEN '01' ELSE '00' END
                   WHEN 1 THEN repeat('00', 10) || 'FFFF' || b || c || b || c
                   WHEN 2 THEN '0100000000000000' || b || c || repeat('00', 6)
                   WHEN 3 THEN '20010DB8' || b || c || repeat('00', 10)
                   WHEN 4 THEN CASE WHEN event_id % 2 = 1 THEN 'FD' ELSE 'FC' END
                        || b || c || repeat('00', 13)
                   WHEN 5 THEN 'FE' ||
                        lpad(upper(hex(128 + event_id % 64)), 2, '0')
                        || b || repeat('00', 13)
                   WHEN 6 THEN 'FF' || b || c || repeat('00', 13)
               END AS addr_hex,
               CASE cat
                   WHEN 0 THEN 'unspecified-loopback'
                   WHEN 1 THEN 'ipv4-mapped'
                   WHEN 2 THEN 'discard-only'
                   WHEN 3 THEN 'doc-2001db8'
                   WHEN 4 THEN 'ula'
                   WHEN 5 THEN 'link-local'
                   WHEN 6 THEN 'multicast'
               END AS martian
        FROM p WHERE cat <> 7
    )
    SELECT event_id, addr_hex, martian FROM built
"""

@q("an_martian_v6", _V6_MARTIAN_ORACLE)
def an_martian_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv6 special-purpose detection (operators/analytics
    .martian_prefixes_v6, RFC 6890): addresses constructed inside each
    block classify back to it through the BINARY(16) range CASE; the
    clean-global category never flags."""
    from bgpexplorer_spark.operators.analytics import martian_prefixes_v6

    ev = load_table(spark, sf_dir, "events")
    # materialize the shared hex pieces behind a collapse barrier so the
    # 8-branch constructor references plain columns — inlined, the
    # lpad/hex subtrees replicate into every branch and the classifier's
    # 14 range comparisons, and the generated method passes 64 KB
    ev = ev.select(
        "event_id",
        F.lpad(F.hex(F.col("user_id") % 256), 2, "0").alias("_b"),
        F.lpad(F.hex(F.col("event_id") % 256), 2, "0").alias("_c"),
    ).repartition(8)
    b, c = F.col("_b"), F.col("_c")
    cat = F.col("event_id") % 8
    hexs = (
        F.when(cat == 0, F.concat(
            F.lit("00" * 15),
            F.when(F.col("event_id") % 2 == 1, "01").otherwise("00")))
        .when(cat == 1, F.concat(F.lit("00" * 10 + "FFFF"), b, c, b, c))
        .when(cat == 2, F.concat(F.lit("0100000000000000"), b, c, F.lit("00" * 6)))
        .when(cat == 3, F.concat(F.lit("20010DB8"), b, c, F.lit("00" * 10)))
        .when(cat == 4, F.concat(
            F.when(F.col("event_id") % 2 == 1, "FD").otherwise("FC"),
            b, c, F.lit("00" * 13)))
        .when(cat == 5, F.concat(
            F.lit("FE"), F.lpad(F.hex(F.lit(128) + F.col("event_id") % 64), 2, "0"),
            b, F.lit("00" * 13)))
        .when(cat == 6, F.concat(F.lit("FF"), b, c, F.lit("00" * 13)))
        .otherwise(F.concat(F.lit("2A00"), b, c, F.lit("00" * 12)))  # clean
    )
    # localCheckpoint: the classifier's null-filter would otherwise push
    # through any exchange back into this 8-branch constructor and the
    # combined stage overflows 64 KB codegen (fixture-only concern — the
    # operator itself compiles fine over real route columns)
    routes = ev.select("event_id", F.unhex(hexs).alias("addr_v6")).localCheckpoint()
    out = martian_prefixes_v6(routes)
    return out.select(
        "event_id", F.upper(F.hex("addr_v6")).alias("addr_hex"), "martian"
    )


@q(
    "an_upstream_diversity",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist2
    ),
    state AS (SELECT * FROM latest WHERE rn = 1 AND active)
    SELECT origin_as,
           count(DISTINCT as1_raw) AS n_upstreams,
           count(DISTINCT nlri_str) AS n_prefixes,
           count(DISTINCT as1_raw) = 1 AS single_homed
    FROM state GROUP BY origin_as
    """,
)
def an_upstream_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-origin upstream diversity (operators/analytics.
    upstream_diversity): distinct penultimate-hop ASes per origin over
    the active state — the single/multi-homed resilience report."""
    from bgpexplorer_spark.operators.analytics import upstream_diversity
    from bgpexplorer_spark.operators.rib import current_state

    hist = _origins_history(spark, sf_dir)
    return upstream_diversity(current_state(hist))


@q(
    "an_deaggregation",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist2
    ),
    state AS (SELECT * FROM latest WHERE rn = 1 AND active),
    pfx AS (SELECT DISTINCT origin_as, addr_v4, prefixlen FROM state),
    covered AS (
        SELECT DISTINCT c.origin_as, c.addr_v4, c.prefixlen
        FROM pfx c JOIN pfx s
          ON s.origin_as = c.origin_as
         AND s.prefixlen < c.prefixlen
         AND c.addr_v4 - (c.addr_v4 % CAST(power(2, 32 - s.prefixlen) AS BIGINT))
             = s.addr_v4
    ),
    totals AS (SELECT origin_as, count(*) AS n_prefixes FROM pfx GROUP BY 1),
    cov AS (SELECT origin_as, count(*) AS n_covered FROM covered GROUP BY 1)
    SELECT t.origin_as, t.n_prefixes,
           coalesce(c.n_covered, 0) AS n_covered,
           round(coalesce(c.n_covered, 0) / t.n_prefixes, 4) AS deagg_ratio
    FROM totals t LEFT JOIN cov c USING (origin_as)
    """,
)
def an_deaggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-origin deaggregation report (operators/analytics.
    deaggregation): announced prefixes covered by a same-origin shorter
    mask — table-bloat measurement; the cover test is truncation
    equi-joins per distinct mask length, never a range join."""
    from bgpexplorer_spark.operators.analytics import deaggregation
    from bgpexplorer_spark.operators.rib import current_state

    hist = _origins_history(spark, sf_dir)
    return deaggregation(current_state(hist))


@q(
    "an_subprefix_hijack",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY nlri_str, session_id
                                     ORDER BY ts DESC) AS rn
        FROM hist2
    ),
    state AS (SELECT * FROM latest WHERE rn = 1 AND active),
    o AS (SELECT DISTINCT addr_v4, prefixlen, origin_as FROM state),
    plens AS (SELECT DISTINCT prefixlen AS cp FROM o),
    truncs AS (
        SELECT o.addr_v4, o.prefixlen, o.origin_as,
               CAST(floor(o.addr_v4 / power(2, 32 - cp)) * power(2, 32 - cp)
                    AS BIGINT) AS cover_addr,
               cp AS cover_plen
        FROM o, plens WHERE cp < o.prefixlen
    ),
    cand AS (
        SELECT t.addr_v4, t.prefixlen, t.origin_as, t.cover_plen,
               c.origin_as AS cover_origin
        FROM truncs t
        JOIN o c ON c.addr_v4 = t.cover_addr AND c.prefixlen = t.cover_plen
    ),
    best AS (
        SELECT addr_v4, prefixlen, origin_as, max(cover_plen) AS cover_plen
        FROM cand GROUP BY 1, 2, 3
    ),
    onbest AS (
        SELECT DISTINCT b.addr_v4, b.prefixlen, b.origin_as, b.cover_plen,
               c.cover_origin
        FROM best b
        JOIN cand c USING (addr_v4, prefixlen, origin_as, cover_plen)
    )
    SELECT addr_v4, prefixlen, origin_as, cover_plen,
           string_agg(CAST(cover_origin AS VARCHAR), ',' ORDER BY cover_origin)
               AS cover_origins_str,
           count(*) AS n_cover_origins
    FROM onbest GROUP BY 1, 2, 3, 4
    HAVING max(CASE WHEN cover_origin = origin_as THEN 1 ELSE 0 END) = 0
    """,
)
def an_subprefix_hijack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-prefix hijack candidates (operators/analytics.subprefix_hijacks):
    announced more-specifics whose most-specific covering announcement
    carries a different origin AS — the cover/specific complement of
    MOAS, detected with the truncation equi-join (no range join)."""
    from bgpexplorer_spark.operators.analytics import subprefix_hijacks
    from bgpexplorer_spark.operators.rib import current_state

    hist = _origins_history(spark, sf_dir)
    return subprefix_hijacks(current_state(hist))


@q(
    "an_convergence",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    marks AS (
        SELECT nlri_str, session_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 300000000
                    THEN 1 ELSE 0 END AS is_new
        FROM hist2
        WINDOW w AS (PARTITION BY nlri_str ORDER BY ts, session_id)
    ),
    b AS (
        SELECT nlri_str, session_id, ts,
               CAST(sum(is_new) OVER (PARTITION BY nlri_str
                        ORDER BY ts, session_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS burst_id
        FROM marks
    )
    SELECT nlri_str, burst_id, count(*) AS n_events,
           count(DISTINCT session_id) AS n_sessions,
           min(ts) AS burst_start,
           CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000.0)
                AS BIGINT) AS duration_ms
    FROM b GROUP BY 1, 2
    """,
)
def an_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence bursts (operators/analytics.convergence_report):
    gap-sessionized update bursts per prefix with event counts, session
    fan-out, and burst duration — the classic convergence-time metric."""
    from bgpexplorer_spark.operators.analytics import convergence_report

    hist = _origins_history(spark, sf_dir)
    return convergence_report(hist, gap_sec=300)


@q(
    "an_path_inflation",
    f"""
    WITH r AS (
        SELECT CAST(floor(addr_v4 / 16777216) % 256 AS BIGINT) || '.' ||
               CAST(floor(addr_v4 / 65536) % 256 AS BIGINT) || '.' ||
               CAST(floor(addr_v4 / 256) % 256 AS BIGINT) || '.' ||
               CAST(addr_v4 % 256 AS BIGINT) || '/' ||
               CAST(prefixlen AS VARCHAR) AS nlri_str,
               2 + CASE WHEN event_id % 3 > 0 THEN 1 ELSE 0 END AS len
        FROM ({_DERIVED_ROUTES_SQL})
    ),
    w AS (SELECT nlri_str, len,
                 min(len) OVER (PARTITION BY nlri_str) AS mn
          FROM r)
    SELECT nlri_str,
           CAST(min(len) AS INTEGER) AS min_len,
           CAST(max(len) AS INTEGER) AS max_len,
           count(*) AS n_routes,
           CAST(sum(CASE WHEN len > mn THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inflated
    FROM w GROUP BY nlri_str
    """,
)
def an_path_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-path inflation (operators/analytics.path_inflation): per-prefix
    collapsed-path-length spread vs the shortest observed — derived
    paths [100+u%8, (150+e%5)×(e%3), 200+e%3] collapse to length
    2 + (e%3 > 0), giving real per-prefix variation."""
    from bgpexplorer_spark.functions.iputil import v4_to_dotted
    from bgpexplorer_spark.operators.analytics import path_inflation

    routes = derived_routes(spark, sf_dir)
    path = F.concat(
        F.array((F.lit(100) + F.col("user_id") % 8).cast("long")),
        F.array_repeat(
            (F.lit(150) + F.col("event_id") % 5).cast("long"),
            (F.col("event_id") % 3).cast("int"),
        ),
        F.array((F.lit(200) + F.col("event_id") % 3).cast("long")),
    )
    st = routes.select(
        F.concat_ws(
            "/", v4_to_dotted(F.col("addr_v4")), F.col("prefixlen").cast("string")
        ).alias("nlri_str"),
        path.alias("aspath_flat"),
    )
    return path_inflation(st)


# Shared v6 derivation (the o5 v6 word arithmetic): announced prefixes
# as (canonical word, plen 48..64, origin 200+e%3), plus the per-plen
# truncation CTE both v6 analytics oracles reduce over.
_V6_PREFIX_CTES = """o AS (
        SELECT DISTINCT
               CAST(floor(w / power(2, 64 - plen)) AS BIGINT)
                 * CAST(power(2, 64 - plen) AS BIGINT) AS w_c,
               plen, origin
        FROM (SELECT (user_id % 64) * 65536 + (event_id % 256) * 256 AS w,
                     48 + (event_id % 5) * 4 AS plen,
                     200 + event_id % 3 AS origin
              FROM events)
    ),
    plens AS (SELECT DISTINCT plen AS cp FROM o),
    truncs AS (
        SELECT o.w_c, o.plen, o.origin,
               CAST(floor(w_c / power(2, 64 - cp)) AS BIGINT)
                 * CAST(power(2, 64 - cp) AS BIGINT) AS cw,
               cp
        FROM o, plens WHERE cp < o.plen
    )"""


def _v6_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _V6_PREFIX_CTES's base table: a state-shaped
    frame (addr_v6 BINARY(16), prefixlen, aspath_flat) over 2001:db8
    space with the variable 32-bit word in bytes 4-7."""
    ev = load_table(spark, sf_dir, "events")
    plen = (F.lit(48) + (F.col("event_id") % 5) * 4).cast("int")
    val = ((F.col("user_id") % 64) * 65536 + (F.col("event_id") % 256) * 256).cast(
        "bigint"
    )
    span = F.pow(F.lit(2.0), (F.lit(64) - plen)).cast("bigint")
    val_c = F.floor(val / span).cast("bigint") * span
    addr = F.unhex(
        F.concat(F.lit("20010DB8"), F.lpad(F.hex(val_c), 8, "0"), F.lit("0" * 16))
    )
    return ev.select(
        addr.alias("addr_v6"),
        plen.alias("prefixlen"),
        F.array(
            (F.lit(100) + F.col("user_id") % 8).cast("long"),
            (F.lit(200) + F.col("event_id") % 3).cast("long"),
        ).alias("aspath_flat"),
    )


@q(
    "an_subprefix_hijack_v6",
    f"""
    WITH {_V6_PREFIX_CTES},
    cand AS (
        SELECT t.w_c, t.plen, t.origin, t.cp AS cover_plen,
               c.origin AS cover_origin
        FROM truncs t JOIN o c ON c.w_c = t.cw AND c.plen = t.cp
    ),
    best AS (
        SELECT w_c, plen, origin, max(cover_plen) AS cover_plen
        FROM cand GROUP BY 1, 2, 3
    ),
    onbest AS (
        SELECT DISTINCT b.w_c, b.plen, b.origin, b.cover_plen, c.cover_origin
        FROM best b JOIN cand c USING (w_c, plen, origin, cover_plen)
    )
    SELECT '20010DB8' || upper(lpad(hex(w_c), 8, '0')) || '0000000000000000'
               AS addr_hex,
           CAST(plen AS INTEGER) AS prefixlen,
           origin AS origin_as,
           CAST(cover_plen AS INTEGER) AS cover_plen,
           string_agg(CAST(cover_origin AS VARCHAR), ',' ORDER BY cover_origin)
               AS cover_origins_str,
           count(*) AS n_cover_origins
    FROM onbest GROUP BY 1, 2, 3, 4
    HAVING max(CASE WHEN cover_origin = origin THEN 1 ELSE 0 END) = 0
    """,
)
def an_subprefix_hijack_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv6 sub-prefix hijack candidates
    (operators/analytics.subprefix_hijacks_v6): the same
    most-specific-cover origin test over BINARY(16) addresses — 2001:db8
    space with the variable 32-bit word in bytes 4-7 (the o5 v6
    derivation), plens 48..64, origins 200 + e%3."""
    from bgpexplorer_spark.operators.analytics import subprefix_hijacks_v6

    out = subprefix_hijacks_v6(_v6_state(spark, sf_dir))
    return out.select(
        F.upper(F.hex(F.col("addr_v6"))).alias("addr_hex"),
        "prefixlen", "origin_as", "cover_plen",
        "cover_origins_str", "n_cover_origins",
    )


@q(
    "an_deaggregation_v6",
    f"""
    WITH {_V6_PREFIX_CTES},
    covered AS (
        SELECT DISTINCT t.origin, t.w_c, t.plen
        FROM truncs t
        JOIN o c ON c.origin = t.origin AND c.w_c = t.cw AND c.plen = t.cp
    ),
    totals AS (SELECT origin, count(*) AS n_prefixes FROM o GROUP BY 1),
    cov AS (SELECT origin, count(*) AS n_covered FROM covered GROUP BY 1)
    SELECT t.origin AS origin_as, t.n_prefixes,
           coalesce(c.n_covered, 0) AS n_covered,
           round(coalesce(c.n_covered, 0) / t.n_prefixes, 4) AS deagg_ratio
    FROM totals t LEFT JOIN cov c USING (origin)
    """,
)
def an_deaggregation_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv6 deaggregation report (operators/analytics.deaggregation_v6):
    same-origin covered-prefix counting over BINARY(16) — the o5 v6
    derivation (2001:db8 word in bytes 4-7, plens 48..64, origins
    200 + e%3)."""
    from bgpexplorer_spark.operators.analytics import deaggregation_v6

    return deaggregation_v6(_v6_state(spark, sf_dir))


@q(
    "an_route_uptime",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    b AS (SELECT max(epoch_us(ts)) AS end_us FROM hist2),
    iv AS (
        SELECT nlri_str, session_id, ts, active,
               CAST(floor((coalesce(
                   lead(epoch_us(ts)) OVER (PARTITION BY nlri_str, session_id
                                            ORDER BY ts),
                   (SELECT end_us FROM b)) - epoch_us(ts)) / 1000.0)
                    AS BIGINT) AS dur
        FROM hist2
    ),
    agg AS (
        SELECT nlri_str, session_id,
               min(ts) AS first_seen,
               count(*) AS n_events,
               CAST(sum(CASE WHEN active THEN dur ELSE 0 END) AS BIGINT)
                   AS uptime_ms,
               CAST(sum(dur) AS BIGINT) AS observed_ms
        FROM iv GROUP BY 1, 2
    )
    SELECT nlri_str, session_id, first_seen, n_events, uptime_ms,
           observed_ms,
           CASE WHEN observed_ms > 0
                THEN round(CAST(uptime_ms AS DOUBLE) / observed_ms, 4)
           END AS uptime_fraction
    FROM agg
    """,
)
def an_route_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route availability (operators/analytics.route_uptime): interval
    algebra over the per-key history — announced-time fraction of each
    route's observed lifetime, window end = newest event."""
    from bgpexplorer_spark.operators.analytics import route_uptime

    hist = _origins_history(spark, sf_dir)
    out = route_uptime(hist)
    return out.select(
        "nlri_str", "session_id", "first_seen", "n_events",
        "uptime_ms", "observed_ms", "uptime_fraction",
    )


@q(
    "an_top_flappers",
    f"""
    WITH {_ORIGIN_HIST_CTES},
    flips AS (
        SELECT nlri_str,
               CASE WHEN lag(active) OVER w IS NOT NULL
                         AND lag(active) OVER w <> active
                    THEN 1 ELSE 0 END AS flip
        FROM hist2
        WINDOW w AS (PARTITION BY nlri_str, session_id ORDER BY ts)
    )
    SELECT nlri_str, count(*) AS n_events,
           CAST(sum(flip) AS BIGINT) AS n_flips
    FROM flips GROUP BY nlri_str
    ORDER BY n_flips DESC, n_events DESC, nlri_str LIMIT 20
    """,
)
def an_top_flappers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k noisiest prefixes (operators/analytics.top_flappers):
    per-key announce<->withdraw flip counts, TakeOrdered top-20 — the
    operator dashboard the churn counters feed."""
    from bgpexplorer_spark.operators.analytics import top_flappers

    hist = _origins_history(spark, sf_dir)
    return top_flappers(hist, k=20).select("nlri_str", "n_events", "n_flips")


@q(
    "st_heavy_hitters",
    """
    WITH upd AS (
        SELECT ts, 'ipv4u' AS rib,
               'p' || CAST(CASE WHEN event_id % 5 = 0 THEN 0
                                ELSE event_id % 23 END AS VARCHAR) AS nlri_str
        FROM events
    ),
    c AS (
        SELECT time_bucket(INTERVAL 1 DAY, ts) AS win_start, rib, nlri_str,
               count(*) AS n_updates
        FROM upd GROUP BY 1, 2, 3
    ),
    r AS (
        SELECT *,
               sum(n_updates) OVER (PARTITION BY win_start) AS tot,
               row_number() OVER (PARTITION BY win_start
                                  ORDER BY n_updates DESC, rib, nlri_str)
                   AS rank
        FROM c
    )
    SELECT win_start, rib, nlri_str, n_updates,
           round(n_updates / tot, 4) AS share, rank
    FROM r WHERE rank <= 5 AND round(n_updates / tot, 4) >= 0.04
    """,
)
def st_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy-hitter alerting (streaming/feed.live_key_counts +
    heavy_hitters): per event-time daily window, the top-5 keys by
    update count that also hold ≥ 4% of the window's updates — the
    prefix-flap / deaggregation-storm alarm. The counts half is the
    streaming-safe incremental aggregation (watermark-bounded state);
    the rank finisher runs on closed windows. Every 5th event floods
    key p0 so a real hitter exists in every window."""
    from bgpexplorer_spark.streaming.feed import heavy_hitters, live_key_counts

    ev = load_table(spark, sf_dir, "events")
    upd = ev.select(
        "ts",
        F.lit("ipv4u").alias("rib"),
        F.concat(
            F.lit("p"),
            F.when(F.col("event_id") % 5 == 0, F.lit(0))
            .otherwise(F.col("event_id") % 23)
            .cast("string"),
        ).alias("nlri_str"),
    )
    counts = live_key_counts(upd, window="1 day")
    return heavy_hitters(counts, k=5, min_share=0.04).select(
        "win_start", "rib", "nlri_str", "n_updates", "share",
        F.col("rank").cast("long").alias("rank"),
    )


@q(
    "an_roa_delta",
    f"""
    WITH r AS (
        SELECT event_id, addr_v4, prefixlen,
               CAST(200 + event_id % 3 AS BIGINT) AS origin_as,
               CAST(floor(addr_v4 / 65536) AS BIGINT) % 256 AS u
        FROM ({_DERIVED_ROUTES_SQL})
    ),
    v AS (
        SELECT event_id, addr_v4, prefixlen, origin_as,
               -- current set: /16 ROAs (max_len 24, asn 200+u%3) on 3/4 of
               -- the space + /20s (max_len 28, asn 200+u%2) on even /16s
               CASE
                   WHEN u % 4 = 3 THEN 'NotFound'
                   WHEN (prefixlen <= 24 AND origin_as = 200 + u % 3)
                     OR (u % 2 = 0 AND prefixlen >= 20
                         AND CAST(floor(addr_v4 / 4096) AS BIGINT) % 16 = 0
                         AND prefixlen <= 28 AND origin_as = 200 + u % 2)
                       THEN 'Valid'
                   ELSE 'Invalid'
               END AS validity_before,
               -- proposed set: the /20s are withdrawn and the /16s move
               -- to asn 200+(u+1)%3 (an origin migration)
               CASE
                   WHEN u % 4 = 3 THEN 'NotFound'
                   WHEN prefixlen <= 24 AND origin_as = 200 + (u + 1) % 3
                       THEN 'Valid'
                   ELSE 'Invalid'
               END AS validity_after
        FROM r
    )
    SELECT event_id, addr_v4, prefixlen, origin_as,
           validity_before, validity_after
    FROM v WHERE validity_before <> validity_after
    """,
)
def an_roa_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROA change-impact report (operators/analytics.roa_delta): the
    an_rpki_validate fixture ROAs as the CURRENT set; the PROPOSED set
    withdraws the /20s and migrates the /16s to asn 200+(u+1)%3 —
    routes whose RFC 6811 verdict changes, both closed forms in the
    oracle. Two chained narrow-key validations, no extra join."""
    from bgpexplorer_spark.operators.analytics import roa_delta

    routes = derived_routes(spark, sf_dir).select(
        "event_id", "addr_v4", "prefixlen",
        (F.lit(200) + F.col("event_id") % 3).cast("bigint").alias("origin_as"),
    )
    uu = spark.range(64).select(F.col("id").alias("u"))
    base = (F.lit(10 * 16777216) + F.col("u") * 65536).cast("bigint")
    roa16 = uu.filter(F.col("u") % 4 != 3).select(
        base.alias("net"), F.lit(16).alias("plen"), F.lit(24).alias("max_len"),
        (F.lit(200) + F.col("u") % 3).cast("bigint").alias("asn"),
    )
    roa20 = uu.filter(F.col("u") % 2 == 0).select(
        base.alias("net"), F.lit(20).alias("plen"), F.lit(28).alias("max_len"),
        (F.lit(200) + F.col("u") % 2).cast("bigint").alias("asn"),
    )
    before = roa16.unionByName(roa20)
    after = uu.filter(F.col("u") % 4 != 3).select(
        base.alias("net"), F.lit(16).alias("plen"), F.lit(24).alias("max_len"),
        (F.lit(200) + (F.col("u") + 1) % 3).cast("bigint").alias("asn"),
    )
    return roa_delta(
        routes, before, after,
        roa_plens_before=[16, 20], roa_plens_after=[16],
    ).select(
        "event_id", "addr_v4", "prefixlen", "origin_as",
        "validity_before", "validity_after",
    )


@q(
    "an_roa_delta_v6",
    """
    WITH r AS (
        SELECT event_id,
               48 + (event_id % 5) * 4 AS plen,
               (user_id % 64) * 65536 + (event_id % 256) * 256 AS w,
               user_id % 64 AS u,
               CAST(200 + event_id % 3 AS BIGINT) AS origin_as
        FROM events
    ),
    v AS (
        SELECT event_id,
               '20010DB8' || upper(lpad(hex(w), 8, '0')) || '0000000000000000'
                   AS addr_hex,
               plen AS prefixlen, origin_as,
               -- current set: /48s (max 56, asn 200+u%3) on u%4<>3 plus
               -- /52s (max 60, asn 200+u%2) on the first /52 of even /48s
               CASE
                   WHEN NOT (u % 4 <> 3)
                        AND NOT (u % 2 = 0 AND w % 65536 < 4096 AND plen >= 52)
                       THEN 'NotFound'
                   WHEN (u % 4 <> 3 AND plen <= 56 AND origin_as = 200 + u % 3)
                     OR (u % 2 = 0 AND w % 65536 < 4096 AND plen >= 52
                         AND plen <= 60 AND origin_as = 200 + u % 2)
                       THEN 'Valid'
                   ELSE 'Invalid'
               END AS validity_before,
               -- proposed: /52s withdrawn, /48s migrate to asn 200+(u+1)%3
               CASE
                   WHEN u % 4 = 3 THEN 'NotFound'
                   WHEN plen <= 56 AND origin_as = 200 + (u + 1) % 3
                       THEN 'Valid'
                   ELSE 'Invalid'
               END AS validity_after
        FROM r
    )
    SELECT event_id, addr_hex, prefixlen, origin_as,
           validity_before, validity_after
    FROM v WHERE validity_before <> validity_after
    """,
)
def an_roa_delta_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv6 ROA change impact (analytics.roa_delta, v6=True) over real
    BINARY(16) keys: the an_rpki_validate_v6 fixture ROAs as the current
    set; the proposed set withdraws the /52s and migrates the /48s to
    asn 200+(u+1)%3. Both closed forms in the oracle; same chained
    narrow-key shape as the v4 delta."""
    from bgpexplorer_spark.operators.analytics import roa_delta

    ev = load_table(spark, sf_dir, "events")
    plen = (F.lit(48) + (F.col("event_id") % 5) * 4).cast("int")
    w = ((F.col("user_id") % 64) * 65536 + (F.col("event_id") % 256) * 256).cast(
        "bigint"
    )
    to_bin = lambda word: F.unhex(  # noqa: E731
        F.concat(F.lit("20010DB8"), F.lpad(F.hex(word), 8, "0"), F.lit("0" * 16))
    )
    routes = ev.select(
        "event_id",
        to_bin(w).alias("addr_v6"),
        plen.alias("prefixlen"),
        (F.lit(200) + F.col("event_id") % 3).cast("bigint").alias("origin_as"),
    )
    uu = spark.range(64).select(F.col("id").alias("u"))
    w48 = (F.col("u") * 65536).cast("bigint")
    roa48 = uu.filter(F.col("u") % 4 != 3).select(
        to_bin(w48).alias("net"), F.lit(48).alias("plen"),
        F.lit(56).alias("max_len"),
        (F.lit(200) + F.col("u") % 3).cast("bigint").alias("asn"),
    )
    roa52 = uu.filter(F.col("u") % 2 == 0).select(
        to_bin(w48).alias("net"), F.lit(52).alias("plen"),
        F.lit(60).alias("max_len"),
        (F.lit(200) + F.col("u") % 2).cast("bigint").alias("asn"),
    )
    before = roa48.unionByName(roa52)
    after = uu.filter(F.col("u") % 4 != 3).select(
        to_bin(w48).alias("net"), F.lit(48).alias("plen"),
        F.lit(56).alias("max_len"),
        (F.lit(200) + (F.col("u") + 1) % 3).cast("bigint").alias("asn"),
    )
    return roa_delta(
        routes, before, after, v6=True,
        roa_plens_before=[48, 52], roa_plens_after=[48],
    ).select(
        "event_id",
        F.upper(F.hex("addr_v6")).alias("addr_hex"),
        "prefixlen", "origin_as", "validity_before", "validity_after",
    )


_ASOF_SERVED_CACHE: dict[str, str] = {}


def _served_history_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the wire-derived history ONCE per sf_dir as a real
    partitioned snapshot (operators/rib.write_snapshot layout: rib +
    ts_date partitions, sorted, bloom-filtered) under a content-keyed
    temp dir. In production the DAEMON maintains this table continuously
    (refreshed per ingest micro-batch) — building it here is the serving
    precondition, not part of the measured query; the cache key folds in
    the source table's mtime/size so a regenerated testdata slice
    invalidates it."""
    import hashlib
    import os
    import tempfile

    key = os.path.abspath(sf_dir)
    cached = _ASOF_SERVED_CACHE.get(key)
    if cached and os.path.exists(os.path.join(cached, "_SUCCESS")):
        return cached
    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    tag = hashlib.md5(
        f"{key}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"bgpexplorer_asof_snap_{tag}")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        from bgpexplorer_spark.operators.rib import write_snapshot

        write_snapshot(_origins_history(spark, sf_dir), d)
    _ASOF_SERVED_CACHE[key] = d
    return d


@q("o9_rib_asof_served", _O9_ASOF_ORACLE)
def o9_rib_asof_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVED as-of path (api.BgpExplorerService._history_for_asof →
    analytics.rib_asof): time travel against the daemon's MATERIALIZED
    history table instead of re-deriving it from the wire per request.
    The query pays only a ts_date-partition-pruned parquet scan + the
    map-side-combinable max_by — timeutil.asof_prune turns the cutoff
    into a real partition filter because the table still carries its
    ts_date column. Identical semantics (and oracle) to o9_rib_asof;
    only the physical source differs, which is the point: the batch
    bound there is the derivation CTE, not the as-of operator."""
    from bgpexplorer_spark.operators.analytics import origin_as, rib_asof

    hist = spark.read.parquet(_served_history_dir(spark, sf_dir))
    st = rib_asof(hist, _ASOF_MS)
    return st.select(
        "nlri_str",
        "session_id",
        ts_to_millis_col(F.col("ts")).alias("ts_ms"),
        "addr_v4",
        "prefixlen",
        origin_as(F.col("aspath_flat")).alias("origin_as"),
    )
