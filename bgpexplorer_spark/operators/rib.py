"""RIB analytic views over ``rib_history`` (SURVEY.md §2.2, §2.5).

The reference's 15 in-RAM tables (src/bgprib.rs:807-821) are one event
table here; each view is a window/aggregate query. All views reuse the
same (rib, nlri, session, path) partitioning so Catalyst can share one
shuffle across current-state + retention + dedup in a single plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bgpexplorer_spark.operators.ingest import attrs_struct
from bgpexplorer_spark.schemas import KEY_COLS

def current_state(history: DataFrame, only_active: bool = True) -> DataFrame:
    """Latest entry per (rib, nlri, session, path) — the "what the RIB
    holds now" view. ``only_active`` drops keys whose newest entry is a
    withdraw tombstone (the reference's map simply still holds the
    tombstone entry; src/bgpattrs.rs:360-374).

    Formulated as a ``max_by`` aggregation, not a row_number window:
    partial aggregation combines map-side and skips the per-partition
    sort, so the shuffle carries one row per key per map task instead of
    the whole table (measured flat sf0.1→sf1 vs the window's 5.6×).
    Same-``ts`` ties are arbitrary in both forms (the window sort was
    unstable too); ingest keys history by event time, so ties only arise
    from duplicate captures.

    Grouping keys: only the key columns not provably constant in the
    input plan (see :func:`ingest.nonconstant_group_keys` — literal keys
    from derived pipelines otherwise force two avoidable full-width
    sorts around the SortAggregate); constant keys ride in the picked
    struct, so output rows are identical."""
    from bgpexplorer_spark.operators.ingest import nonconstant_group_keys

    group = nonconstant_group_keys(history, KEY_COLS)
    others = [c for c in history.columns if c not in group]
    pick = F.max_by(F.struct(*others), F.col("ts")).alias("_r")
    df = history.groupBy(*group).agg(pick).select(
        *group, *[F.col(f"_r.{c}").alias(c) for c in others]
    )
    # restore the input column order (serving layers select by name, but
    # snapshot writers and tests compare schemas positionally)
    df = df.select(*history.columns)
    return df.filter(F.col("active")) if only_active else df

def retained(history: DataFrame, depth: int) -> DataFrame:
    """U4 standalone: newest ``depth`` history entries per key
    (shrink_hist, src/bgprib.rs:326-341)."""
    w = Window.partitionBy(*KEY_COLS).orderBy(F.col("ts").desc())
    return history.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= F.lit(depth)
    ).drop("_rn")

def statistics(history: DataFrame) -> DataFrame:
    """O6 — the /api/statistics aggregate (src/ribservice.rs:168-219):
    per-rib route counts, history-entry counts, update/withdraw counters,
    and the attribute-store distinct counts. The reference's 7 hash-consing
    stores (src/bgprib.rs:800-806) have no runtime analog here; their
    counters are distinct-counts over the event table. ``approx_`` on the
    heavy distincts keeps this a single pass at 100 TB."""
    return history.groupBy("rib").agg(
        F.count_distinct("nlri_str").alias("routes"),
        F.count(F.lit(1)).alias("history_entries"),
        F.sum(F.col("active").cast("bigint")).alias("cnt_updates"),
        F.sum((~F.col("active")).cast("bigint")).alias("cnt_withdraws"),
        F.approx_count_distinct(attrs_struct()).alias("attrs_store"),
        F.approx_count_distinct("aspath_flat").alias("aspath_store"),
        F.approx_count_distinct("comms").alias("comms_store"),
        F.approx_count_distinct("extcomms").alias("extcomms_store"),
        F.approx_count_distinct("lcomms").alias("lcomms_store"),
        F.approx_count_distinct("clusterlist").alias("clusters_store"),
        F.count_distinct("session_id").alias("sessions"),
    )

def write_snapshot(history: DataFrame, path: str) -> None:
    """S4 — the parquet table IS the snapshot (vs CBOR dump+rename,
    src/bgprib.rs:903-948).

    100 TB posture: partition by (rib, ts_date) — the partition columns
    replace the reference's per-SAFI maps and its ``idx_changed`` time
    index (J2) with partition pruning — and sort within partitions by the
    sortable address forms so parquet min/max row-group stats reproduce
    the BTreeMap range scan (src/ribfilter.rs:231-305) as stats-based
    skipping. Point-lookup keys that do NOT correlate with the sort
    order (``nlri_str`` exact match, ``session_id``) get parquet bloom
    filters so a single-route probe skips row groups min/max can't.
    An existing table at ``path`` is overwritten.
    """
    w = (
        history.withColumn("ts_date", F.to_date("ts"))
        .repartition("rib", "ts_date")
        .sortWithinPartitions("addr_v4", "addr_v6", "prefixlen")
        .write.mode("overwrite")
    )
    for c in ("nlri_str", "session_id"):
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    w.partitionBy("rib", "ts_date").parquet(path)

def read_snapshot(spark, path: str) -> DataFrame:
    """S5 — no index rebuild needed (indexes are not materialized)."""
    return spark.read.parquet(path).drop("ts_date")

def attrs_dim(history: DataFrame) -> DataFrame:
    """U6 analog — the reference hash-conses attrs into shared stores
    (RibItemStore, src/bgprib.rs:121-190); columnar storage makes that
    free, but a normalized attrs dimension with a 64-bit surrogate key is
    still useful for exploration/joins: distinct attrs + xxhash64 key."""
    from bgpexplorer_spark.operators.ingest import ATTR_COLS, attrs_struct

    return (
        history.select(F.xxhash64(attrs_struct()).alias("attrs_key"), *ATTR_COLS)
        .dropDuplicates(["attrs_key"])
    )

def compact(spark, path: str, history_depth: int | None = None) -> None:
    """U9 analog — the reference's refcount purge (src/bgprib.rs:875-902)
    has no shared heap to collect here; the maintenance job is table
    compaction: rewrite the snapshot applying retention (and collapsing
    small files). Equivalent to Delta OPTIMIZE+VACUUM without Delta.

    Write-tmp-then-swap, matching the reference's snapshot discipline
    (dump to .tmp then rename, src/bgprib.rs:903-923): an overwrite of the
    *source* path would let a mid-write executor loss recompute lineage
    from a directory being deleted. The swap itself goes through the
    Hadoop FileSystem API, so it works on HDFS/object-store paths too, and
    the previous snapshot survives (as ``.bak``) until the new one is
    fully written."""
    tmp = path + ".tmp"
    df = read_snapshot(spark, path)
    if history_depth is not None:
        df = retained(df, history_depth)
    write_snapshot(df, tmp)  # complete, durable copy — source untouched
    atomic_swap(spark, tmp, path)

def atomic_swap(spark, tmp: str, path: str) -> None:
    """Move a fully-written ``tmp`` directory over ``path`` via the Hadoop
    FileSystem API (works on HDFS/object-store paths): the old data is
    moved aside first and restored if the swap fails, so the live path
    never points at a partial write."""
    bak = path + ".bak"
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path
    fs = jpath(path).getFileSystem(hconf)
    fs.delete(jpath(bak), True)
    if not fs.exists(jpath(path)):  # first write — nothing to move aside
        if not fs.rename(jpath(tmp), jpath(path)):
            raise IOError(f"atomic_swap: cannot move {tmp} into place")
        return
    if not fs.rename(jpath(path), jpath(bak)):
        raise IOError(f"atomic_swap: cannot move {path} aside")
    if not fs.rename(jpath(tmp), jpath(path)):
        # restore the original so the data is never lost
        fs.rename(jpath(bak), jpath(path))
        raise IOError(f"atomic_swap: cannot swap {tmp} into place")
    fs.delete(jpath(bak), True)
