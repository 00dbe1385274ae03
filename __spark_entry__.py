"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's main read path:
ingest → rib_history → filter-language query) on sf0.001.
``queries()``/``oracle_sql()`` expose the SURVEY.md §2 operator inventory
over the driver tables with DuckDB oracles (see
bgpexplorer_spark/contract.py); tests/test_contract_oracles.py checks
every query against its oracle.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build a RIB from the sf0.001 events stream (deterministic
    update/withdraw derivation), run the reference's main query shape —
    filter language + history windows + pagination (SURVEY §3.1)."""
    from pyspark.sql import functions as F

    from bgpexplorer_spark.contract import derived_routes
    from bgpexplorer_spark.functions.iputil import v4_to_dotted as __dotted
    from bgpexplorer_spark.filterlang.compile import matches
    from bgpexplorer_spark.operators.ingest import build_history
    from bgpexplorer_spark.schemas import UPDATES_SCHEMA

    sf_dir = "/root/testdata/sf0.001"
    routes = derived_routes(spark, sf_dir)
    # shape the derived routes into updates-schema rows: every 7th event a
    # withdraw, aspath from user_id
    upd = routes.select(
        F.col("ts"),
        (F.col("user_id") % 4).cast("int").alias("session_id"),
        F.when(F.col("event_id") % 7 == 0, "withdraw").otherwise("update").alias("op"),
        F.lit(0).cast("bigint").alias("path_id"),
        F.lit("ipv4u").alias("rib"),
        F.concat_ws("/", __dotted(F.col("addr_v4")), F.col("prefixlen").cast("string")).alias("nlri_str"),
        F.lit(None).cast("bigint").alias("rd_hi"),
        F.lit(None).cast("bigint").alias("rd_lo"),
        F.col("addr_v4"),
        F.lit(None).cast("binary").alias("addr_v6"),
        F.col("prefixlen"),
        F.array((F.lit(100) + F.col("user_id") % 8).cast("long"), F.lit(200).cast("long")).alias("_asns"),
    )
    for f in UPDATES_SCHEMA.fields:
        if f.name not in upd.columns and f.name != "aspath":
            upd = upd.withColumn(f.name, F.lit(None).cast(f.dataType))
    upd = upd.withColumn(
        "aspath",
        F.when(
            F.col("op") == "update",
            F.array(F.struct(F.lit("Seq").alias("kind"), F.col("_asns").alias("asns"))),
        ),
    ).drop("_asns")
    hist = build_history(upd.select(*[f.name for f in UPDATES_SCHEMA.fields]), history_mode="differ")
    return hist.filter(matches("10.0.0.0/8 as:100,200", "ipv4u")).select(
        "rib", "nlri_str", "addr_v4", "prefixlen", "session_id", "ts", "active", "aspath_flat"
    )

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from bgpexplorer_spark.contract import all_queries

    return all_queries()

def oracle_sql() -> dict[str, str]:
    from bgpexplorer_spark.contract import all_oracles

    return all_oracles()
