"""Every contract query against its DuckDB oracle, at sf0.01.

Each ``contract.all_queries()`` entry runs on the session Spark and its
``all_oracles()`` SQL runs in DuckDB over the same parquet; both results
go through Arrow and must agree on column names, row count and a
type-tagged, order-insensitive hash of every row. Comparing through
Arrow on BOTH sides catches *typed* value mismatches (e.g. DuckDB
HUGEINT -> decimal128 vs Spark BIGINT -> int64) that a
string-normalizing comparator masks — ``sessionize_events``' first hash
failure was exactly this class.

sf0.01, not sf0.001: at sf0.001 ``an_rib_diff`` and ``f5_aspath_subseq``
return 0 rows on both sides and would compare nothing.

One case per query, id = query name:
``pytest tests/test_contract_oracles.py -k o5_lpm_join``.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pyarrow as pa
import pytest

from bgpexplorer_spark.contract import all_oracles, all_queries

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "events")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")


def type_tag(t: pa.DataType) -> str:
    """Canonical per-column type tag included in the hash. Integer widths
    and signedness are collapsed per *kind* but decimal/float/int stay
    distinct — a HUGEINT oracle column (decimal128) tags differently from
    a Spark BIGINT (int), which is the divergence class we must catch."""
    if pa.types.is_integer(t):
        return "i"
    if pa.types.is_floating(t):
        return "f"
    if pa.types.is_decimal(t):
        return "dec"
    if pa.types.is_boolean(t):
        return "b"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "s"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t) or pa.types.is_fixed_size_binary(t):
        return "bin"
    if pa.types.is_timestamp(t):
        return "t"
    if pa.types.is_date(t):
        return "d"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{type_tag(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct{" + ",".join(f"{f.name}:{type_tag(f.type)}" for f in t) + "}"
    if pa.types.is_map(t):
        return f"map<{type_tag(t.key_type)},{type_tag(t.item_type)}>"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "isoformat"):
        try:
            return v.isoformat(sep=" ")
        except TypeError:  # datetime.date takes no sep
            return v.isoformat()
    return str(v)


def hash_arrow(tbl: pa.Table):
    cols = tbl.column_names
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    tags = [f"{cols[i]}:{type_tag(tbl.schema.field(i).type)}" for i in order]
    pycols = [tbl.column(i).to_pylist() for i in order]
    lines = sorted(
        "|".join(norm_cell(pycols[j][r]) for j in range(len(order)))
        for r in range(tbl.num_rows)
    )
    payload = "SCHEMA:" + ";".join(tags) + "\n" + "\n".join(lines)
    return hashlib.md5(payload.encode()).hexdigest(), lines, tags


def spark_to_arrow(sdf) -> pa.Table:
    tbl = sdf.toArrow()
    # Spark exports timestamps tz-aware (session tz); DuckDB naive. The
    # comparison is of values, not tz plumbing — normalize to naive UTC.
    new_cols, new_fields = [], []
    for i, f in enumerate(tbl.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            c = tbl.column(i).cast(pa.timestamp(f.type.unit, tz="UTC")).cast(
                pa.timestamp(f.type.unit)
            )
            new_cols.append(c)
            new_fields.append(pa.field(f.name, pa.timestamp(f.type.unit)))
        else:
            new_cols.append(tbl.column(i))
            new_fields.append(f)
    return pa.Table.from_arrays(new_cols, schema=pa.schema(new_fields))


def compare(stbl: pa.Table, otbl: pa.Table) -> str | None:
    """None when the Spark and oracle tables agree; otherwise the
    mismatch report: status line, differing type tags, and up to three
    rows found only on each side."""
    ok_cols = sorted(stbl.column_names) == sorted(otbl.column_names)
    ok_count = stbl.num_rows == otbl.num_rows
    sh, slines, stags = hash_arrow(stbl)
    oh, olines, otags = hash_arrow(otbl)
    ok_hash = sh == oh
    if ok_cols and ok_count and ok_hash:
        return None
    out = [
        f"MISMATCH rows={stbl.num_rows}/{otbl.num_rows} "
        f"cols={'OK' if ok_cols else (stbl.column_names, otbl.column_names)} "
        f"hash={'OK' if ok_hash else 'DIFF'}"
    ]
    if stags != otags:
        out.append(f"   spark types: {stags}")
        out.append(f"   duck  types: {otags}")
    sset, oset = set(slines), set(olines)
    for x in sorted(sset - oset)[:3]:
        out.append(f"   spark-only: {x[:160]}")
    for x in sorted(oset - sset)[:3]:
        out.append(f"   duck-only:  {x[:160]}")
    return "\n".join(out)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module", autouse=True)
def _clear_spark_cache(spark):
    # contract queries may cache or checkpoint intermediate frames; later
    # test modules must not see them
    yield
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", list(all_queries()))
def test_query_matches_oracle(spark, duck, name):
    stbl = spark_to_arrow(all_queries()[name](spark, SF_DIR))
    otbl = duck.execute(all_oracles()[name]).fetch_arrow_table()
    diff = compare(stbl, otbl)
    assert diff is None, f"{name}: {diff}"
    # an empty answer on both sides would pass while comparing nothing
    assert stbl.num_rows > 0, f"{name}: empty on both sides at {SF_DIR}"
