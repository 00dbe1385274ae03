"""Mimic the driver's t2 gate locally: run every queries() entry in Spark
AND its oracle_sql() in DuckDB on the same parquet, compare row count +
column names + order-insensitive value multiset.

The comparison goes through Arrow on BOTH sides so that *typed* value
mismatches (e.g. DuckDB HUGEINT -> decimal128 vs Spark BIGINT -> int64)
are caught here the same way the driver catches them — round 1's only
hash failure (sessionize_events) was exactly this class, masked by a
string-normalizing comparator.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bgpexplorer_spark.session import get_spark  # noqa: E402


def engine_digest() -> str:
    """Digest of the ENGINE STATE a selfcheck certificate was produced
    from: every ``bgpexplorer_spark/**/*.py`` plus ``__spark_entry__.py``
    plus ``tools/plan_fingerprints.json``, keyed by repo-relative path.
    Printed in the log header and re-computed by
    tests/test_selfcheck_log.py — an operator rewrite landing AFTER the
    log refresh fails the suite until the log is regenerated (round 8
    shipped a 185/185 log produced 6 minutes before a bench-set operator
    rewrite; the query-set gate couldn't see it)."""
    root = Path(__file__).resolve().parents[1]
    files = sorted(
        [*(root / "bgpexplorer_spark").rglob("*.py"), root / "__spark_entry__.py"]
    )
    fp = root / "tools" / "plan_fingerprints.json"
    if fp.exists():
        files.append(fp)
    h = hashlib.md5()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


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
    # driver compares values, not tz plumbing — normalize to naive UTC.
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


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entrymod", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    # header FIRST so a full-run log carries the engine state it
    # certifies (the log-staleness test recomputes and compares)
    print(f"ENGINE-DIGEST: {engine_digest()}")
    spark = get_spark("selfcheck", cpus=8)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "events"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, osql = m.queries(), m.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name silently checking nothing would read as a pass —
        # fail loudly instead
        print(f"UNKNOWN QUERY NAMES: {sorted(unknown)}", file=sys.stderr)
        sys.exit(2)
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            stbl = spark_to_arrow(sdf)
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            fails.append(name)
            continue
        try:
            otbl = con.execute(osql[name]).fetch_arrow_table()
        except Exception as e:
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:200]}")
            fails.append(name)
            continue
        ok_cols = sorted(stbl.column_names) == sorted(otbl.column_names)
        ok_count = stbl.num_rows == otbl.num_rows
        sh, slines, stags = hash_arrow(stbl)
        oh, olines, otags = hash_arrow(otbl)
        ok_hash = sh == oh
        status = "OK" if (ok_cols and ok_count and ok_hash) else "MISMATCH"
        print(
            f"{name}: {status} rows={stbl.num_rows}/{otbl.num_rows} "
            f"cols={'OK' if ok_cols else (stbl.column_names, otbl.column_names)} "
            f"hash={'OK' if ok_hash else 'DIFF'}"
        )
        if status != "OK":
            fails.append(name)
            if stags != otags:
                print(f"   spark types: {stags}")
                print(f"   duck  types: {otags}")
            sset, oset = set(slines), set(olines)
            for x in list(sorted(sset - oset))[:3]:
                print(f"   spark-only: {x[:160]}")
            for x in list(sorted(oset - sset))[:3]:
                print(f"   duck-only:  {x[:160]}")
    spark.stop()
    print(f"\n{'ALL OK' if not fails else 'FAILURES: ' + ', '.join(fails)}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
