"""Contract-wide output-shape assertions for the driver correctness gate.

The gate's pandas canonicalizer sorts every output column; any
NON-HASHABLE cell value crashes it (``TypeError: unhashable type`` in
pandas factorize — ``'bytearray'`` in the r6 ``s1_mrt_v6_decode`` red
row, ``'list'`` in the r7 ``an_aspath_loops`` red row). Every query must
therefore emit SCALAR-ONLY top-level columns: hex-wrap binary
(``F.hex(...)`` ⇔ DuckDB ``upper(hex(...))``), comma-join arrays
(``F.concat_ws(',', ...)`` ⇔ ``array_to_string(..., ',')``), and
``to_json`` structs/maps. This test builds every declared query's plan
at sf0.001 and fails if ANY output schema contains a top-level
ArrayType/MapType/StructType/BinaryType column (or a BinaryType nested
anywhere — nested bytes hit the same hashing path through Arrow).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

SF_DIR = "/root/testdata/sf0.001"


def _contains_binary(dt: T.DataType) -> bool:
    if isinstance(dt, T.BinaryType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_binary(dt.elementType)
    if isinstance(dt, T.MapType):
        return _contains_binary(dt.keyType) or _contains_binary(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_contains_binary(f.dataType) for f in dt.fields)
    return False


def _unsortable(dt: T.DataType) -> bool:
    """True when a TOP-LEVEL column of this type yields non-hashable
    pandas cells (list/dict/bytearray) that crash the gate's
    sort-all-columns canonicalizer."""
    return isinstance(
        dt, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
    ) or _contains_binary(dt)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_no_query_emits_unsortable_columns(spark):
    from bgpexplorer_spark.contract import all_queries

    offenders = []
    for name, fn in all_queries().items():
        df = fn(spark, SF_DIR)
        bad = [
            f"{f.name} ({f.dataType.simpleString()})"
            for f in df.schema.fields
            if _unsortable(f.dataType)
        ]
        if bad:
            offenders.append(f"{name}: {', '.join(bad)}")
    assert not offenders, (
        "queries emit non-scalar output columns (the gate canonicalizer "
        "cannot sort lists/dicts/bytearrays — concat_ws arrays, to_json "
        "structs/maps, hex binary): " + "; ".join(offenders)
    )


def test_contract_api_is_declaration_ordered():
    """all_queries()/all_oracles() must NOT depend on repo-root grader
    artifacts (ADVICE r6): stable declaration order only."""
    from bgpexplorer_spark import contract

    assert list(contract.all_queries()) == list(contract.QUERIES)
    assert list(contract.all_oracles()) == [
        n for n in contract.QUERIES if n in contract.ORACLES
    ]
