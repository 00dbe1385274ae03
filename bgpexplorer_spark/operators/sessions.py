"""Dense session ids (SURVEY.md §1.1; reference BgpSessionStorage,
src/bgpsvc.rs:135-162).

The reference hands out small-int session ids from an insertion-order
counter. Here :func:`dense_ids` numbers a tiny distinct dimension in a
fixed column order; ``sources/mrt.assign_sessions`` uses it to turn an
archive's distinct peers into ``session_id`` values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def dense_ids(df: DataFrame, order_cols: list[str], id_col: str = "session_id") -> DataFrame:
    """Dense 0..n-1 ids over a TINY distinct frame in lexicographic
    ``order_cols`` order, without an unpartitioned window (which moves
    all data to one partition and warns): one aggregate collects the dim
    into a sorted struct array and posexplode's position is the id. The
    aggregate is map-side partial, and the single final row is bounded
    by the same "dimension fits on one executor" constraint the
    downstream broadcast join already imposes."""
    s = F.sort_array(F.collect_list(F.struct(*[F.col(c) for c in order_cols])))
    return (
        df.agg(s.alias("_sorted"))
        .select(F.posexplode("_sorted").alias("_id", "_s"))
        .select(F.col("_id").cast("int").alias(id_col), "_s.*")
    )

