"""Plan-shape assertions — the 100 TB posture is enforced, not hoped for
(SURVEY §4): filters reach the parquet scan, partition pruning fires on
the (rib, ts_date) layout, dims broadcast, no Python UDFs in hot paths."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from bgpexplorer_spark.filterlang.compile import matches
from bgpexplorer_spark.operators.ingest import build_history
from bgpexplorer_spark.operators.rib import write_snapshot

from tests.ribdata import make_updates, u

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()

def test_subnet_filter_pushdown_and_partition_pruning(spark):
    rows = [u(f"10.{i % 20}.0.0/16", t=i * 90000) for i in range(40)]  # spans days
    hist = build_history(make_updates(spark, rows))
    d = tempfile.mkdtemp()
    write_snapshot(hist, d)
    df = spark.read.parquet(d)

    # rib partition pruning
    q = df.filter(F.col("rib") == "ipv4u").filter(matches("10.1.0.0/16", "ipv4u"))
    plan = _plan(q)
    assert "PartitionFilters" in plan and "rib" in plan.split("PartitionFilters")[1][:200]
    # the compiled subnet range predicate reaches the scan as data filters
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "addr_v4" in pushed and "prefixlen" in pushed

    # ts_date pruning for changed-time queries (J2 done right)
    q2 = df.filter(F.col("ts_date") == "2024-01-02")
    p2 = _plan(q2)
    assert "PartitionFilters" in p2 and "ts_date" in p2.split("PartitionFilters")[1][:200]

def test_no_python_udfs_in_query_paths(spark):
    hist = build_history(
        make_updates(spark, [u("10.0.0.0/24", t=1, aspath=[("Seq", [100, 200])])])
    )
    q = hist.filter(
        matches("10.0.0.0/8 as:100,200 community:1:2 rt:1:1 re:IGP nh:1.0.0.0/8", "ipv4u")
    )
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

_SF_DIR = "/root/testdata/sf0.001"

def test_lpm_join_uses_partial_aggregation(spark):
    """lpm_join_v4 keeps the longest prefix via groupBy+max(struct) —
    the plan must show a partial HashAggregate before the exchange, not a
    row_number Window sort."""
    import os

    if not os.path.isdir(_SF_DIR):
        import pytest

        pytest.skip("driver testdata not present")
    from bgpexplorer_spark.contract import QUERIES

    plan = _plan(QUERIES["o5_lpm_join"](spark, _SF_DIR))
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan or "ObjectHashAggregate" in plan

def test_neardup_pipeline_no_cartesian(spark):
    """The composed near-dup path must never plan a cartesian/nested-loop
    product — candidates come from bucket-equi-joins and verification from
    per-candidate equi-joins only."""
    import os

    if not os.path.isdir(_SF_DIR):
        import pytest

        pytest.skip("driver testdata not present")
    from bgpexplorer_spark.operators.dedup import neardup_pairs
    from bgpexplorer_spark.sources.tables import load_table

    docs = load_table(spark, _SF_DIR, "documents")
    plan = _plan(neardup_pairs(docs, "doc_id", n=3, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

def test_page_history_fetch_has_no_join(spark, tmp_path):
    """The §3.1 page-history fetch is keyed on the page's route keys (one
    literal IN predicate pushed to the scan), not joined against the
    page: no join of any kind, and the history is never broadcast — at
    100 TB it can never be a build side. Holds on the daemon's table
    (windowed path) and on its served copy (slot path)."""
    from bgpexplorer_spark.operators.query import (
        QueryParams, query_rib, serving_copy, to_nested_json,
    )

    write_snapshot(
        build_history(make_updates(spark, [u(f"10.0.{i}.0/24", t=i) for i in range(8)])),
        str(tmp_path / "t"),
    )
    table = spark.read.parquet(str(tmp_path / "t")).drop("ts_date")
    for hist in (table, serving_copy(table)):
        r = query_rib(hist, "ipv4u", QueryParams(filter="10.0.0.0/8", limit=3), length=8)
        assert [x.nlri_str for x in r.routes] == [f"10.0.{i}.0/24" for i in range(3)]
        plan = _plan(to_nested_json(r))
        assert "Join" not in plan and "LeftSemi" not in plan
        assert "BroadcastExchange" not in plan
        assert {x.nlri_str for x in to_nested_json(r).collect()} == {
            x.nlri_str for x in r.routes
        }

def test_mrt_decode_no_shuffle_before_parse(spark, tmp_path):
    """MRT decode parallelism is per-FILE: binaryFile scan → mapInPandas,
    with no exchange in between (a shuffle of raw file bytes would be
    pure waste at 100 TB backfill scale)."""
    from bgpexplorer_spark.sources.mrt import encode_update, read_mrt

    p = tmp_path / "one.mrt"
    p.write_bytes(
        encode_update(1704067200, 65000, 0x0AFF0000, nlri=[(0x0A000000, 8)],
                      origin=0, aspath=[(2, [100])], nexthop=1)
    )
    plan = _plan(read_mrt(spark, str(p)))
    before_map = plan.split("MapInPandas")[-1]  # subtree beneath the decode
    assert "Exchange" not in before_map


def test_rib_asof_cutoff_pushes_down_to_scan(spark):
    from bgpexplorer_spark.operators.analytics import rib_asof

    rows = [u(f"10.{i % 20}.0.0/16", t=i * 90000) for i in range(40)]
    hist = build_history(make_updates(spark, rows))
    d = tempfile.mkdtemp()
    write_snapshot(hist, d)
    df = spark.read.parquet(d).drop("ts_date")

    plan = _plan(rib_asof(df, "2024-01-02T00:00:00Z"))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    # the string-literal cutoff coerces to the column type -> pushed scan
    # filter (an explicit cast on ts would read every row group)
    assert "LessThanOrEqual(ts" in pushed

def test_analytics_have_no_python_udfs(spark):
    from bgpexplorer_spark.operators import analytics
    from bgpexplorer_spark.operators.rib import current_state

    rows = [
        u("10.0.0.0/16", t=i, session_id=i % 2, aspath=[("Seq", [100, 200 + i % 3])])
        for i in range(10)
    ]
    hist = build_history(make_updates(spark, rows))
    for df in (
        analytics.rib_asof(hist, "2024-01-01T00:00:05Z"),
        analytics.moas_conflicts(current_state(hist)),
        analytics.prefix_churn(hist),
        analytics.top_flappers(hist),
        analytics.origin_changes(hist),
    ):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

def test_filter_queries_compile_without_codegen_fallback(spark):
    """The compiled 3VL filter trees must stay inside janino's method
    budget: with spark.sql.codegen.fallback=false a whole-stage compile
    failure throws instead of silently degrading to interpreted eval.
    Guards the combinator single-reference discipline in
    filterlang/compile.py (multi/chain/term_to_column) — the composite
    vote keys (mdt/mvpn/evpn) are the trees that previously blew up, and
    f5 is the AS-path subsequence expression that ``as:A,B`` compiles to."""
    from bgpexplorer_spark.contract import all_queries

    qs = all_queries()
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name in (
            "f_mdt_vote", "f_mvpn_vote", "f_evpn_chain", "f_l2_range",
            "f10_negation", "f9_num_polymorphic", "c9_whois_textops",
            "f5_aspath_subseq",
        ):
            assert qs[name](spark, _SF_DIR).count() >= 0, name
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)

def test_rpki_aggregate_key_is_narrow(spark):
    """The RPKI verdict aggregate must exchange on the 3-column
    (addr, plen, origin) key, never on every route column — the verdict
    depends only on the triple, and the wide-key form shuffled the whole
    route row (analytics.py _rpki_validate_impl)."""
    from bgpexplorer_spark.operators.analytics import rpki_validate

    routes = spark.range(100).select(
        (F.col("id") * 256).alias("addr_v4"),
        F.lit(24).alias("prefixlen"),
        (F.col("id") % 7).alias("origin_as"),
        F.col("id").alias("extra_a"),      # payload cols that must NOT
        (F.col("id") * 2).alias("extra_b"),  # enter the aggregate key
    )
    roas = spark.createDataFrame(
        [(0, 8, 24, 1)], "net long, plen int, max_len int, asn long"
    )
    plan = _plan(rpki_validate(routes, roas, roa_plens=[8]))
    import re

    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "extra_a" not in keys and "extra_b" not in keys, keys

def test_rib_diff_single_pass_no_join(spark):
    """rib_diff extracts both instants with conditional argmax aggregates
    in ONE scan: the plan must contain no join and no window."""
    from bgpexplorer_spark.operators.analytics import rib_diff

    hist = build_history(
        make_updates(spark, [u(f"10.0.{i}.0/24", t=i * 100) for i in range(8)])
    )
    plan = _plan(rib_diff(hist, 1704067200000 + 200_000, 1704067200000 + 600_000))
    # build_history itself contributes windows; count ONLY the diff's own
    # operators by planning from a plain parquet-backed history
    import tempfile

    d = tempfile.mkdtemp()
    hist.write.mode("overwrite").parquet(d)
    plain = spark.read.parquet(d)
    p2 = _plan(rib_diff(plain, 1704067200000 + 200_000, 1704067200000 + 600_000))
    assert "SortMergeJoin" not in p2 and "BroadcastHashJoin" not in p2
    assert "WindowExec" not in p2 and "Window" not in p2

def test_ingest_fold_shuffles_once(spark):
    """The daemon's ingest fold (feed.run_ingest → build_history) runs
    every window on the one nlri_str exchange: the withdraw forward fill,
    the differ dedup and the newest-N cut add no second shuffle, and no
    Python eval runs in the fold."""
    upd = make_updates(spark, [
        u(f"10.0.{i % 3}.0/24", t=i, session_id=i % 2,
          op="withdraw" if i % 4 == 3 else "update")
        for i in range(12)
    ])
    for mode in ("every", "differ"):
        for depth in (None, 3):
            plan = _plan(build_history(upd, history_mode=mode, history_depth=depth))
            assert plan.count("Exchange") == 1, (mode, depth, plan)
            assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

def test_current_state_is_partial_max_by(spark, tmp_path):
    """current_state, under every analytics report, picks the newest
    entry per key with a map-side partial max_by: one exchange and no
    window sort."""
    from bgpexplorer_spark.operators.rib import current_state

    build_history(
        make_updates(spark, [u(f"10.0.{i % 3}.0/24", t=i) for i in range(9)])
    ).write.parquet(str(tmp_path / "h"))
    plan = _plan(current_state(spark.read.parquet(str(tmp_path / "h"))))
    assert "Window" not in plan
    assert "partial_max_by" in plan and plan.count("Exchange") == 1, plan

def test_repetition_and_bogon_are_map_side(spark):
    """Per-document quality/bogon operators must not shuffle at all."""
    from bgpexplorer_spark.operators.analytics import bogon_asns, martian_prefixes
    from bgpexplorer_spark.operators.text import repetition_features

    docs = spark.createDataFrame(
        [(1, "a b\nc d"), (2, "x y\nx y")], "doc_id long, text string"
    )
    assert "Exchange" not in _plan(repetition_features(docs))
    routes = spark.createDataFrame(
        [(1, [100, 64512], 10 * 2**24)], "id long, aspath_flat array<bigint>, addr_v4 long"
    )
    assert "Exchange" not in _plan(bogon_asns(routes))
    assert "Exchange" not in _plan(martian_prefixes(routes))


def test_cleaning_rules_are_map_side(spark):
    """C4 line filters, Gopher shape gates, and PII scrub are per-row
    projections — zero shuffles, zero Python eval, one codegen'd scan."""
    from bgpexplorer_spark.operators.text import (
        c4_clean,
        gopher_rules,
        pii_counts,
        pii_scrub,
    )

    docs = spark.createDataFrame(
        [(1, "Nice line here today.\nshort.\n"), (2, "the of and words")],
        "doc_id long, text string",
    )
    for df in (
        c4_clean(docs),
        gopher_rules(docs),
        docs.select(pii_scrub(F.col("text")), pii_counts(F.col("text"))),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_paragraph_dedup_no_sort_all_partial_aggs(spark):
    """paragraph_dedup is one explode + two map-side-combinable
    aggregates (per-hash min-struct winner, per-doc totals) met by a
    doc-sized join: NO Sort anywhere (the old row_number window sorted
    every hash partition), no cartesian, no Python eval, and the winner
    aggregate partially aggregates before its Exchange."""
    from bgpexplorer_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "a b\n\nc d"), (2, "c d\n\ne f")], "doc_id long, text string"
    )
    plan = _plan(paragraph_dedup(docs))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan        # the row_number formulation is gone
    # winner agg keyed on the hash column WITH a map-side partial_min
    # ahead of its Exchange (struct-min sorts per task, but the shuffle
    # carries one candidate per distinct hash, not every paragraph)
    assert "hashpartitioning(_h" in plan
    assert "partial_min" in plan.split("Exchange hashpartitioning(_h")[1]


def test_snapshot_writes_bloom_filters(spark, tmp_path):
    """Point-lookup columns (nlri_str, session_id) carry parquet bloom
    filters in the snapshot — row-group skipping for exact-route probes
    that the addr sort order can't serve — while sort-correlated columns
    don't pay the bloom overhead."""
    hist = build_history(
        make_updates(spark, [u(f"10.{i}.0.0/16", t=i) for i in range(8)])
    )
    d = str(tmp_path / "snap")
    write_snapshot(hist, d)

    import glob

    [f] = glob.glob(d + "/rib=*/ts_date=*/part-*.parquet")[:1]
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(f), conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        cols = reader.getFooter().getBlocks().get(0).getColumns()
        offsets = {
            cols.get(i).getPath().toDotString():
                cols.get(i).getBloomFilterOffset()
            for i in range(cols.size())
        }
    finally:
        reader.close()
    assert offsets["nlri_str"] > 0
    # session_id is fully dictionary-encoded at this size, and parquet-mr
    # skips the bloom when the dictionary already serves as an exact
    # filter — the option only pays off once dict pages overflow at scale
    assert offsets["session_id"] == -1
    assert offsets["addr_v4"] == -1  # sorted column: min/max stats suffice


def test_span_removal_never_carries_token_arrays(spark):
    """remove_duplicate_spans' window explode must carry only
    (id, start, hash) — exploding WITH the token array would be
    O(tokens²) data motion — and the whole plan has no Python eval and
    no cartesian."""
    from bgpexplorer_spark.operators.text import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h x y")],
        "doc_id long, text string",
    )
    plan = _plan(remove_duplicate_spans(docs, k=8))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the Generate (explode) output feeding the hash shuffle projects the
    # window index, not _toks: no exchange should ship an array column
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "_toks" not in m.group(1)


def test_as_relationships_plan_is_graph_sized(spark):
    """as_relationships must reduce to the distinct-path graph before
    any join (the RIB-sized input is touched exactly once by the
    distinct), and the whole plan stays JVM-side with no cartesian."""
    from bgpexplorer_spark.operators.analytics import as_relationships

    df = spark.createDataFrame(
        [(1, [1, 5, 9]), (2, [2, 5, 9])],
        "id long, aspath_flat array<bigint>",
    )
    plan = _plan(as_relationships(df))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # joins run on the deduped path/degree tables, so every join key is
    # either the path array or the asn — never the raw input row id
    assert "id#" not in plan.split("HashAggregate")[0]


def test_route_leaks_plan_is_graph_sized(spark):
    """route_leaks joins edges to rels and back — all graph tables; no
    cartesian, no Python eval anywhere in the plan."""
    from bgpexplorer_spark.operators.analytics import route_leaks

    rels = spark.createDataFrame(
        [(1, 5, "c2p"), (5, 9, "p2c")], "as_low long, as_high long, rel string"
    )
    st = spark.createDataFrame(
        [(1, [1, 5, 9]), (2, [5, 9, 5])], "id long, aspath_flat array<bigint>"
    )
    plan = _plan(route_leaks(st, rels))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_live_rpki_rates_single_stateful_aggregate(spark):
    """The streaming-safe RPKI plan: ONE broadcast join per ROA length,
    the verdict is pure expression work, and the windowed count is the
    only aggregate over the update-stream side — the property that
    makes it legal as a stream."""
    from bgpexplorer_spark.streaming.feed import live_rpki_rates

    upd = spark.createDataFrame(
        [],
        "ts timestamp, addr_v4 long, prefixlen int, op string, "
        "aspath array<struct<kind:string,asns:array<bigint>>>",
    )
    roas = spark.createDataFrame(
        [(10 * 2**24, 16, 24, 100), (10 * 2**24, 20, 28, 100)],
        "net long, plen int, max_len int, asn long",
    )
    out = live_rpki_rates(upd, roas, roa_plens=[16, 20], window="1 hour")
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") == 2  # one per ROA length
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # stream-side aggregation appears once (partial+final pair max);
    # the ROA-list pre-aggregation hangs off the broadcast build side
    stream_side = plan.split("BroadcastExchange")[0]
    assert stream_side.count("HashAggregate") <= 2


def test_origin_footprint_is_takeordered(spark):
    from bgpexplorer_spark.operators.analytics import origin_footprint

    st = spark.createDataFrame(
        [(167772160, 16, [1, 100])],
        "addr_v4 long, prefixlen int, aspath_flat array<bigint>",
    )
    plan = _plan(origin_footprint(st))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nested_json_fetch_has_no_exchange(spark):
    """On the served copy (partitioned by route key, slots precomputed)
    the page-history fetch that to_nested_json collects is map-only:
    ZERO exchanges and no window above the cached copy — the nesting is
    built on the driver, with no per-request groupBy or shuffle."""
    from bgpexplorer_spark.operators.query import (
        QueryParams, query_rib, serving_copy, to_nested_json,
    )

    hist = build_history(make_updates(spark, [
        u(f"10.{i}.0.0/24", t=i, session_id=i % 2,
          aspath=[("Seq", [100, 200 + i % 3])])
        for i in range(8)
    ]))
    served = serving_copy(hist).cache()
    try:
        served.count()
        r = query_rib(served, "ipv4u", QueryParams(limit=10))
        # the cached copy's own build plan prints below InMemoryRelation
        top = _plan(to_nested_json(r)).split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in top
        for bad in ("Exchange", "Window", "Aggregate", "Join"):
            assert bad not in top, (bad, top)
        assert len(to_nested_json(r).collect()) == 8
    finally:
        served.unpersist()


def test_upstream_diversity_plan_no_join(spark):
    """upstream_diversity is one projection + one hash aggregate — no
    joins, no explode, no Python."""
    from bgpexplorer_spark.operators.analytics import upstream_diversity
    from bgpexplorer_spark.operators.rib import current_state

    hist = build_history(make_updates(spark, [
        u("10.0.0.0/24", t=1, aspath=[("Seq", [100, 300])]),
    ]))
    plan = _plan(upstream_diversity(current_state(hist)))
    for bad in ("Join", "Generate", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_deaggregation_plan_no_cartesian(spark):
    """deaggregation's cover test is truncation EQUI-joins per distinct
    mask length — never a cartesian/nested-loop range join."""
    from bgpexplorer_spark.operators.analytics import deaggregation
    from bgpexplorer_spark.operators.rib import current_state

    hist = build_history(make_updates(spark, [
        u("10.0.0.0/16", t=1, aspath=[("Seq", [100, 300])]),
        u("10.0.1.0/24", t=2, aspath=[("Seq", [100, 300])]),
    ]))
    plan = _plan(deaggregation(current_state(hist)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_subprefix_hijacks_plan_no_cartesian(spark):
    """/api/analytics/hijacks resolves covers by truncation EQUI-joins on
    (cover_addr, cover_plen), like deaggregation — never a
    cartesian/nested-loop range join, and no Python eval."""
    from bgpexplorer_spark.operators.analytics import subprefix_hijacks
    from bgpexplorer_spark.operators.rib import current_state

    hist = build_history(make_updates(spark, [
        u("10.0.0.0/16", t=1, aspath=[("Seq", [100, 300])]),
        u("10.0.1.0/24", t=2, aspath=[("Seq", [100, 400])]),
    ]))
    plan = _plan(subprefix_hijacks(current_state(hist)))
    assert "Join" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_heavy_hitters_shares_one_exchange(spark):
    """The window total (partition by win) and the rank (partition by
    win, ordered) must reuse ONE hash partitioning — a second Exchange
    would double the shuffle for no reason."""
    from bgpexplorer_spark.streaming.feed import heavy_hitters, live_key_counts

    upd = make_updates(spark, [u(f"10.0.{i % 5}.0/24", t=i) for i in range(40)])
    counts = live_key_counts(upd, window="1 minute")
    plan = _plan(heavy_hitters(counts, k=3))
    # one Exchange for the groupBy counts, one for the shared window key
    assert plan.count("Exchange") == 2


def test_bm25_no_corpus_join_no_window(spark, tmp_path):
    """bm25_topk must never JOIN a corpus-sized frame (the doc length
    rides the term-filtered explode — the first formulation joined the
    per-doc-length frame onto tf, a full-corpus shuffle for a k-row
    answer, 4.1× at the sf0.1→sf1 decade), must not rank df_t through a
    Window (partitioning by a handful of query terms funnels every tf
    row into |terms| sort partitions — a measured skew hotspot), must
    project the token array ONCE below the explode (a generator
    expression and a sibling projection don't share subexpressions),
    and finishes with a TakeOrdered. Corpus scans: the hits pass, the
    (N, avgdl) singleton, and the df_t re-aggregation of tf's exchange
    — never a scan JOINED at corpus size."""
    from bgpexplorer_spark.operators.text import bm25_topk

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "spark window hash join scan") for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    plan = _plan(bm25_topk(df, ["spark", "window"], k=5))
    assert plan.count("FileScan") <= 3
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan  # broadcasts only past the scans
    assert plan.count("Window") == 0
    # the token array is an attribute below the Generate, not an inline
    # re-tokenize: the split() that implements tokens() appears once per
    # corpus scan, not twice in the hits branch
    assert plan.count("split(") <= plan.count("FileScan")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_encode_vocab_factorized_no_udf(spark):
    """bpe_encode's merge fold must run on the DISTINCT-word side only
    (corpus occurrences join back to encoded words — no per-occurrence
    re-tokenization), with zero Python eval, no window, no cartesian,
    and a map-side partial aggregate for both the vocab distinct and the
    doc reassembly. The join-back must be a BROADCAST of the
    vocabulary-sized encoded frame: the corpus explode must NOT shuffle
    on the word key (Zipf-skewed — "the" would land one partition hot);
    the only corpus-sized Exchange allowed is the doc-id reassembly."""
    from bgpexplorer_spark.operators.text import bpe_encode

    docs = spark.createDataFrame(
        [(1, "ab ab cd"), (2, "cd ab")], "doc_id long, text string"
    )
    df = bpe_encode(docs, ["a b", "c d"])
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # join-back strategy: BroadcastHashJoin on _w, never a shuffled join
    # on the Zipf word key (the vocab distinct may Exchange on _w — that
    # shuffles a word-sized projection, not the corpus explode)
    assert "BroadcastHashJoin [_w" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # every hash Exchange is keyed on _id (doc reassembly) or _w (the
    # vocab distinct's word-sized projection) — no other shuffle keys
    import re as _re

    keys = _re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert keys and all(k in ("_id", "_w") for k in keys), keys
    # doc reassembly partially aggregates before its Exchange (the tree
    # prints top-down, so the map-side partial is BELOW the Exchange line)
    assert "partial_collect_list" in plan.split("Exchange hashpartitioning(_id")[1]
    # the merge fold must appear EXACTLY ONCE, inside the aggregate keyed
    # on the distinct word (executedPlan elides expressions — use the
    # formatted explain for expression-level assertions)
    fmt = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    assert fmt.count("aggregate(sequence") == 1
    [node] = [b for b in fmt.split("\n\n") if "aggregate(sequence" in b]
    assert "Keys [1]: [_w" in node  # attached to the vocab agg, not the corpus


def test_rib_asof_partition_prunes_materialized_snapshot(spark, tmp_path):
    """rib_asof over a frame still carrying the snapshot's ts_date
    partition column must turn the cutoff into a REAL partition filter
    (timeutil.asof_prune) — the served ?asof= path reads only the date
    partitions at-or-before the instant — while the output schema stays
    ts_date-free and the newest-per-key pick stays a max_by aggregate
    (no window sort)."""
    from bgpexplorer_spark.operators.analytics import rib_asof
    from bgpexplorer_spark.operators.rib import write_snapshot
    from tests.ribdata import T0

    rows = [u(f"10.{i}.0.0/16", t=i * 90000) for i in range(5)]  # spans days
    hist = build_history(make_updates(spark, rows))
    d = str(tmp_path / "snap")
    write_snapshot(hist, d)

    at_ms = int(T0.timestamp() * 1000) + 2 * 90000 * 1000
    df = rib_asof(spark.read.parquet(d), at_ms)
    assert "ts_date" not in df.columns
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(ts_date" in plan
    assert "ts_date" in plan.split("PartitionFilters")[1].split("]")[0]
    assert "PushedFilters: [IsNotNull(ts), LessThanOrEqual(ts," in plan
    assert "Window" not in plan
    assert "max_by" in plan
    assert df.count() == 3  # t=0,1,2 days visible; later partitions pruned


def test_banded_hamming_signature_computed_once(spark):
    """The banded-hamming candidate builder (simhash32/60, sign_neardup)
    is the ONE-exchange in-bucket pair explode (r11): the banded rows
    cross the wire once through the groupBy(key) exchange, the sorted
    member list explodes into ordered pairs — no self-join at all, so
    the corpus-scale signature aggregate appears exactly once and
    nothing can broadcast. (Historically this pinned a both-sides cache
    around a merge-pinned SMJ self-join; the self-join is gone.)"""
    from bgpexplorer_spark.operators.dedup import simhash60_candidate_pairs

    docs = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(20)], "doc_id long, text string"
    )
    df = simhash60_candidate_pairs(docs, "doc_id")
    plan = _plan(df)
    # no join of any kind in the candidate build
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # the corpus tokenization (the signature aggregate's input) is
    # planned exactly once — a self-join shape would plan it per side
    assert plan.count("split(text") == 1


def test_lsh_max_bucket_shed_is_anti_join_not_window(spark):
    """lsh_buckets(max_bucket=…) must shed over-cap buckets with a
    broadcast ANTI-join against the (tiny) over-cap bucket list — never
    a count().over(partitionBy(band,bucket)) occupancy window, which
    sorts EVERY band-membership row inside WindowExec just to count
    (r9 verdict What's-wrong #3)."""
    from bgpexplorer_spark.operators.dedup import lsh_buckets, minhash_signatures

    docs = spark.createDataFrame(
        [(i, "x y z x y z") for i in range(12)], "doc_id long, text string"
    )
    sig = minhash_signatures(docs, "doc_id", k=8)
    df = lsh_buckets(sig, "doc_id", bands=4, k=8, max_bucket=2)
    plan = _plan(df)
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the over-cap list aggregates map-side before its exchange
    assert "partial_count" in plan


def test_neardup_corpus_frames_never_broadcast(spark):
    """In the composed near-dup path every join input except the
    over-cap bucket list is corpus-derived (banded memberships,
    signatures, doc sizes, shingle rows) — none may become a broadcast
    build side. AQE happily broadcasts them when compressed shuffle
    bytes read under the threshold, but the in-memory HashedRelation is
    several× larger and the build OOMed an 8 GB local heap at sf10
    (r10 measurement); at 100 TB they are all billions of rows anyway.
    Also: the composed path must consume candidate IDS only — the
    est_jaccard signature joins are unprunable and their output is
    discarded by exact verification."""
    from bgpexplorer_spark.operators.dedup import neardup_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i % 9} w{(i + 1) % 9} w{(i + 2) % 9} x y") for i in range(60)],
        "doc_id long, text string",
    )
    # uncapped: zero broadcast joins anywhere
    plan = _plan(neardup_pairs(docs, "doc_id", n=2, threshold=0.3))
    assert plan.count("BroadcastHashJoin") == 0
    assert "zip_with" not in plan  # no est_jaccard decoration
    # capped: every broadcast join is the over-cap LeftAnti shed (it
    # appears once per self-join side — the anti subtree is duplicated
    # because the two sides' exchanges are not reused)
    plan_c = _plan(neardup_pairs(docs, "doc_id", n=2, threshold=0.3, max_bucket=5))
    bhj = [ln for ln in plan_c.splitlines() if "BroadcastHashJoin" in ln]
    assert bhj and all("LeftAnti" in ln for ln in bhj), bhj
    assert "zip_with" not in plan_c


def test_banded_candidates_one_exchange_no_selfjoin(spark):
    """Candidate generation must be the ONE-exchange shape (r10 verdict
    What's-wrong #2, counter-adjudicated r11: identical pair sets, CPU
    -42%/-45%/-27% vs the merge-pinned SMJ self-join at sf1-uncapped /
    sf1-capped / sf10-capped): groupBy(band,bucket) → collect_list →
    two chained pair-explode generators. No join of the banded frame at
    all — zero AQE-broadcast exposure by construction; the only
    broadcast allowed on the capped path is the over-cap LeftAnti shed."""
    from bgpexplorer_spark.operators.dedup import minhash_candidate_ids

    docs = spark.createDataFrame(
        [(i, f"w{i % 9} w{(i + 1) % 9} w{(i + 2) % 9} x y") for i in range(60)],
        "doc_id long, text string",
    )
    plan = _plan(minhash_candidate_ids(docs, "doc_id", n=2))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "collect_list" in plan and plan.count("Generate") >= 2
    plan_c = _plan(minhash_candidate_ids(docs, "doc_id", n=2, max_bucket=5))
    assert "SortMergeJoin" not in plan_c
    bhj = [ln for ln in plan_c.splitlines() if "BroadcastHashJoin" in ln]
    assert all("LeftAnti" in ln for ln in bhj), bhj


def test_r11_diagnostics_plan_shapes(spark):
    """The r11 diagnostic operator lexical_diversity keeps its declared
    scale shape: a pure projection (ZERO exchanges, zero joins)."""
    from bgpexplorer_spark.operators import text

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i % 3} x") for i in range(10)], "doc_id long, text string"
    )
    p = _plan(text.lexical_diversity(docs))
    assert "Exchange" not in p and "Join" not in p


def test_r11_second_wave_plan_shapes(spark):
    """Scale discipline of the second-wave operators:

    - bigram_nll: BOTH count joins merge-pinned SMJ (bigram vocabularies
      grow with the corpus — the AQE-underestimate broadcast class), no
      BroadcastHashJoin anywhere;
    - cross_source_report: both id-attribute joins SMJ, zero broadcasts;
    - vocab_coverage cutoffs are TakeOrdered, never a global window.
    """
    from bgpexplorer_spark.operators.dedup import cross_source_report
    from bgpexplorer_spark.operators.text import bigram_nll, vocab_coverage

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 7} z{i % 3}", f"s{i % 3}")
         for i in range(40)],
        "doc_id long, text string, source string",
    )
    p = _plan(bigram_nll(docs))
    assert p.count("BroadcastHashJoin") == 0, p
    assert p.count("SortMergeJoin") == 2, p

    pairs = spark.createDataFrame(
        [(1, 2, 0.5), (2, 3, 0.9)], "id_a long, id_b long, jaccard double"
    )
    p = _plan(cross_source_report(pairs, docs))
    assert p.count("BroadcastHashJoin") == 0, p
    assert p.count("SortMergeJoin") == 2, p

    p = _plan(vocab_coverage(docs, cutoffs=[2, 5]))
    assert "Window" not in p, p
    assert "TakeOrdered" in p, p
