"""The service's in-memory served copy of the history: one per state
version, built by the first /api/json request after a bump, freed when
the next version's copy replaces it, and private to the route query (the
table schema everywhere else)."""

from __future__ import annotations

import json
import logging
import re
import uuid

from pyspark import StorageLevel
from pyspark.sql import functions as F

from bgpexplorer_spark import api
from bgpexplorer_spark.api import BgpExplorerService
from bgpexplorer_spark.config import SvcConfig
from bgpexplorer_spark.daemon import BgpExplorerDaemon
from bgpexplorer_spark.operators.ingest import build_history
from bgpexplorer_spark.operators.query import SLOT_COL, serving_copy
from bgpexplorer_spark.snapshotd import SnapshotKeeper, load_snapshot_dir

from tests.ribdata import make_updates, u


def _append(spark, table: str, rows) -> None:
    """One ingest micro-batch, written the way feed.run_ingest writes it."""
    (
        build_history(make_updates(spark, rows))
        .withColumn("ts_date", F.to_date("ts"))
        .write.mode("append")
        .partitionBy("rib", "ts_date")
        .parquet(table)
    )


def _service(spark, table: str) -> BgpExplorerService:
    def provider():
        return spark.read.parquet(table).drop("ts_date")

    svc = BgpExplorerService(provider())
    svc.history_provider = provider
    return svc


def _entries(resp, nlri: str) -> list[tuple[int, int]]:
    """(ts_ms, first AS) of the route's session 0 / path 0 history,
    newest first."""
    hist = resp["items"][nlri]["0"]["0"]
    return [
        (int(ms), json.loads(e)["attrs"]["aspath"][0]["asns"][0])
        for ms, e in hist.items()
    ]


def test_serving_copy_reads_no_files(spark, tmp_path):
    """serving_copy detaches from the table's file index through Spark
    internals (Dataset.queryExecution().toRdd(),
    SparkSession.internalCreateDataFrame). A Spark upgrade that changes
    them must fail here, not by serving moved or shared cache entries."""
    table = str(tmp_path / "table")
    _append(spark, table, [u("10.0.0.0/24", t=1)])
    copy = serving_copy(spark.read.parquet(table).drop("ts_date"))
    logical = copy._jdf.queryExecution().optimizedPlan().toString()
    physical = copy._jdf.queryExecution().executedPlan().toString()
    assert "LogicalRDD" in logical and "Relation" not in logical, (
        f"serving_copy no longer detaches from the file index:\n{logical}"
    )
    assert "FileScan" not in physical, physical
    assert copy.count() == 1


def test_served_copy_fresh_after_bump(spark, tmp_path):
    table = str(tmp_path / "table")
    _append(spark, table, [
        u("10.0.0.0/24", t=i, aspath=[("Seq", [100 + i])]) for i in (1, 2, 3)
    ])
    svc = _service(spark, table)
    resp = svc.api_json("ipv4u", filter="10.0.0.0/24", maxdepth=2)
    assert resp["length"] == 1 and resp["found"] == 1
    assert [a for _, a in _entries(resp, "10.0.0.0/24")] == [103, 102]
    # as:102 sits in slot 2: inside a depth-2 match window
    assert svc.api_json("ipv4u", filter="as:102", maxdepth=2)["found"] == 1
    first_copy = svc._served[1]

    _append(spark, table, [
        u("10.0.0.0/24", t=4, aspath=[("Seq", [104])]),
        u("10.0.1.0/24", t=4, aspath=[("Seq", [200])]),
    ])
    # the table changed but the version did not: the copy is reused
    assert svc.api_json("ipv4u", filter="10.0.0.0/24")["length"] == 1
    assert svc._served[1] is first_copy

    svc.bump_state_version()
    resp = svc.api_json("ipv4u", filter="10.0.0.0/24", maxdepth=2)
    assert resp["length"] == 2 and resp["found"] == 1
    # the new entry is served, the older slots shifted by one, and
    # maxdepth now cuts the t=2 entry
    assert [a for _, a in _entries(resp, "10.0.0.0/24")] == [104, 103]
    # as:102 moved to slot 3: outside the window; the empty primary page
    # falls back to the supernet query, which the AS term also fails
    moved = svc.api_json("ipv4u", filter="as:102", maxdepth=2)
    assert moved["found"] == 0 and moved["items"] == {}
    assert svc.api_json("ipv4u", filter="as:102", maxdepth=3)["found"] == 1
    # the old copy was freed when the new one replaced it, and the new
    # one is held in memory although the table was appended to in-process
    assert svc._served[1] is not first_copy
    assert first_copy.storageLevel == StorageLevel.NONE
    assert svc._served[1].storageLevel.useMemory
    # a stopped daemon releases its copy
    current = svc._served[1]
    svc.release_served_copy()
    assert current.storageLevel == StorageLevel.NONE


def test_request_finishes_on_its_version(spark, tmp_path, monkeypatch):
    """A request holds the copy and the route index it started with: a
    bump and a rebuild (which unpersists that copy) in the middle of it
    do not change its answer."""
    table = str(tmp_path / "table")
    _append(spark, table, [u("10.0.0.0/24", t=1, aspath=[("Seq", [101])])])
    svc = _service(spark, table)
    real = api.query_rib
    inner = {}

    def query_rib_with_concurrent_ingest(history, rib, p, **kw):
        if not inner:
            inner["started_on"] = svc._served[1]
            # the copy and the store of one version
            assert history is svc._served[1] and kw["store"] is svc._served[2]
            _append(spark, table, [
                u("10.0.0.0/24", t=2, aspath=[("Seq", [102])]),
                u("10.0.1.0/24", t=2, aspath=[("Seq", [201])]),
            ])
            svc.bump_state_version()
            inner["resp"] = svc.api_json("ipv4u", filter="10.0.0.0/16")
            assert svc._served[2] is not kw["store"]
        return real(history, rib, p, **kw)

    monkeypatch.setattr(api, "query_rib", query_rib_with_concurrent_ingest)
    outer = svc.api_json("ipv4u", filter="10.0.0.0/16")
    # the old store: one route, and its page's history
    assert outer["length"] == 1 and outer["found"] == 1
    assert [a for _, a in _entries(outer, "10.0.0.0/24")] == [101]
    assert list(outer["items"]) == ["10.0.0.0/24"]
    assert inner["resp"]["length"] == 2 and inner["resp"]["found"] == 2
    assert [a for _, a in _entries(inner["resp"], "10.0.0.0/24")] == [102, 101]
    assert inner["started_on"].storageLevel == StorageLevel.NONE
    monkeypatch.setattr(api, "query_rib", real)
    again = svc.api_json("ipv4u", filter="10.0.0.0/16")
    assert again["found"] == 2
    assert [a for _, a in _entries(again, "10.0.0.0/24")] == [102, 101]


def _jobs(spark, request) -> tuple[int, dict]:
    """The Spark jobs ``request()`` runs, and its answer."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        resp = request()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), resp


def test_daemon_state_bump_runs_no_job(spark, tmp_path):
    """The daemon's history provider reads the table through its known
    schema, so the ingest sink's state bump and the as-of view run no
    schema-inference job, and their frames have the schema Spark would
    infer. The bump still sees each new batch."""
    table = str(tmp_path / "table")
    _append(spark, table, [u("10.0.0.0/24", t=1), u("2c0a::/32", rib="ipv6u", t=2)])
    daemon = BgpExplorerDaemon(
        spark, SvcConfig(table_path=table), str(tmp_path), http=False
    )
    svc = BgpExplorerService(daemon._history())
    svc.history_provider = daemon._history
    _append(spark, table, [u("10.0.1.0/24", t=3)])
    jobs, _ = _jobs(spark, svc.bump_state_version)
    assert jobs == 0
    jobs, asof = _jobs(spark, daemon._history_with_partitions)
    assert jobs == 0
    inferred = spark.read.parquet(table)
    assert asof.schema == inferred.schema
    assert svc.history.schema == inferred.drop("ts_date").schema
    assert svc.history.count() == 3


def test_index_answered_request_runs_no_job(spark, tmp_path):
    """On a warm served copy a key-term request runs no Spark job: the
    store's route index answers found, the page and the supernet
    fallback, and the store holds the page's history. An attribute term
    runs its page action only, and an entry filter also collects the
    page's history."""
    table = str(tmp_path / "table")
    _append(spark, table, [
        u("10.0.0.0/16", t=1, aspath=[("Seq", [100])]),
        u("10.0.1.0/24", t=2, aspath=[("Seq", [100])]),
        u("10.0.2.0/24", t=3, aspath=[("Seq", [200])]),
        u("10.0.1.0/24", rib="vpnv4u", rd="1:2", t=4),
        u("10.0.1.0/24", rib="vpnv4u", rd="1:3", t=5),
        u("2c0a::/32", rib="ipv6u", t=6),
    ])
    svc = _service(spark, table)
    svc.api_json("ipv4u")  # builds the copy and its store
    for rib, params, found, page in [
        ("ipv4u", {"filter": "10.0.1.0/24"}, 1, ["10.0.1.0/24"]),
        ("ipv4u", {"filter": "10.0.0.0/16"}, 3,
         ["10.0.0.0/16", "10.0.1.0/24", "10.0.2.0/24"]),
        ("ipv4u", {"filter": "10.0.1.77"}, 0, ["10.0.1.0/24", "10.0.0.0/16"]),
        ("vpnv4u", {"filter": "rd:1:3 10.0.0.0/8"}, 1, ["1:3:10.0.1.0/24"]),
        ("ipv6u", {"filter": "2c0a::/16"}, 1, ["2c0a::/32"]),
        ("ipv4u", {"skip": 1, "limit": 1}, 3, ["10.0.1.0/24"]),
    ]:
        jobs, resp = _jobs(spark, lambda: svc.api_json(rib, **params))
        assert (resp["found"], list(resp["items"])) == (found, page), params
        assert jobs == 0, (params, jobs)
    jobs, resp = _jobs(spark, lambda: svc.api_json("ipv4u", filter="as:100"))
    assert resp["found"] == 2 and jobs == 1, jobs
    jobs, resp = _jobs(
        spark, lambda: svc.api_json("ipv4u", filter="10.0.1.0/24", onlyactive=True)
    )
    assert list(resp["items"]) == ["10.0.1.0/24"] and jobs >= 2, jobs


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_failed_store_build_serves_from_spark(spark, tmp_path, monkeypatch, caplog):
    """A history store that fails to build (say, past
    spark.driver.maxResultSize) is logged once per version with its
    traceback, and the version is served from the cached copy alone with
    the answers of the normal path; no copy leaks."""
    table = str(tmp_path / "table")
    _append(spark, table, [
        u("10.0.0.0/24", t=i, aspath=[("Seq", [100 + i])]) for i in (1, 2, 3)
    ] + [u("10.0.1.0/24", t=4, aspath=[("Seq", [200])])])
    requests = [
        {"filter": "10.0.0.0/24", "maxdepth": 2},
        {"filter": "10.0.0.0/16"},
        {"filter": "10.0.0.77"},
        {"filter": "as:102"},
        {"skip": 1, "limit": 1},
        {"filter": "10.0.0.0/16", "onlyactive": True},
    ]
    healthy = _service(spark, table)
    want = [healthy.api_json("ipv4u", **q) for q in requests]
    healthy.release_served_copy()

    def fail(served):
        raise RuntimeError("collect past spark.driver.maxResultSize")

    monkeypatch.setattr(api.HistoryStore, "build", fail)
    svc = _service(spark, table)
    before = _persisted(spark)
    with caplog.at_level(logging.INFO, logger="bgpexplorer_spark.api"):
        assert [svc.api_json("ipv4u", **q) for q in requests] == want
        first = svc._served[1]
        assert svc._served[2] is None and first.storageLevel.useMemory
        assert _persisted(spark) == before + 1
        _append(spark, table, [u("10.0.2.0/24", t=5, aspath=[("Seq", [300])])])
        svc.bump_state_version()
        for _ in range(2):
            assert svc.api_json("ipv4u", filter="10.0.0.0/16")["found"] == 3
    errors = [r for r in caplog.records if r.levelno == logging.ERROR]
    assert [r.getMessage() for r in errors] == [
        f"served copy v{v}: history store build failed, serving this version"
        " from Spark" for v in (0, 1)
    ]
    assert all(r.exc_info is not None for r in errors)
    # the failed version's copy was freed when the next one replaced it
    assert first.storageLevel == StorageLevel.NONE
    assert _persisted(spark) == before + 1
    svc.release_served_copy()
    assert _persisted(spark) == before


def test_store_build_is_logged(spark, tmp_path, caplog):
    """Each version's store build logs one INFO line: the version, its
    history rows, routes, store bytes and build time."""
    table = str(tmp_path / "table")
    _append(spark, table, [
        u("10.0.0.0/24", t=1), u("10.0.0.0/24", t=2), u("2c0a::/32", rib="ipv6u", t=3),
    ])
    svc = _service(spark, table)
    with caplog.at_level(logging.INFO, logger="bgpexplorer_spark.api"):
        svc.api_json("ipv4u")
        svc.api_json("ipv6u")
        svc.bump_state_version()
        svc.api_json("ipv4u")
    lines = [r.getMessage() for r in caplog.records
             if r.name == "bgpexplorer_spark.api" and r.levelno == logging.INFO]
    assert len(lines) == 2, lines
    nbytes = svc._served[2].table.nbytes
    for v, line in enumerate(lines):
        assert re.fullmatch(
            rf"served copy v{v}: 3 history rows, 2 routes, {nbytes} store bytes,"
            r" built in \d+ ms", line,
        ), line
    svc.release_served_copy()


def test_served_copy_stays_private(spark, tmp_path):
    """Only the route query sees the slot column: service.history, the
    snapshot the keeper writes, and the analytics reports keep the
    table schema."""
    table = str(tmp_path / "table")
    _append(spark, table, [
        u("10.0.0.0/24", t=1, aspath=[("Seq", [100, 300])]),
        u("10.0.0.0/24", t=2, aspath=[("Seq", [200, 400])], session_id=1),
        u("10.0.1.0/24", t=3, aspath=[("Seq", [100, 300])]),
    ])
    svc = _service(spark, table)
    schema = spark.read.parquet(table).drop("ts_date").schema
    svc.api_json("ipv4u", filter="10.0.0.0/8")
    assert SLOT_COL in svc._served[1].columns
    assert svc.history.schema == schema

    keeper = SnapshotKeeper(lambda: svc.history, str(tmp_path / "snap"))
    assert keeper.save_once() is not None
    saved = load_snapshot_dir(spark, str(tmp_path / "snap"),
                              str(tmp_path / "restored"))
    assert SLOT_COL not in saved.columns and saved.count() == 3

    assert svc.api_statistics()["ribs"]["ipv4u"] == 2
    moas = svc.api_moas("ipv4u")
    assert [m["nlri"] for m in moas] == ["10.0.0.0/24"]
    assert isinstance(svc.api_as_relationships("ipv4u"), list)
    assert svc.history.schema == schema
