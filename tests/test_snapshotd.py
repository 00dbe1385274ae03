"""Snapshot lifecycle daemon (reference snapshot_file/snapshot_every:
load-on-start, periodic store, store-on-stop — src/bgpsvc.rs:200-209,
src/bgprib.rs:886-927) over the engine's native parquet snapshot."""

from __future__ import annotations

import os
import time

import pytest

from bgpexplorer_spark.operators.ingest import build_history
from bgpexplorer_spark.snapshotd import SnapshotKeeper, load_snapshot_dir
from tests.ribdata import make_updates, parquet_files, u


def _hist(spark, n=4, t0=0):
    return build_history(make_updates(spark, [
        u(f"10.0.{i}.0/24", t=t0 + i, aspath=[("Seq", [65001, 100 + i])])
        for i in range(n)
    ]))


def test_save_load_roundtrip_and_marker_commit(spark, tmp_path):
    snap = str(tmp_path / "snap")
    hist = _hist(spark)
    keeper = SnapshotKeeper(lambda: hist, snap, every_sec=3600)
    vdir = keeper.save_once()
    assert vdir and os.path.isdir(vdir)
    assert (tmp_path / "snap" / "CURRENT").read_text() == os.path.basename(vdir)

    back = load_snapshot_dir(spark, snap, str(tmp_path / "table"))
    cols = ["rib", "nlri_str", "ts", "active", "aspath"]
    assert sorted(map(repr, back.select(cols).collect())) == sorted(
        map(repr, hist.select(cols).collect())
    )


def test_versions_pruned_marker_tracks_latest(spark, tmp_path):
    snap = str(tmp_path / "snap")
    hist = _hist(spark)
    keeper = SnapshotKeeper(lambda: hist, snap, every_sec=3600)
    dirs = [os.path.basename(keeper.save_once()) for _ in range(4)]
    versions = sorted(d for d in os.listdir(snap) if d.startswith("v"))
    assert len(versions) <= 2 and dirs[-1] in versions  # latest + 1 prior
    assert (tmp_path / "snap" / "CURRENT").read_text() == dirs[-1]


def _fresh(spark, snap, table, match="Error loading snapshot"):
    """Load ``snap`` into ``table`` expecting a warning matching
    ``match``, a fresh start and nothing copied."""
    report = {}
    with pytest.warns(UserWarning, match=match):
        assert load_snapshot_dir(spark, str(snap), table, report) is None
    assert report["what"].startswith("fresh (error loading snapshot: ")
    assert not os.path.exists(table) and not os.path.exists(table + ".restore")
    return report["what"]


def test_load_missing_or_garbled_starts_fresh(spark, tmp_path):
    table = str(tmp_path / "table")
    # missing dir: silent None
    report = {}
    nope = str(tmp_path / "nope")
    assert load_snapshot_dir(spark, nope, table, report) is None
    assert report == {"what": f"fresh (no snapshot at {nope})"}
    assert not os.path.exists(table)
    # garbled marker: warn + None (the reference's warn-and-fresh)
    snap = tmp_path / "snap"
    snap.mkdir()
    (snap / "CURRENT").write_text("../escape")
    _fresh(spark, snap, table)
    # marker pointing at a missing version: warn + None
    (snap / "CURRENT").write_text("v123")
    assert "v123 is missing" in _fresh(spark, snap, table)
    # '..' has no separator but escapes `path` — must be rejected by the
    # v<digits> shape check, not read from the parent directory
    for bad in ("..", ".", "v12x", "xv12", "~root", "v"):
        (snap / "CURRENT").write_text(bad)
        _fresh(spark, snap, table, match="bad snapshot marker")


def test_periodic_and_stop_saves(spark, tmp_path):
    """The cadence thread saves on its interval; stop() writes the final
    snapshot (store-on-shutdown) with the CURRENT state."""
    snap = str(tmp_path / "snap")
    state = {"hist": _hist(spark, n=2)}
    keeper = SnapshotKeeper(lambda: state["hist"], snap, every_sec=1)
    keeper.start()
    try:
        deadline = time.time() + 30
        while time.time() < deadline and not os.path.exists(
            os.path.join(snap, "CURRENT")
        ):
            time.sleep(0.2)
        assert os.path.exists(os.path.join(snap, "CURRENT"))
    finally:
        state["hist"] = _hist(spark, n=5)  # state grew before shutdown
        keeper.stop()
    back = load_snapshot_dir(spark, snap, str(tmp_path / "table"))
    assert back.count() == 5  # the stop() save captured the newest state


def test_config_wires_keeper(spark, tmp_path):
    from bgpexplorer_spark.config import from_inifile, start_snapshot_keeper

    ini = tmp_path / "a.ini"
    snap = tmp_path / "snap"
    ini.write_text(
        f"[main]\nsnapshot={snap}\nsnapshot_every=3600\n"
    )
    cfg = from_inifile(str(ini))
    assert cfg.snapshot_file == str(snap) and cfg.snapshot_every == 3600
    hist = _hist(spark)
    keeper = start_snapshot_keeper(cfg, lambda: hist)
    try:
        assert keeper is not None and keeper.every_sec == 3600
    finally:
        keeper.stop()
    table = str(tmp_path / "table")
    assert load_snapshot_dir(spark, str(snap), table).count() == 4

    # no snapshot key -> no keeper
    ini2 = tmp_path / "b.ini"
    ini2.write_text("[main]\n")
    assert start_snapshot_keeper(from_inifile(str(ini2)), lambda: hist) is None


@pytest.mark.parametrize("mode", ["every", "differ"])
def test_history_schema_is_what_build_history_emits(spark, mode):
    from bgpexplorer_spark.schemas import RIB_HISTORY_SCHEMA

    hist = build_history(make_updates(spark, [u("10.0.0.0/24")]),
                         history_mode=mode)

    def shape(schema):
        return {f.name: f.dataType.simpleString() for f in schema.fields}

    assert shape(hist.schema) == shape(RIB_HISTORY_SCHEMA)


def test_restore_copies_version_files_into_table(spark, tmp_path):
    snap = str(tmp_path / "snap")
    table = str(tmp_path / "table")
    report = {}
    assert load_snapshot_dir(spark, snap, table=table, report=report) is None
    assert report == {"what": f"fresh (no snapshot at {snap})"}

    hist = _hist(spark)
    vdir = SnapshotKeeper(lambda: hist, snap).save_once()
    report = {}
    back = load_snapshot_dir(spark, snap, table=table, report=report)
    files = parquet_files(vdir)
    assert parquet_files(table) == files
    assert not os.path.exists(table + ".restore")
    assert report == {"what": (
        f"restored snapshot {os.path.basename(vdir)} ({len(files)} files,"
        f" {sum(map(len, files.values()))} bytes copied)")}
    assert back.schema == spark.read.parquet(table).drop("ts_date").schema
    cols = ["rib", "nlri_str", "ts", "active", "aspath"]
    assert sorted(map(repr, back.select(cols).collect())) == sorted(
        map(repr, hist.select(cols).collect())
    )
    # an existing table is kept as it is, never overwritten
    report = {}
    assert load_snapshot_dir(spark, snap, table=table, report=report) is None
    assert report == {"what": f"kept the existing table {table}"}


@pytest.mark.parametrize("damage", ["missing column", "changed type"])
def test_restore_rejects_foreign_footer_schema(spark, tmp_path, damage):
    """A snapshot whose files lack a history column or change its type
    warns and starts fresh: nothing is copied into the table."""
    from pyspark.sql import functions as F

    from bgpexplorer_spark.operators.rib import write_snapshot

    hist = _hist(spark)
    hist = (hist.drop("med") if damage == "missing column"
            else hist.withColumn("med", F.col("med").cast("int")))
    snap = tmp_path / "snap"
    write_snapshot(hist, str(snap / "v1"))
    (snap / "CURRENT").write_text("v1")
    _fresh(spark, snap, str(tmp_path / "table"),
           match="Error loading snapshot.*med")


@pytest.mark.parametrize("damage", ["misplaced file", "empty version"])
def test_restore_rejects_bad_version_layout(spark, tmp_path, damage):
    """A version with a data file outside the ``rib=…/ts_date=…``
    partitions, or with no data files, warns and starts fresh."""
    snap = tmp_path / "snap"
    vdir = SnapshotKeeper(lambda: _hist(spark), str(snap)).save_once()
    files = parquet_files(vdir)
    if damage == "misplaced file":
        one = os.path.join(vdir, next(iter(files)))
        os.replace(one, os.path.join(vdir, "stray.parquet"))
        match = "unexpected snapshot file stray.parquet"
    else:
        for rel in files:
            os.remove(os.path.join(vdir, rel))
        match = "has no data files"
    _fresh(spark, snap, str(tmp_path / "table"), match=match)
