"""Snapshot lifecycle daemon — the reference's ``snapshot_file`` /
``snapshot_every`` behavior (src/config.rs:471-483; load-on-start with
warn-and-fresh on error src/bgpsvc.rs:200-209; periodic store during
update processing src/bgprib.rs:886-890; store-on-shutdown
src/bgprib.rs:925-927), wired to this engine's native snapshot form.

The native snapshot here is the distributed parquet table
(``operators/rib.write_snapshot`` — partitioned, sorted, bloom-filtered),
the Spark analog of the reference's own CBOR file; a recurring
driver-side CBOR collect would not scale, so ``tools/export_snapshot``
stays the one-shot migration-interchange path.

Layout under ``path``: versioned subdirectories ``v<millis>`` plus a
``CURRENT`` marker file naming the live one — parquet directory writes
are not atomic, so the marker flip is the commit point (readers and a
crashed writer never see a half-written snapshot), mirroring the
reference's write-then-rename. One previous version is kept, older ones
are pruned.

Because a version is already in the history table's layout, the daemon's
boot restores it by copying its files into the table
(``load_snapshot_dir``), not by rewriting it through Spark.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bgpexplorer_spark.schemas import RIB_HISTORY_TABLE_SCHEMA

_MARKER = "CURRENT"
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def load_snapshot_dir(
    spark: SparkSession,
    path: str,
    table: str,
    report: dict | None = None,
) -> DataFrame | None:
    """Bootstrap the history table ``table`` from the SnapshotKeeper
    directory ``path`` (a local path, as the keeper writes it).

    The current version's files are copied into ``table`` as they are
    (the snapshot is already in the table's layout) and the frame over
    ``table`` is returned. The copy happens only when ``table`` does not
    exist yet, and only after every data file's footer schema matched
    the history table's. A missing dir → None (start fresh); a
    missing/garbled marker, a missing version or a foreign file → warn
    and return None, the reference's load_snapshot error posture.
    Failures on the table side raise and leave no table behind.
    ``report``, if given, receives ``what`` the boot did: restored a
    version, kept the existing table, or started fresh and why."""
    from bgpexplorer_spark.operators.rib import atomic_swap

    report = {} if report is None else report
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath(table).getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath(table)):
        report["what"] = f"kept the existing table {table}"
        return None
    try:
        with open(os.path.join(path, _MARKER), encoding="ascii") as f:
            current = f.read().strip()
        # confine to the generated shape ('v<epoch>'): a tampered or
        # garbled marker ('..', absolute paths) must not escape `path`
        if not re.fullmatch(r"v\d+", current):
            raise ValueError(f"bad snapshot marker {current!r}")
        vdir = os.path.abspath(os.path.join(path, current))
        files, nbytes = _check_footers(vdir)
    except Exception as e:  # noqa: BLE001 — any load error means fresh start
        if os.path.exists(path):
            warnings.warn(f"Error loading snapshot: {e}", stacklevel=2)
            report["what"] = f"fresh (error loading snapshot: {e})"
        else:
            report["what"] = f"fresh (no snapshot at {path})"
        return None
    # copy into a sibling, then rename: an interrupted restore never
    # leaves a partial `table` that a later boot would serve
    tmp = table + ".restore"
    fs.delete(jpath(tmp), True)  # left by an interrupted boot
    try:
        # qualified, so the copy reads the local files that were checked
        _copy(spark, "file://" + vdir, tmp)
        atomic_swap(spark, tmp, table)
    except BaseException:
        fs.delete(jpath(tmp), True)
        raise
    report["what"] = (f"restored snapshot {current} ({files} files,"
                      f" {nbytes} bytes copied)")
    # the table's known schema spares Spark a schema-inference job
    return spark.read.schema(RIB_HISTORY_TABLE_SCHEMA).parquet(table).drop("ts_date")


def _check_footers(vdir: str) -> tuple[int, int]:
    """(data files, bytes) of a snapshot version whose every parquet
    file sits in a ``rib=…/ts_date=…`` partition and carries the history
    table's data columns and types in its footer (Spark's row schema;
    nullability aside), so that ``RIB_HISTORY_TABLE_SCHEMA`` reads it.
    Reads footers only: no Spark job."""
    import pyarrow.parquet as pq

    if not os.path.isdir(vdir):
        raise FileNotFoundError(f"snapshot version {vdir} is missing")
    want = {f.name: f.dataType.simpleString()
            for f in RIB_HISTORY_TABLE_SCHEMA.fields
            if f.name not in ("rib", "ts_date")}
    files = nbytes = 0
    for root, dirs, names in os.walk(vdir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for name in names:
            if name.startswith((".", "_")):
                continue
            fpath = os.path.join(root, name)
            rel = os.path.relpath(fpath, vdir)
            if not re.fullmatch(r"rib=[^/]+/ts_date=[^/]+/[^/]+\.parquet", rel):
                raise ValueError(f"unexpected snapshot file {rel}")
            meta = pq.read_metadata(fpath).metadata or {}
            if _SPARK_SCHEMA not in meta:
                raise ValueError(f"{rel} has no Spark schema in its footer")
            got = T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA]))
            have = {f.name: f.dataType.simpleString() for f in got.fields}
            if have != want:
                diff = sorted(set(have.items()) ^ set(want.items()))
                raise ValueError(f"{rel} is not a history file: {diff}")
            files += 1
            nbytes += os.path.getsize(fpath)
    if not files:
        raise ValueError(f"snapshot version {vdir} has no data files")
    return files, nbytes


def _copy(spark: SparkSession, src: str, dst: str) -> None:
    """Copy the directory ``src`` to ``dst`` (Hadoop FileSystem API, so
    ``dst`` may be any filesystem Spark can write)."""
    hfs = spark._jvm.org.apache.hadoop.fs
    conf = spark._jsc.hadoopConfiguration()
    src, dst = hfs.Path(src), hfs.Path(dst)
    if not hfs.FileUtil.copy(
        src.getFileSystem(conf), src, dst.getFileSystem(conf), dst, False, conf
    ):
        raise IOError(f"cannot copy {src} to {dst}")


class SnapshotKeeper:
    """Periodic + on-stop snapshot writer.

    ``get_history`` is called at each save and must return the history
    DataFrame to persist (a closure over the service's live table, so
    each save sees current state). Save errors warn and the daemon keeps
    running — one failed save must not kill ingest (reference
    store_snapshot warn, src/bgprib.rs:888-890,925-927).
    """

    def __init__(self, get_history, path: str, every_sec: int = 43200):
        self._get_history = get_history
        self.path = path
        self.every_sec = every_sec
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        # serializes saves: stop()'s final store must never race a
        # still-running periodic save on the marker flip
        self._save_lock = threading.Lock()

    def save_once(self) -> str | None:
        """Write one snapshot version and flip the marker; returns the
        new version's directory (None on error, after a warning)."""
        from bgpexplorer_spark.operators.rib import write_snapshot

        with self._save_lock:
            try:
                version = f"v{int(time.time() * 1000)}"
                vdir = os.path.join(self.path, version)
                os.makedirs(self.path, exist_ok=True)
                write_snapshot(self._get_history(), vdir)
                marker = os.path.join(self.path, _MARKER)
                prev = None
                try:
                    with open(marker, encoding="ascii") as f:
                        prev = f.read().strip()
                except OSError:
                    pass
                tmp = f"{marker}.part-{version}"
                with open(tmp, "w", encoding="ascii") as f:
                    f.write(version)
                os.replace(tmp, marker)  # the commit point
                self._prune(keep=(version, prev))
                return vdir
            except Exception as e:  # noqa: BLE001
                warnings.warn(f"store_snapshot error: {e}", stacklevel=2)
                return None

    def _prune(self, keep: tuple) -> None:
        """Drop every version dir except the marker's current and its
        COMMITTED predecessor. Keeping by marker lineage (not by
        lexicographic recency) means a partial dir left by a failed
        write is pruned, never retained in place of the last good
        snapshot."""
        try:
            versions = [
                d for d in os.listdir(self.path)
                if d.startswith("v") and d[1:].isdigit()
            ]
        except OSError:
            return
        survivors = {k for k in keep if k}
        for d in versions:
            if d not in survivors:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    def _run(self) -> None:
        while not self._stop.wait(self.every_sec):
            self.save_once()

    def start(self) -> "SnapshotKeeper":
        if self._thread is None:
            self._stop.clear()
            self._thread = threading.Thread(
                target=self._run, name="snapshot-keeper", daemon=True
            )
            self._thread.start()
        return self

    def stop(self) -> None:
        """Stop the cadence and write the final snapshot (the
        reference's store-on-shutdown). A still-running periodic save
        can't race the final one — saves serialize on ``_save_lock`` and
        the final save runs last, so CURRENT ends at shutdown state."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=300)
            self._thread = None
        self.save_once()
