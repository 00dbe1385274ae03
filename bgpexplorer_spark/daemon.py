"""Config-driven service daemon — the reference's ``main()``
(src/main.rs: config → RIB with snapshot bootstrap → protocol peers →
HTTP API/UI → snapshot lifecycle) as one object with start()/stop().

Pipeline wiring (every piece is the standard component, nothing bespoke):

1. **Bootstrap**: with ``snapshot=`` (a local directory) configured
   and no history table yet, ``load_snapshot_dir`` copies the snapshot's current version
   into the table: its files are already in the table's layout, so
   nothing is rewritten (warn-and-fresh on a bad snapshot, the
   reference's load_snapshot posture).
2. **Listeners**: ``config.start_listeners`` boots every peer the ini
   describes; they write UPDATES_SCHEMA parquet micro-batches into the
   ingest dir.
3. **Ingest**: a continuous Structured Streaming query
   (``feed.run_ingest`` with a processingTime trigger) folds the
   micro-batches through ``build_history`` into the partitioned history
   table, publishes each batch to WebSocket subscribers, and bumps the
   service's state version. The bump re-lists the table (a batch
   DataFrame binds its file listing at creation) and drops the serving
   memos; it runs no Spark job. The next ``/api/json`` request builds
   the new version's in-memory served copy and unpersists the old one.
4. **Serving**: ``BgpExplorerService`` + the bundled UI over HTTP
   (``api.serve``); ``roasfile=`` feeds /api/analytics/rpki via the
   validator-export loaders.
5. **Snapshot lifecycle**: ``SnapshotKeeper`` stores the RIB on the
   configured cadence and on ``stop()``.

``start()`` logs one INFO line: what the bootstrap restored (or why it
did not) and the time each step took.
"""

from __future__ import annotations

import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession

from bgpexplorer_spark.config import SvcConfig, start_listeners, start_snapshot_keeper

log = logging.getLogger(__name__)


class BgpExplorerDaemon:
    """One running bgpexplorer deployment. ``work_dir`` holds the
    ingest spool (``updates/``), the history table (``table/`` unless
    the ini sets ``table_path``), and the stream checkpoint (``ck/``)."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: SvcConfig,
        work_dir: str,
        processing_time: str = "1 second",
        http: bool = True,
    ):
        self.spark = spark
        self.cfg = cfg
        self.work_dir = work_dir
        self.processing_time = processing_time
        self.http = http
        self.ingest_dir = os.path.join(work_dir, "updates")
        self.table_dir = cfg.table_path or os.path.join(work_dir, "table")
        self.checkpoint = os.path.join(work_dir, "ck")
        self.listeners: list = []
        self.query = None
        self.keeper = None
        self.httpd = None
        self.service = None

    def _history(self) -> DataFrame:
        """Current history table; an empty history frame before the
        first ingest commit creates the table."""
        from bgpexplorer_spark.operators.ingest import build_history
        from bgpexplorer_spark.schemas import UPDATES_SCHEMA

        table = self._history_with_partitions()
        if table is not None:
            return table.drop("ts_date")
        return build_history(
            self.spark.createDataFrame([], UPDATES_SCHEMA),
            history_mode=self.cfg.historymode,
        )

    def _history_with_partitions(self) -> DataFrame | None:
        """The maintained table WITH its ts_date partition column — the
        service's as-of batch view (timeutil.asof_prune consumes the
        column as a real partition filter). Read through the table's
        known schema: a file listing, no schema-inference job. None
        before the first ingest commit creates the table (the service
        falls back to live)."""
        from bgpexplorer_spark.schemas import RIB_HISTORY_TABLE_SCHEMA

        try:
            return self.spark.read.schema(RIB_HISTORY_TABLE_SCHEMA).parquet(
                self.table_dir
            )
        except Exception:  # noqa: BLE001 — table not written yet
            return None

    def _load_roas(self):
        from bgpexplorer_spark.sources.roas import load_roas_csv, load_roas_json

        path = self.cfg.roas_file
        loader = load_roas_csv if path.lower().endswith(".csv") else load_roas_json
        return loader(self.spark, path)  # (v4 table, v6 table)

    @staticmethod
    def _parse_http(addr: str) -> tuple[str, int]:
        """httplisten → (host, port): host-only defaults to 8080, a
        bracketed v6 literal loses its brackets (ThreadingHTTPServer
        wants the bare address), and malformed forms ('::1' with an
        intended port, a bare '8080') fail loudly — the shared guarded
        split (config.parse_hostport)."""
        from bgpexplorer_spark.config import parse_hostport

        return parse_hostport(addr, 8080, default_host="127.0.0.1")

    def start(self) -> "BgpExplorerDaemon":
        from bgpexplorer_spark import snapshotd
        from bgpexplorer_spark.api import BgpExplorerService, serve
        from bgpexplorer_spark.streaming.feed import (
            run_ingest,
            stream_updates_from_files,
        )

        os.makedirs(self.ingest_dir, exist_ok=True)
        restore: dict = {}
        laps: list[str] = []
        t0 = time.perf_counter()

        def lap(step: str) -> None:
            nonlocal t0
            t1 = time.perf_counter()
            laps.append(f"{step} {(t1 - t0) * 1000:.0f} ms")
            t0 = t1

        try:
            # 1. snapshot bootstrap → copy it into a missing history table
            restored = None
            if self.cfg.snapshot_file:
                # looked up at call time: perfbench's tracing wraps it
                restored = snapshotd.load_snapshot_dir(
                    self.spark, self.cfg.snapshot_file,
                    table=self.table_dir, report=restore,
                )
            lap("restore")

            # 4 (service first — the ingest sink bumps it per batch)
            roas_v4 = roas_v6 = None
            if self.cfg.roas_file:
                roas_v4, roas_v6 = self._load_roas()
            self.service = BgpExplorerService(
                restored if restored is not None else self._history(),
                roas=roas_v4,
                roas_v6=roas_v6,
                svc_config=self.cfg,
                ws_apply_filter=True,
                # time-travel requests read the maintained table WITH its
                # ts_date partition column: the as-of cutoff then prunes
                # whole date partitions instead of scanning every file
                # (the table is refreshed per ingest micro-batch, so the
                # batch-view staleness window is one trigger interval)
                asof_history=self._history_with_partitions,
            )
            self.service.history_provider = self._history
            lap("service")

            # 2. protocol listeners → ingest spool
            self.listeners = start_listeners(self.cfg, self.ingest_dir)
            lap("listeners")

            # 3. continuous ingest into the history table
            self.query = run_ingest(
                stream_updates_from_files(self.spark, self.ingest_dir),
                self.table_dir,
                self.checkpoint,
                history_mode=self.cfg.historymode,
                feed=self.service.feed,
                service=self.service,
                processing_time=self.processing_time,
            )
            lap("ingest")

            # 5. snapshot lifecycle
            self.keeper = start_snapshot_keeper(
                self.cfg, lambda: self.service.history
            )
            lap("keeper")

            if self.http:
                host, port = self._parse_http(self.cfg.httplisten)
                self.httpd = serve(self.service, host=host, port=port)
            lap("http")
        except BaseException:
            # partial-failure cleanup: never leak running listeners, the
            # streaming query, or the keeper past a failed start
            self.stop()
            raise
        log.info("boot: %s; %s",
                 restore.get("what", "fresh (no snapshot configured)"),
                 ", ".join(laps))
        return self

    @property
    def http_port(self) -> int | None:
        return self.httpd.server_address[1] if self.httpd else None

    def stop(self) -> None:
        """Reference shutdown order: stop taking input, DRAIN, store the
        final snapshot, stop serving. The drain is a one-shot
        availableNow pass over the SAME checkpoint after the continuous
        query stops — spool files the processingTime cadence had not
        reached yet are folded into the table exactly-once (the
        checkpoint tracks processed files), so the stop-snapshot never
        loses a route the listeners already committed to disk."""
        from bgpexplorer_spark.streaming.feed import (
            run_ingest,
            stream_updates_from_files,
        )

        for lsn in self.listeners:
            lsn.stop()
        self.listeners = []
        if self.query is not None:
            self.query.stop()
            self.query = None
            try:
                drain = run_ingest(
                    stream_updates_from_files(self.spark, self.ingest_dir),
                    self.table_dir,
                    self.checkpoint,
                    history_mode=self.cfg.historymode,
                    service=self.service,
                )
                drain.awaitTermination()
            except Exception:  # noqa: BLE001 — drain is best-effort
                import warnings

                warnings.warn("shutdown drain failed", stacklevel=2)
        if self.keeper is not None:
            self.keeper.stop()  # store-on-shutdown
            self.keeper = None
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd = None
        if self.service is not None:
            self.service.release_served_copy()


def run_from_ini(
    spark: SparkSession, ini_path: str, work_dir: str, **kw
) -> BgpExplorerDaemon:
    """``bgpexplorer.ini`` → a running daemon (parse + start)."""
    from bgpexplorer_spark.config import from_inifile

    return BgpExplorerDaemon(spark, from_inifile(ini_path), work_dir, **kw).start()
