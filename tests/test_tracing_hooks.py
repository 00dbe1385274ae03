"""The traced benchmark run (``perfbench/run.py --trace 1``) wraps engine
functions by name (``perfbench/tracing.install``): ``api.query_rib``,
``api.to_nested_json``, ``query.parse_filter``, ``api.statistics``,
``snapshotd.load_snapshot_dir`` (the boot's ``rib.restore_s``) and more.
An engine rename of one of them must fail here, not only the traced
runs.

``install`` patches modules in place, so it runs in a subprocess of its
own; it needs no SparkSession.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_INSTALL = """
import sys
sys.path[:0] = [sys.argv[1] + "/perfbench", sys.argv[1]]
import tracing
from bgpexplorer_spark import api, snapshotd
from bgpexplorer_spark.operators import query

def hooks():
    return (api.query_rib, api.to_nested_json, query.parse_filter,
            api.statistics, snapshotd.load_snapshot_dir)

before = hooks()
tracing.install(tracing.Tracer())
after = hooks()
assert all(a is not b for a, b in zip(before, after)), "install wrapped nothing"
"""


def test_tracing_install_finds_every_hook():
    out = subprocess.run(
        [sys.executable, "-c", _INSTALL, str(ROOT)],
        capture_output=True, text=True, timeout=120, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr
