"""Round-close artifact pipeline — one command instead of four.

Every round must ship, at final HEAD, in this order (each step's output
feeds the next's gate):

1. plan fingerprints re-pinned (engine_digest covers the pin file, so
   this must precede the selfcheck log) — the diff should contain ONLY
   hashes whose operator changed this round; review it before commit.
2. SELFCHECK_r{N}.log — the full oracle gate at sf0.01 with the
   ENGINE-DIGEST header tests/test_selfcheck_log.py re-verifies.
3. BENCHLOCAL_r{N}.json — bench.py's COMPLETE output (per-query
   medians, second pass, stage counters at sf0.1 AND sf1, streaming),
   gated by tests/test_benchlocal_log.py.
4. the two gate test files, as a final check.

Usage::

    python tools/roundclose.py 9          # writes *_r09.* artifacts
    python tools/roundclose.py 9 --skip-fp   # fingerprints already pinned

Runs ~15 min end-to-end on 4 cores (selfcheck ~2, bench ~12). Any step
failing aborts the pipeline with that step's output on stderr; nothing
is overwritten until its producer exits 0.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def run(desc: str, cmd: list[str], capture_to: Path | None = None) -> None:
    print(f"== {desc}: {' '.join(cmd)}", flush=True)
    if capture_to is None:
        r = subprocess.run(cmd, cwd=ROOT)
        if r.returncode:
            sys.exit(f"FAILED ({desc}): rc={r.returncode}")
        return
    # capture to a temp file first — the committed artifact is only
    # replaced by a run that exited 0
    with tempfile.NamedTemporaryFile("w", delete=False, dir=ROOT) as tmp:
        r = subprocess.run(cmd, cwd=ROOT, stdout=tmp)
    if r.returncode:
        Path(tmp.name).unlink(missing_ok=True)
        sys.exit(f"FAILED ({desc}): rc={r.returncode}")
    shutil.move(tmp.name, capture_to)
    print(f"   wrote {capture_to.name}", flush=True)


def main() -> None:
    if len(sys.argv) < 2 or not sys.argv[1].isdigit():
        sys.exit(__doc__)
    n = int(sys.argv[1])
    if "--skip-fp" not in sys.argv[2:]:
        run(
            "re-pin plan fingerprints",
            [sys.executable, str(ROOT / "tools" / "plan_fingerprints.py")],
        )
        print("   REVIEW: git diff tools/plan_fingerprints.json", flush=True)
    run(
        "selfcheck (full oracle gate, sf0.01)",
        [sys.executable, str(ROOT / "tools" / "selfcheck.py")],
        capture_to=ROOT / f"SELFCHECK_r{n:02d}.log",
    )
    run(
        "bench (full artifact)",
        [sys.executable, str(ROOT / "bench.py")],
        capture_to=ROOT / f"BENCHLOCAL_r{n:02d}.json",
    )
    run(
        "artifact gates",
        [sys.executable, "-m", "pytest", "-q",
         "tests/test_selfcheck_log.py", "tests/test_benchlocal_log.py"],
    )
    print("round-close artifacts ready — commit them with the final HEAD")


if __name__ == "__main__":
    main()
