"""Parallel pytest runner — same pass set as `pytest tests/`, a fraction
of the wall (VERDICT r8 #8: 818s single-process → target <500s).

pytest-xdist isn't in this container and installs are off-limits, so
parallelism is N plain pytest SUBPROCESSES, each with its OWN
SparkSession JVM — which is exactly the isolation the suite already
assumes (session-scoped `spark` fixture; the io-suite scratch zone
`plans/operators_suite.py::_io_dir` is keyed by PID so whole-registry
files like test_entry.py and test_plans.py can't collide on
/tmp/spark_graft_io across workers). Grouping is BY FILE, never by
test: a file's tests share tmp dirs and fixture state, so a file never
splits across workers.

Streaming constraint: every file that starts a StreamingQuery (name
matches 'stream', plus test_session_window.py) is pinned to worker 0,
serial in the order they'd run alone. Streaming tests time out under
scheduler contention with OTHER streaming state stores (RocksDB
instances); batch queries on sibling workers only add CPU load, which
the 32-core box absorbs.

Balance: greedy longest-processing-time over per-file durations from
`scripts/test_durations.json` — written back after every run (parsed
from each worker's junit XML), so the packing self-corrects as the
suite evolves. Files without a recorded duration assume the mean.

Usage: python scripts/fast_tests.py [N]   # default 3 workers, exit 0
= every group passed. Each group's tail is echoed; a failing group
re-prints its last 60 lines.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time
import xml.etree.ElementTree as ET
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
DURATIONS = REPO / "scripts" / "test_durations.json"

STREAM_PINNED = {"test_session_window.py"}


def _is_streaming(name: str) -> bool:
    return "stream" in name or name in STREAM_PINNED


def partition(files: list[str], n: int, durations: dict[str, float]):
    """Worker 0 = all streaming files (serial); batch files greedy-LPT
    packed into the remaining workers, seeded with worker 0's streaming
    load so batch work fills the same wall instead of extending it."""
    stream = [f for f in files if _is_streaming(f)]
    batch = [f for f in files if not _is_streaming(f)]
    known = [durations[f] for f in files if f in durations]
    default = sum(known) / len(known) if known else 10.0
    cost = lambda f: durations.get(f, default)  # noqa: E731

    groups = [list(stream)] + [[] for _ in range(n - 1)]
    loads = [sum(cost(f) for f in stream)] + [0.0] * (n - 1)
    for f in sorted(batch, key=cost, reverse=True):
        i = loads.index(min(loads))
        groups[i].append(f)
        loads[i] += cost(f)
    return [g for g in groups if g], loads


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    files = sorted(
        os.path.basename(p) for p in glob.glob(str(REPO / "tests" / "test_*.py"))
    )
    durations = {}
    if DURATIONS.exists():
        durations = json.loads(DURATIONS.read_text())
    groups, loads = partition(files, n, durations)
    for i, (g, ld) in enumerate(zip(groups, loads)):
        print(f"group {i}: {len(g)} files, predicted {ld:.0f}s")

    t0 = time.time()
    procs = []
    for i, g in enumerate(groups):
        xml = f"/tmp/spark_graft_fast_tests_g{i}.xml"
        procs.append(
            (
                i,
                xml,
                subprocess.Popen(
                    [
                        sys.executable, "-m", "pytest",
                        *[f"tests/{f}" for f in g],
                        "-q", "--no-header", "-p", "no:cacheprovider",
                        f"--junit-xml={xml}",
                    ],
                    cwd=REPO,
                    stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT,
                    text=True,
                ),
            )
        )

    ok = True
    observed: dict[str, float] = {}
    for i, xml, p in procs:
        out, _ = p.communicate()
        tail = out.strip().splitlines()[-1:] or ["(no output)"]
        print(f"group {i} rc={p.returncode}: {tail[0]}")
        if p.returncode != 0:
            ok = False
            print("\n".join(out.strip().splitlines()[-60:]))
        try:
            for case in ET.parse(xml).getroot().iter("testcase"):
                # xunit2 classname: "tests.test_foo[.TestClass]"
                mods = [
                    c for c in (case.get("classname") or "").split(".")
                    if c.startswith("test_")
                ]
                if mods:
                    f = f"{mods[0]}.py"
                    observed[f] = observed.get(f, 0.0) + float(case.get("time", 0))
        except (OSError, ET.ParseError):
            pass

    if observed:
        durations.update(observed)
        DURATIONS.write_text(json.dumps(durations, indent=0, sort_keys=True))
    print(f"total wall: {time.time() - t0:.0f}s ({'PASS' if ok else 'FAIL'})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
