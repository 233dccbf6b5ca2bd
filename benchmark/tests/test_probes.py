"""The run's process cleanup: an orphan below the benchmark is waited
for, and one that ignores SIGTERM is killed.

Each case runs in a child interpreter, because ``adopt_orphans`` and
``end_tree`` change and reap the calling process's children."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]

_CASE = """
import subprocess, sys, time
from benchmark import probes
probes.adopt_orphans()
# bash exits at once; its background job is orphaned below us
subprocess.Popen(["bash", "-c", sys.argv[1]])
time.sleep(0.2)
assert probes.descendants()
t0 = time.monotonic()
probes.end_tree(grace_s=float(sys.argv[2]))
assert not probes.descendants()
print(time.monotonic() - t0)
"""


def _end_tree_s(job: str, grace_s: float) -> float:
    out = subprocess.run([sys.executable, "-c", _CASE, job, str(grace_s)],
                         cwd=ROOT, capture_output=True, text=True, timeout=60,
                         check=True)
    return float(out.stdout)


def test_end_tree_waits_for_an_orphan():
    assert 0.1 < _end_tree_s("sleep 0.5 & exit 0", 10) < 5


def test_end_tree_kills_what_outlives_the_grace():
    assert _end_tree_s("(trap '' TERM HUP; sleep 60) & exit 0", 0.5) < 10
