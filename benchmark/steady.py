"""Steadiness check: run one workload repeatedly, one seed per run,
and print the spread of every end-to-end metric across the runs.

    python3 benchmark/steady.py --workload curate_corpus --runs 10

Run ``k`` uses seed ``k`` (from 1) and the ``run_seconds`` of
``BENCHMARK.json``. For each metric it prints the median, the
quartiles (``statistics.quantiles(n=4)``), min and max across runs,
and the inter-quartile distance as a share of the median; a metric
whose share exceeds a tenth is flagged. Each run's
host-speed reading (``host_python_loop_ms``) and CPU steal are printed
next to its figures, so a drifting host is visible beside the spread
it causes. The last line is a JSON summary.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from benchmark import stats  # noqa: E402

#: Inter-quartile distance over the median above which a metric is
#: flagged.
FLAG_SHARE = 0.10


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    """(context line, result line) of one benchmark run."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    args = p.parse_args(argv)
    seconds = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]

    values: dict[str, list[float]] = {}
    failures = 0
    for seed in range(1, args.runs + 1):
        info, res = one_run(args.workload, seed, seconds)
        failures += res["failed"] + (not res["correct"])
        row = {name: m["value"] for name, m in res["metrics"].items()}
        for name, v in row.items():
            values.setdefault(name, []).append(v)
        print(f"seed {seed:4d}  " + "  ".join(f"{n}={v:.4f}" for n, v in row.items())
              + f"  loop_ms={stats.median(info['host_python_loop_ms']):.1f}"
              + f"  steal={info['steal_pct']:.2f}%  calls={len(info['calls_s'])}"
              + f"  wall={info['wall_s']:.1f}s"
              + f"  failed={res['failed']}", flush=True)

    summary = {}
    print(f"\n{'metric':16s} {'median':>9s} {'q1':>9s} {'q3':>9s} "
          f"{'min':>9s} {'max':>9s} {'iqr/med':>8s}")
    for name, vals in values.items():
        s = stats.spread(vals)
        flag = "  FLAG" if s["iqr_share"] > FLAG_SHARE else ""
        print(f"{name:16s} {s['median']:9.4f} {s['q1']:9.4f} {s['q3']:9.4f} "
              f"{s['min']:9.4f} {s['max']:9.4f} {s['iqr_share']:8.3f}{flag}")
        summary[name] = s
    print(json.dumps({"workload": args.workload, "runs": args.runs,
                      "failures": failures, "metrics": summary}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
