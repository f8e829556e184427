"""Run every workload of BENCHMARK.json untraced and traced, and print the
end-to-end metrics, the per-stage table, the matcher kernel timings and
the tracing overhead.

    python3 perfbench/report.py [--seed 1] [--workloads kg_bulk ...]

Runs the exact command in BENCHMARK.json, from the checkout root, so the
pinned environment applies. Exits non-zero if a run fails or a check in
it fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAGES = ["mentions", "scored", "entity_map", "triples", "edges", "nodes"]
COLUMNS = [
    "wall_s", "task_s", "task_p50_s", "task_max_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
]
KERNEL = ["matcher.find_us_per_turn", "context.window_us_per_mention", "matcher.hit_turn_ratio"]


def run(spec: dict, workload: str, seed: int, trace: int) -> tuple[dict, str]:
    """The result JSON of one run, and its sample-count line (if any)."""
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    samples = next((ln for ln in lines if ln.startswith("samples: ")), "")
    return json.loads(lines[-1]), samples


def fmt(v: float) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()

    ok = True
    for workload in args.workloads:
        e2e, samples = run(spec, workload, args.seed, 0)
        layer, _ = run(spec, workload, args.seed, 1)
        ok &= e2e["correct"] and layer["correct"]
        attempted = e2e["attempted"] + layer["attempted"]
        failed = e2e["failed"] + layer["failed"]
        print(f"\n== {workload} (seed {args.seed})")
        print(f"  {'ops_failed_frac':24s} {failed / attempted:.4g} ({failed} of {attempted} ops)")
        print(f"  {samples}")
        for m in spec["end_to_end"]:
            got = e2e["metrics"][m["name"]]
            print(f"  {m['name']:24s} {fmt(got['value']):>12s} {got['unit']}")

        lm = {k: v["value"] for k, v in layer["metrics"].items()}
        print("\n  " + f"{'stage':12s}" + "".join(f"{c:>20s}" for c in COLUMNS))
        for stage in STAGES:
            print("  " + f"{stage:12s}" + "".join(f"{fmt(lm[f'{stage}.{c}']):>20s}" for c in COLUMNS))
        shown = {f"{s}.{c}" for s in STAGES for c in COLUMNS} | set(KERNEL)
        print()
        for k in KERNEL + sorted(set(lm) - shown):
            print(f"  {k:36s} {fmt(lm[k]):>12s} {layer['metrics'][k]['unit']}")
        untraced = e2e["metrics"]["wall_s"]["value"]
        overhead = lm["trace.wall_s"] - untraced
        print(
            f"  tracing overhead: traced build {lm['trace.wall_s']:.3f} s - untraced "
            f"wall_s {untraced:.3f} s = {overhead:+.3f} s ({100 * overhead / untraced:+.1f}%)"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
