"""Write the traced-run record of one workload into perfbench/records/.

    python3 perfbench/record.py --workload star_sql [--seed 1] [--seconds 15]

Runs the workload twice through run.py, untraced then traced, with the
same seed, and writes ``records/<workload>.json`` (the end-to-end and
per-layer metrics, the tracing overhead, and every timed op's spans with
their self times, Spark jobs folded into the layer metrics) and
``records/<workload>.md`` (one table row per op).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OVERHEAD = (("op_p50_s", "trace.op_p50_s"), ("ops_per_s", "trace.ops_per_s"))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, check=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def strip_jobs(span: dict) -> dict:
    children = [strip_jobs(c) for c in span.get("children", ()) if c["name"] != "spark.job"]
    out = {k: v for k, v in span.items() if k != "children"}
    return {**out, "children": children} if children else out


def markdown(workload: str, rec: dict) -> str:
    lines = [
        f"# {workload}, seed {rec['seed']}",
        "",
        "Tracing overhead (traced / untraced): "
        + ", ".join(f"{k} x{v:.2f}" for k, v in rec["tracing_overhead"].items()),
        "",
        "| op | wall s | build s | plan s | collect s | jobs | layer spans cover | largest gap |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for op in rec["ops"]:
        lay = op["layers"]
        gap = op["largest_gap"]
        lines.append(
            f"| {op['id']} | {op['wall_s']:.3f} | {lay.get('queries.build_s', 0):.3f} "
            f"| {lay.get('catalyst.plan_s', 0):.3f} | {lay.get('exec.collect_s', 0):.3f} "
            f"| {lay.get('exec.jobs', 0):.0f} | {op['accounted_share']:.1%}"
            f"{'' if op['within_15pct'] else ' (not within 15%)'} "
            f"| {gap['s']:.3f} s {gap['where']} |"
        )
    return "\n".join(lines) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()

    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    path = os.path.join(".perfbench", f"trace-{args.workload}-seed{args.seed}.json")
    with open(path) as f:
        full = json.load(f)
    e2e = {k: v["value"] for k, v in plain["metrics"].items()}
    layers = {k: v["value"] for k, v in traced["metrics"].items()}
    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "correct": plain["correct"] and traced["correct"],
        "end_to_end": e2e,
        "per_layer": layers,
        "tracing_overhead": {u: layers[t] / e2e[u] for u, t in OVERHEAD},
        "passes": full["passes"],
        "ops": [{**op, "spans": strip_jobs(op["spans"])} for op in full["ops"]],
    }
    os.makedirs(os.path.join(HERE, "records"), exist_ok=True)
    base = os.path.join(HERE, "records", args.workload)
    with open(base + ".json", "w") as f:
        json.dump(rec, f, indent=1)
    with open(base + ".md", "w") as f:
        f.write(markdown(args.workload, rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
