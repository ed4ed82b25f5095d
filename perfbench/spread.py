#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median and
spread (quartile distance as a share of the median, as
statistics.quantiles(values, n=4) gives the quartiles).

    python3 perfbench/spread.py --seeds 1-10 [--workloads bulk_drain,doc_search]
                                [--seconds N] [--trace]

Untraced runs print every end-to-end metric with its bound from
BENCHMARK.json. With --trace, each seed also gets a traced run; the report
then adds the per-layer medians and the tracing overhead: the traced run's
end-to-end numbers (trace.*) minus the untraced ones.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    r = json.loads(lines[-1])
    print(f"  {workload} seed={seed} trace={trace} correct={r['correct']} "
          f"attempted={r['attempted']} failed={r['failed']}", file=sys.stderr)
    return r


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1-10", help="a seed or a range lo-hi")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    for w in a.workloads.split(","):
        plain = [run(w, s, a.seconds, 0) for s in seeds(a.seeds)]
        print(f"{w}: {len(plain)} runs, failed ops {sum(r['failed'] for r in plain)}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in plain]
            med, sp = spread(vals)
            flag = "" if name == "setup_s" or sp < bound / 3 else "  <-- above a third of its bound"
            print(f"  {name:24s} median {med:12.4f}  spread {sp:6.3f}  bound {bound}{flag}")
            print(f"    {' '.join(f'{v:.4g}' for v in vals)}")
        if a.trace:
            traced = [run(w, s, a.seconds, 1) for s in seeds(a.seeds)]
            for name in traced[0]["metrics"]:
                med = statistics.median(r["metrics"][name]["value"] for r in traced)
                line = f"  {name:36s} median {med:14.4f} {traced[0]['metrics'][name]['unit']}"
                base = name.removeprefix("trace.")
                if base in plain[0]["metrics"]:
                    line += f"  overhead {med - statistics.median(r['metrics'][base]['value'] for r in plain):+.4f}"
                print(line)


if __name__ == "__main__":
    main()
