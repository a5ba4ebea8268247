"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/collect.py --workloads bulk_build,serve --seeds 1-10 \
        --trace 0 --out perfbench/baseline/e2e.json

Runs ``run.py`` once per (workload, seed), one at a time, with the
``run_seconds`` of ``BENCHMARK.json``, and keeps every result line. The
workloads alternate (seed 1 of each, then seed 2 of each, ...), so a
slow period of the host spreads over all of them. For
each metric it prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median. An existing ``--out``
file is extended, so an interrupted collection can be resumed.

    python3 perfbench/collect.py --compare FIRST.json SECOND.json

compares two finished collections of the same code: for each workload
and end-to-end metric, how much worse the second median is than the
first, against the metric's ``bound`` in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def compare(first: str, second: str, bench: dict) -> int:
    """Print, per workload and end-to-end metric, both medians and the
    worsening of the second as a share of the first; 1 if any exceeds
    the bound."""
    sums = []
    for path in (first, second):
        with open(path) as fh:
            sums.append(json.load(fh)["summary"])
    over = 0
    for wl in sums[0]:
        for m in bench["end_to_end"]:
            a, b = (s[wl][m["name"]]["median"] for s in sums)
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            ok = worse <= m["bound"]
            over += not ok
            print(f"{wl:12s} {m['name']:28s} {a:<12.5g} {b:<12.5g} worse by {worse:+.3f} "
                  f"(bound {m['bound']}) {'ok' if ok else 'OVER'}")
    return 1 if over else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads")
    p.add_argument("--seeds", help="e.g. 1-10 or 1,3,5")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.compare:
        return compare(*args.compare, bench)
    if not (args.workloads and args.seeds and args.out):
        p.error("--workloads, --seeds and --out are needed to collect")
    seconds = bench["run_seconds"]
    runs = []
    if os.path.exists(args.out):
        with open(args.out) as fh:
            runs = json.load(fh)["runs"]
    done = {(r["workload"], r["seed"]) for r in runs}
    for seed in _seeds(args.seeds):
        for wl in args.workloads.split(","):
            if (wl, seed) in done:
                continue
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed={seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            result = json.loads(lines[-1])
            runs.append({"workload": wl, "seed": seed, "wall_s": wall, "result": result, "text": lines[:-1]})
            print(f"{wl} seed={seed} wall={wall:.1f}s correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
            os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
            with open(args.out, "w") as fh:
                json.dump({"trace": args.trace, "run_seconds": seconds, "runs": runs}, fh, indent=1)
    summary = {}
    for wl in dict.fromkeys(r["workload"] for r in runs):
        rs = [r for r in runs if r["workload"] == wl]
        names = rs[0]["result"]["metrics"]
        summary[wl] = {n: summarise([r["result"]["metrics"][n]["value"] for r in rs]) for n in names}
        summary[wl]["wall_s"] = summarise([r["wall_s"] for r in rs])
        print(f"\n{wl}: {len(rs)} runs, all correct: {all(r['result']['correct'] for r in rs)}")
        for n, s in summary[wl].items():
            print(f"  {n:42s} median={s['median']:<12.5g} q1={s['q1']:<12.5g} q3={s['q3']:<12.5g} spread={s['spread']:.3f}")
    with open(args.out, "w") as fh:
        json.dump({"trace": args.trace, "run_seconds": seconds, "runs": runs, "summary": summary}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
