"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. The run builds nothing ahead: it
starts the product Spark session (``session.get_spark`` at
``local[<cpus>]``, sized to the host by ``host.configure_env``), makes
its inputs from ``--seed``, checks every result against the exhaustive
oracle and prints, as its last line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones (``layers.NAMES``), measured in a
separate run with spans and Spark job groups on. Lines before the last
restate each metric with its unit and the sample counts behind it.

Scratch files live in ``.perfbench/`` under the checkout; oracle answers
are cached there by seed, size and source hash.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "items/s",
    "index_bytes_per_input_byte": "ratio",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "zuliasearch_spark")):
        print(f"perfbench: no zuliasearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import host
    import layers
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    prepare, run, sizes = workloads.WORKLOADS[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    env = host.configure_env(ROOT, work)

    tracer = Tracer(bool(args.trace))
    t_wall = time.perf_counter()
    ticks0 = host.cpu_ticks()
    spark = None
    try:
        # the memory sampler scans /proc four times a second in this
        # process: only the traced run, which reports the peak, pays that
        rss = host.PeakRss() if args.trace else contextlib.nullcontext()
        with rss, tracer.span("run") as root_span:
            ctx = workloads.Ctx(
                root=ROOT, work=work, cache_dir=os.path.join(base, "cache"),
                seed=args.seed, seconds=args.seconds, tracer=tracer, **sizes,
            )
            # inputs and oracle answers are pure Python: make them while
            # the JVM starts
            with concurrent.futures.ThreadPoolExecutor(1) as pool:
                t0 = time.perf_counter()
                prepared = pool.submit(prepare, ctx)
                with tracer.span("session"):
                    from zuliasearch_spark.session import get_spark

                    spark = get_spark(
                        app=f"perfbench-{args.workload}",
                        master=f"local[{env['SPARK_GRAFT_CPUS']}]",
                        extra=host.session_extra(work),
                    )
                session_s = time.perf_counter() - t0
                prepared.result()
                tracer.add("prepare", t0, time.perf_counter())
            ctx.spark = spark
            tracer.attach(spark.sparkContext)
            run(ctx)
        all_t, steal = (b - a for a, b in zip(ticks0, host.cpu_ticks()))
        ctx.facts["host"] = f"session start {session_s:.1f} s, CPU steal {100 * steal / max(all_t, 1):.1f}%"
        if args.trace:
            ctx.facts["peak_rss"] = (f"{rss.peak_mb:.0f} MiB over {rss.peak_procs} processes, "
                                     f"JVM {rss.peak_jvm_bytes / (1 << 20):.0f} MiB")
            metrics, notes = layers.compute(ctx, workloads.settings())
            selfs = tracer.self_times()
            metrics["trace.covered_frac"] = 1.0 - selfs[root_span.id] / root_span.dur
            metrics["trace.latency_p50_ms"] = ctx.e2e["latency_p50_ms"]
            metrics["trace.setup_s"] = ctx.e2e["setup_s"]
            metrics["peak_rss_mb"] = rss.peak_mb
            units = layers.NAMES
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces", f"{args.workload}-{args.seed}.jsonl"))
        else:
            metrics, notes, units = dict(ctx.e2e), [], E2E_UNITS
    finally:
        if spark is not None:
            host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    notes += _sample_notes(ctx)
    wall = time.perf_counter() - t_wall
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} wall_s={wall:.1f} "
          f"docs={ctx.docs} cpus={env['SPARK_GRAFT_CPUS']} driver_memory={env['SPARK_DRIVER_MEMORY']}")
    for k, v in ctx.facts.items():
        print(f"  {k}: {v}")
    for name, unit in units.items():
        print(f"  {name} = {metrics[name]:.6g} {unit}")
    for n in notes:
        print(f"  # {n}")
    for e in ctx.errors:
        print(f"  ! {e}")
    correct = ctx.failed == 0 and all(math.isfinite(metrics[n]) for n in units)
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


def _fmt(samples, fmt: str) -> str:
    """``value@share%`` per timed operation: its timing and the share of
    the host's CPU that steal and other processes took meanwhile."""
    return "[" + ", ".join(f"{fmt % t}@{100 * sh:.0f}%" for t, sh in samples) + "]"


def _quiet_note(samples, fmt: str, what: str) -> str:
    import workloads

    calm = workloads.quiet(samples)
    return (f"median of the n={len(calm)} quiet of {len(samples)} {what} {_fmt(samples, fmt)}; "
            f"all {len(samples)}: {fmt % workloads.median([t for t, _ in samples])}")


def _sample_notes(ctx) -> list[str]:
    s = ctx.samples
    out = [f"setup_s: median of n={len(s['setup_s'])} set-ups {['%.2f' % x for x in s['setup_s']]}"]
    if "build_s" in s:
        out.append("latency_p50_ms, throughput_per_s: " + _quiet_note(s["build_s"], "%.2f", "builds (s)"))
    if "single_ms" in s:
        for cls, ms in s["single_ms"].items():
            if cls == "postings":
                out.append("latency_p50_ms: " + _quiet_note(ms, "%.0f", "postings search() requests (ms)"))
            else:
                out.append(f"not end-to-end: n={len(ms)} {cls} search() requests (ms) {_fmt(ms, '%.0f')}")
        out.append("throughput_per_s: batch size / " + _quiet_note(s["batch_s"], "%.2f", "batches (s)"))
    return out


if __name__ == "__main__":
    sys.exit(main())
