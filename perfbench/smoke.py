"""Smoke test of the benchmark itself, at a tiny size, in one session.

    python3 perfbench/smoke.py

For every workload it makes two traced runs with one seed and checks:

- every operation succeeds (the oracle agrees with the engine);
- the count metrics (``*.jobs*``, ``*.stages``, ``*.tasks*``,
  ``executor.batch.blocks_decoded_ratio``, ``index.*_mb``) repeat
  exactly.

It then corrupts the top-k that ``SearchEngine.search`` returns and
checks that the ``serve`` workload counts those requests as failed, and
swaps two uniqueIds in every ``doc_map`` that ``write_index`` writes and
checks that ``bulk_build`` counts every build as failed.
Exits 0 when all checks hold. Takes a few minutes on four CPUs.
"""

from __future__ import annotations

import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 5
COUNTS = re.compile(r"(\.jobs|\.stages|\.tasks|blocks_decoded_ratio$|^index\.)")


def _run(spark, name: str, base: str, tag: str):
    import layers
    import workloads
    from spans import Tracer

    prepare, run, _ = workloads.WORKLOADS[name]
    work = os.path.join(base, f"work-{tag}")
    ctx = workloads.Ctx(root=ROOT, work=work, cache_dir=os.path.join(base, "cache"), seed=SEED,
                        seconds=1, tracer=Tracer(True, prefix=tag), docs=200, batch_size=20, spark=spark)
    ctx.tracer.attach(spark.sparkContext)
    with ctx.tracer.span("run"):
        prepare(ctx)
        run(ctx)
    metrics, _ = layers.compute(ctx, workloads.settings())
    shutil.rmtree(work, ignore_errors=True)
    return ctx, metrics


def _corrupt_search(engine_cls):
    orig = engine_cls.search

    def search(self, req, fetch="ids"):
        out = orig(self, req, fetch)
        if len(out["topk"]) >= 2:
            out["topk"][0], out["topk"][1] = out["topk"][1], out["topk"][0]
        else:
            out["totalHits"] += 1
        return out

    engine_cls.search = search
    return orig


def _corrupt_write(builder):
    """Make ``write_index`` leave two documents' uniqueIds swapped in
    ``doc_map``; returns the original."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    orig = builder.write_index

    def write_index(tables, out_dir, *a, **kw):
        out = orig(tables, out_dir, *a, **kw)
        path = os.path.join(out_dir, "doc_map")
        t = pq.read_table(path)
        t = t.sort_by([("shard", "ascending"), ("doc_id", "ascending")])
        uid = t.column("uniqueId").to_pylist()
        uid[0], uid[1] = uid[1], uid[0]
        t = t.set_column(t.schema.get_field_index("uniqueId"), "uniqueId",
                         pc.cast(uid, t.schema.field("uniqueId").type))
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(t, os.path.join(path, "part-0.parquet"))
        return out

    builder.write_index = write_index
    return orig


def main() -> int:
    sys.path.insert(0, ROOT)
    import host
    import workloads

    base = os.path.join(ROOT, ".perfbench", "smoke")
    env = host.configure_env(ROOT, base)
    from zuliasearch_spark.indexing import builder
    from zuliasearch_spark.search.executor import SearchEngine
    from zuliasearch_spark.session import get_spark

    spark = get_spark(app="perfbench-smoke", master=f"local[{env['SPARK_GRAFT_CPUS']}]",
                      extra=host.session_extra(base))
    problems = []
    try:
        for name in workloads.WORKLOADS:
            (c1, m1), (c2, m2) = (_run(spark, name, base, f"{name}-{k}") for k in "ab")
            for c in (c1, c2):
                if c.failed or not c.attempted:
                    problems.append(f"{name}: {c.failed} of {c.attempted} operations failed: {c.errors[:3]}")
            differ = {k: (m1[k], m2[k]) for k in m1 if COUNTS.search(k) and m1[k] != m2[k]}
            if differ:
                problems.append(f"{name}: counts differ between two runs of seed {SEED}: {differ}")
            counts = {k: m1[k] for k in m1 if COUNTS.search(k)}
            print(f"{name}: {c1.attempted} + {c2.attempted} operations; counts repeat: {not differ} {counts}",
                  flush=True)
        orig = _corrupt_search(SearchEngine)
        try:
            c, _ = _run(spark, "serve", base, "serve-corrupt")
        finally:
            SearchEngine.search = orig
        # every single request is checked, the untimed warm-up one too
        singles = len(c.tracer.named("search")) + len(c.tracer.named("warmup_search"))
        if c.failed != singles:
            problems.append(f"corrupted top-k: {c.failed} failed operations, expected {singles}")
        print(f"corrupted top-k: {c.failed} of {c.attempted} operations failed ({singles} corrupted)")
        orig = _corrupt_write(builder)
        try:
            c, _ = _run(spark, "bulk_build", base, "bulk_build-corrupt")
        finally:
            builder.write_index = orig
        builds = len(c.tracer.named("build"))
        if c.failed != builds:
            problems.append(f"corrupted doc_map: {c.failed} failed operations, expected {builds}")
        print(f"corrupted doc_map: {c.failed} of {c.attempted} operations failed ({builds} corrupted)")
    finally:
        host.stop_spark(spark)
        shutil.rmtree(base, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("smoke:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
