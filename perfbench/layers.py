"""Per-layer metrics for the traced run.

Three kinds of measurement, all from the benchmark's side of the
public API:

- single-thread timings of pure layer functions over fixed seeded
  samples (``analysis.analyzers.term_freqs``, ``util.varint.varint_decode``,
  ``search.parser.parse_query``);
- the spans around each engine call, with the Spark jobs each span
  launched (its job group) rolled up from the status store;
- counters the program already exposes: ``SearchEngine.last_metrics``
  and the index files on disk.

Every workload reports every metric; :data:`NAMES` fixes the set.
"""

from __future__ import annotations

import os
import time

import numpy as np

from host import dir_bytes
from inputs import CLASSES
from spans import JobStats, Tracer, rollup_jobs, subtree_stats
from workloads import median

MB = 1 << 20

NAMES: dict[str, str] = {
    "analysis.term_freqs_mb_s": "MB/s",
    "builder.build_index_s": "s",
    "builder.write_index_s": "s",
    "builder.jobs": "count",
    "builder.stages": "count",
    "builder.tasks": "count",
    "builder.tasks_failed": "count",
    "builder.executor_cpu_s": "s",
    "builder.gc_s": "s",
    "builder.shuffle_write_mb": "MB",
    "builder.spill_mb": "MB",
    "builder.task_skew": "ratio",
    "index.postings_mb": "MB",
    "index.doc_map_mb": "MB",
    "index.stats_mb": "MB",
    "varint.decode_mb_s": "MB/s",
    "parser.parse_ms": "ms",
    "executor.pin_s": "s",
    "executor.search.jobs_per_request": "count",
    **{f"executor.search.{c}.jobs": "count" for c in CLASSES},
    **{f"executor.search.{c}.p50_ms": "ms" for c in CLASSES},
    "executor.search.max_ms": "ms",
    "executor.search.job_ms": "ms",
    "executor.search.driver_ms": "ms",
    "executor.batch.job_ms": "ms",
    "executor.batch.gather_ms": "ms",
    "executor.batch.other_ms": "ms",
    "executor.batch.jobs": "count",
    "executor.batch.blocks_decoded_ratio": "ratio",
    "executor.batch.cpu_ms_per_query": "ms",
    "executor.batch.task_skew": "ratio",
    "executor.batch.input_mb": "MB",
    # JVM + Python workers, from /proc: not end-to-end because it is
    # unsteady here (Python workers keep their allocator high-water
    # mark, util/alloc.py, and Spark sometimes forks an extra one)
    "peak_rss_mb": "MiB",
    "trace.covered_frac": "ratio",
    "trace.latency_p50_ms": "ms",
    "trace.setup_s": "s",
}


def _timed_repeat(fn, min_s: float = 0.3) -> tuple[float, int]:
    """(seconds per call, calls): repeat ``fn`` for at least ``min_s``."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s and n >= 3:
            return dt / n, n


def term_freqs_mb_s(corpus, seed: int, settings) -> float:
    from zuliasearch_spark.analysis.analyzers import term_freqs

    rng = np.random.default_rng((seed, 7))
    sample = corpus["content"].iloc[np.sort(rng.choice(len(corpus), size=min(200, len(corpus)), replace=False))]
    nbytes = int(sample.str.len().sum())  # the corpus is ASCII
    per_call, _ = _timed_repeat(lambda: term_freqs(sample, settings))
    return nbytes / per_call / MB


def varint_decode_mb_s(index_dir: str, seed: int) -> float:
    """Decode a fixed seeded sample of the written index's doc-id and tf
    blocks, single-threaded."""
    import pyarrow.parquet as pq

    from zuliasearch_spark.util.varint import varint_decode

    t = pq.read_table(os.path.join(index_dir, "postings"), columns=["doc_bytes", "tf_bytes"])
    rng = np.random.default_rng((seed, 8))
    rows = rng.choice(t.num_rows, size=min(2000, t.num_rows), replace=False)
    blocks = [b for col in ("doc_bytes", "tf_bytes") for b in t.column(col).take(rows).to_pylist() if b]
    nbytes = sum(len(b) for b in blocks)

    def decode_all():
        for b in blocks:
            varint_decode(b)

    per_call, _ = _timed_repeat(decode_all)
    return nbytes / per_call / MB


def parse_ms(stream) -> float:
    from zuliasearch_spark.search.parser import parse_query

    texts = []
    for s in stream[:100]:
        for c in s.req.clauses:
            if c.q:
                texts.append(c.q)
            elif c.phrase:
                texts.append('"' + " ".join(c.phrase) + '"')

    def parse_all():
        for q in texts:
            parse_query(q)

    per_call, _ = _timed_repeat(parse_all)
    return per_call / len(texts) * 1000


def compute(ctx, settings) -> tuple[dict[str, float], list[str]]:
    """Every per-layer metric of the run, and text notes (bases and
    sample counts) to print next to them."""
    T: Tracer = ctx.tracer
    notes: list[str] = []
    per_span = rollup_jobs(ctx.spark.sparkContext, T.prefix)
    stats = lambda s: subtree_stats(T, s, per_span)  # noqa: E731
    m: dict[str, float] = {}

    with T.span("layers"):
        m["analysis.term_freqs_mb_s"] = term_freqs_mb_s(ctx.corpus, ctx.seed, settings)
        m["varint.decode_mb_s"] = varint_decode_mb_s(ctx.index_dir, ctx.seed)
        m["parser.parse_ms"] = parse_ms(ctx.stream)

    # builder: the timed builds (bulk_build: not the first, cold one) or
    # the one index build (serve)
    builds = T.named("build_index")
    builds = builds[1:] if len(builds) > 1 else builds
    writes = [T.spans[s.id + 1] for s in builds]  # write_index follows its build_index
    bstats = [stats(b).add(stats(w)) for b, w in zip(builds, writes)]
    m["builder.build_index_s"] = median([s.dur for s in builds])
    m["builder.write_index_s"] = median([s.dur for s in writes])
    for f in ("jobs", "stages", "tasks", "tasks_failed"):
        m[f"builder.{f}"] = median([getattr(b, f) for b in bstats])
    m["builder.executor_cpu_s"] = median([b.cpu_ms for b in bstats]) / 1000
    m["builder.gc_s"] = median([b.gc_ms for b in bstats]) / 1000
    m["builder.shuffle_write_mb"] = median([b.shuffle_write_bytes for b in bstats]) / MB
    m["builder.spill_mb"] = median([b.spill_bytes for b in bstats]) / MB
    m["builder.task_skew"] = median([b.task_skew for b in bstats])
    notes.append(f"builder: {len(builds)} builds; median ms per job call site: {_sites(bstats)}")

    m["index.postings_mb"] = dir_bytes(os.path.join(ctx.index_dir, "postings")) / MB
    m["index.doc_map_mb"] = dir_bytes(os.path.join(ctx.index_dir, "doc_map")) / MB
    m["index.stats_mb"] = sum(
        dir_bytes(os.path.join(ctx.index_dir, t)) for t in ("term_stats", "field_stats", "shard_counts")
    ) / MB

    m["executor.pin_s"] = median([s.dur for s in T.named("pin")])

    # executor metrics are 0 on bulk_build, which never searches
    singles = T.named("search")
    sstats = {s.id: stats(s) for s in singles}
    m["executor.search.jobs_per_request"] = median([sstats[s.id].jobs for s in singles])
    for c in CLASSES:
        of = [s for s in singles if s.attrs.get("cls") == c]
        m[f"executor.search.{c}.jobs"] = median([sstats[s.id].jobs for s in of])
        m[f"executor.search.{c}.p50_ms"] = median([s.dur * 1000 for s in of])
        notes.append(f"executor.search.{c}: n={len(of)}")
    # a percentile tail with ten samples above it needs ~100 requests
    # (p90); a run makes too few, so the slowest request stands in
    m["executor.search.max_ms"] = max((s.dur * 1000 for s in singles), default=0.0)
    notes.append(f"executor.search.max_ms: the slowest of n={len(singles)} requests, not a percentile"
                 if singles else "executor.*: no search in this workload, reported as 0")
    m["executor.search.job_ms"] = median([sstats[s.id].job_ms for s in singles])
    m["executor.search.driver_ms"] = median([s.dur * 1000 - sstats[s.id].job_ms for s in singles])

    batches = T.named("search_many")
    bst = [stats(s) for s in batches]
    m["executor.batch.job_ms"] = median([s.attrs.get("job_ms", 0) for s in batches])
    m["executor.batch.gather_ms"] = median([s.attrs.get("gather_ms", 0) for s in batches])
    m["executor.batch.other_ms"] = median(
        [s.dur * 1000 - s.attrs.get("job_ms", 0) - s.attrs.get("gather_ms", 0) for s in batches]
    )
    m["executor.batch.jobs"] = median([b.jobs for b in bst])
    dec = sum(s.attrs.get("blocks_decoded", 0) for s in batches)
    tot = sum(s.attrs.get("blocks_total", 0) for s in batches)
    m["executor.batch.blocks_decoded_ratio"] = dec / tot if tot else 0.0
    notes.append(f"executor.batch.blocks_decoded_ratio: {dec} of {tot} blocks over {len(batches)} batches")
    m["executor.batch.cpu_ms_per_query"] = median([b.cpu_ms / s.attrs["queries"] for s, b in zip(batches, bst)])
    m["executor.batch.task_skew"] = median([b.task_skew for b in bst])
    m["executor.batch.input_mb"] = median([b.input_bytes for b in bst]) / MB
    return m, notes


def _sites(stats: list[JobStats]) -> dict[str, float]:
    """Median over calls of the summed job time per call site, e.g.
    ``parquet at builder.py:1258``: the build's phases as its jobs
    show them."""
    per_call = []
    for st in stats:
        d: dict[str, float] = {}
        for site, ms in st.job_sites:
            site = site.replace(os.sep.join(("", "zuliasearch_spark", "")), "").split(os.sep)[-1]
            d[site] = d.get(site, 0) + ms
        per_call.append(d)
    sites = dict.fromkeys(k for d in per_call for k in d)
    return {k: median([d.get(k, 0) for d in per_call]) for k in sites}
