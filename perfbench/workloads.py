"""The benchmark's workloads.

``bulk_build``
    The north-rule build headline. Set-up writes the seeded corpus to
    parquet with ``gen_corpus_spark``; the run then repeats
    ``build_index`` + ``write_index`` over it. Exercises ``analysis``,
    ``builder`` and the parquet write and never calls search, so a
    search-path change should leave it unchanged. Each written index is
    checked against the oracle's statistics: docs per shard, the
    uniqueId of every (shard, doc id), doc count and length sum per
    (field, shard), df and ttf per term, and the varint-decoded doc-id
    and tf blocks of a seeded sample of terms.
``serve``
    The query headlines, over one pinned index. Batched requests
    (``search_many``, postings-only batches of a few hundred requests:
    kernel decode/score/rank and the gather dominate, per-job fixed
    cost is spread) alternate with a closed loop of single requests
    (``search``, one client, each sent when the previous returns:
    per-request fixed costs dominate), after one untimed warm-up call
    of each. The single stream mixes four classes in a fixed, assumed
    order (``inputs.SINGLE_CYCLE``):
    Zipf-popular postings requests, first-seen rare terms, ``n_chars``
    range filters and phrases. The end-to-end latency is the median of
    the postings requests alone, so it does not depend on that mix; the
    other classes are reported per layer. Every result is checked
    against the exhaustive oracle.

An exception or a wrong result counts as a failed operation. Timings
are medians over repeated operations, and ``setup_s`` is the median of
``SETUPS`` set-ups in one run: the first is cold, so the median rests
on warm ones.

Each workload is a pair: ``prepare`` makes the seeded inputs and the
oracle's expectations in pure Python, while the Spark session starts;
``run`` drives the engine.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import inputs
from host import Interference, dir_bytes
from spans import Tracer


@dataclass
class Ctx:
    root: str
    work: str
    cache_dir: str
    seed: int
    seconds: float
    tracer: Tracer
    docs: int
    spark: object = None
    batch_size: int = 200
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    # inputs, from prepare
    corpus: object = None
    stream: list = field(default_factory=list)
    pool: list = field(default_factory=list)
    draws: list = field(default_factory=list)
    expected: dict = field(default_factory=dict)
    # results, from run
    e2e: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)
    index_dir: str | None = None
    probe: Interference = field(default_factory=Interference)

    def record(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {problem}")

    def oracle_key(self, tag: str) -> str:
        return f"{tag}-{self.seed}-{self.docs}-{inputs.source_hash(self.root)}"


SETUPS = 3
ROUNDS = 3


def median(xs) -> float:
    """Median, or 0 for no samples (a layer the workload never runs)."""
    return float(np.median(np.asarray(xs, dtype=np.float64))) if len(xs) else 0.0


# an operation is quiet if steal and other processes took at most this
# share of the host's CPU while it ran
QUIET = 0.05


def quiet(samples: list[tuple[float, float]]) -> list[float]:
    """The timings, of ``(timing, interference share)`` samples, that
    the host left alone: those at most ``QUIET``, or, if fewer than
    half are, the least disturbed half. A slow spell of a shared host
    then moves few of the samples a median rests on, while the
    program's own work, however slow, is never counted against it."""
    calm = [t for t, sh in samples if sh <= QUIET]
    if 2 * len(calm) < len(samples):
        calm = [t for t, _ in sorted(samples, key=lambda x: x[1])[: (len(samples) + 1) // 2]]
    return calm


def op_count(seconds: float, share: float, op_s: float, least: int) -> int:
    """Operations a run measures: enough to fill ``share`` of its
    seconds at a nominal ``op_s`` each, and at least ``least``. A fixed
    count per ``--seconds`` keeps the work, and so the memory peak, the
    same from run to run."""
    return max(least, round(seconds * share / op_s))


def settings():
    return inputs.index_config().analyzer_for_indexed_field("content")


def _build(ctx: Ctx, corpus_path: str, index_dir: str):
    from zuliasearch_spark.indexing.builder import build_index, write_index

    T = ctx.tracer
    corpus = ctx.spark.read.parquet(corpus_path)
    with T.span("build_index"):
        tables = build_index(corpus, inputs.index_config(), stored_cols=inputs.STORED)
    with T.span("write_index"):
        return write_index(tables, index_dir)


def _open(ctx: Ctx, index_dir: str):
    from zuliasearch_spark.indexing.builder import read_index
    from zuliasearch_spark.search.executor import SearchEngine

    T = ctx.tracer
    with T.span("engine"):
        engine = SearchEngine(read_index(ctx.spark, index_dir, inputs.index_config()))
    with T.span("pin"):
        engine.pin()
    return engine


# -- bulk_build ---------------------------------------------------------------


def prepare_bulk_build(ctx: Ctx) -> None:
    ctx.corpus = inputs.corpus_pandas(ctx.docs, ctx.seed)
    # requests only feed the parser's per-layer timing here
    ctx.stream = inputs.single_stream(ctx.seed, ctx.corpus, 100, settings())
    ctx.expected = inputs.cached_json(
        ctx.cache_dir, ctx.oracle_key("bulk"), lambda: inputs.oracle_index_stats(ctx.corpus, ctx.seed)
    )


def check_index(ctx: Ctx, index_dir: str) -> None:
    """Compare a written index with the oracle's statistics (pyarrow
    reads; no Spark job)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from zuliasearch_spark.util.varint import varint_decode

    exp = ctx.expected

    def read(name, cols):
        return pq.read_table(os.path.join(index_dir, name), columns=cols).to_pydict()

    sc = read("shard_counts", ["shard", "num_docs"])
    got = {str(s): n for s, n in zip(sc["shard"], sc["num_docs"])}
    ctx.record("index/shard_docs", None if got == exp["shard_docs"] else f"{got} != {exp['shard_docs']}")

    fs = read("field_stats", ["field", "shard", "doc_count", "sum_dl"])
    got = {f"{f}\t{s}": [d, n] for f, s, d, n in zip(fs["field"], fs["shard"], fs["doc_count"], fs["sum_dl"])}
    bad = sorted(k for k in exp["fields"].keys() | got.keys() if exp["fields"].get(k) != got.get(k))
    ctx.record("index/field_stats", f"{len(bad)} (field, shard) differ, e.g. {bad[:2]}" if bad else None)

    ts = read("term_stats", ["field", "shard", "term", "df", "ttf"])
    got = {f"{f}\t{s}\t{t}": [d, n] for f, s, t, d, n in zip(ts["field"], ts["shard"], ts["term"], ts["df"], ts["ttf"])}
    bad = sorted(k for k in exp["terms"].keys() | got.keys() if exp["terms"].get(k) != got.get(k))
    ctx.record("index/term_stats", f"{len(bad)} terms differ, e.g. {bad[:2]}" if bad else None)

    # doc ids: dense per shard, in the oracle's arrival order
    dm = read("doc_map", ["shard", "doc_id", "uniqueId"])
    got = {}
    for s, d, u in sorted(zip(dm["shard"], dm["doc_id"], dm["uniqueId"])):
        got.setdefault(str(s), []).append((d, u))
    bad = sorted(s for s in exp["doc_map"].keys() | got.keys()
                 if got.get(s) != list(enumerate(exp["doc_map"].get(s, ()))))
    ctx.record("index/doc_map", f"(doc_id, uniqueId) rows differ on shards {bad}" if bad else None)

    # decode the doc-id and tf blocks of a seeded sample of terms
    post = pq.read_table(os.path.join(index_dir, "postings"),
                         columns=["field", "shard", "term", "block_id", "doc_bytes", "tf_bytes"])
    for key, want in exp["postings"].items():
        f, s, t = key.split("\t")
        mask = pc.and_(pc.and_(pc.equal(post["field"], f), pc.equal(post["shard"], int(s))),
                       pc.equal(post["term"], t))
        blocks = post.filter(mask).sort_by("block_id").to_pydict()
        # a block's first doc id is absolute, the rest are gaps
        docs = [int(d) for b in blocks["doc_bytes"] for d in np.cumsum(varint_decode(b))]
        tfs = [int(x) for b in blocks["tf_bytes"] for x in varint_decode(b)]
        ok = [docs, tfs] == want
        ctx.record(f"index/postings/{key}", None if ok else
                   f"decoded {len(docs)} (doc, tf) pairs differ from the oracle's {len(want[0])}")


def bulk_build(ctx: Ctx) -> None:
    T = ctx.tracer
    setups, in_bytes = [], 0
    corpus_path = os.path.join(ctx.work, "corpus")
    for k in range(SETUPS):
        with T.span("setup", k=k):
            t0 = time.perf_counter()
            inputs.corpus_spark(ctx.spark, ctx.docs, ctx.seed).write.mode("overwrite").parquet(corpus_path)
            setups.append(time.perf_counter() - t0)
        in_bytes = dir_bytes(corpus_path)

    # the first build of a session runs cold (JIT, first use of the
    # build's operators): it is checked like the others but not timed.
    # Two timed builds keep a run of both workloads inside the
    # benchmark's time budget; the timing is their mean, or the less
    # disturbed one if only one is quiet (``quiet``).
    build_s, prev = [], None
    with T.span("measure"):
        for i in range(op_count(ctx.seconds, 0.75, 6.0, 3)):
            idx = os.path.join(ctx.work, f"index{i}")
            with T.span("build", req=f"b{i}"):
                before = ctx.probe.mark()
                t0 = time.perf_counter()
                try:
                    _build(ctx, corpus_path, idx)
                    err = None
                except Exception as e:  # noqa: BLE001 — a failed build is a failed op
                    err = e
                dt = time.perf_counter() - t0
                if i and err is None:
                    build_s.append((dt, ctx.probe.share(before, ctx.probe.mark())))
            if err is not None:
                ctx.record("build", f"{type(err).__name__}: {err}")
                continue
            with T.span("check"):
                check_index(ctx, idx)
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
            prev = idx
    ctx.index_dir = prev

    med = median(quiet(build_s))
    ctx.samples.update(build_s=build_s, setup_s=setups)
    ctx.e2e.update(
        setup_s=median(setups),
        latency_p50_ms=med * 1000,
        throughput_per_s=ctx.docs / med if med else float("nan"),
        index_bytes_per_input_byte=dir_bytes(prev) / in_bytes if prev else float("nan"),
    )
    ctx.facts.update(input_bytes=in_bytes, builds=len(build_s),
                     latency_p50_ms="one build_index + write_index", throughput_per_s="docs/s")


# -- serve ----------------------------------------------------------------------


def prepare_serve(ctx: Ctx) -> None:
    ctx.corpus = inputs.corpus_pandas(ctx.docs, ctx.seed)
    ctx.stream = inputs.single_stream(ctx.seed, ctx.corpus, 100, settings())
    ctx.pool, ctx.draws = inputs.batches(ctx.seed, 32, ctx.batch_size)
    todo = {f"pool{i}": (r, None) for i, r in enumerate(ctx.pool)}
    for s in ctx.stream:
        todo[s.rid] = (s.req, (s.lo, s.hi) if s.cls == "range" else None)
    ctx.expected = inputs.cached_json(
        ctx.cache_dir, ctx.oracle_key("serve"), lambda: inputs.oracle_answers(ctx.corpus, todo)
    )


def _check(ctx: Ctx, expected: dict, got: dict | None, err: Exception | None, what: str) -> None:
    for rid, exp in expected.items():
        if err is not None:
            ctx.record(f"{what}/{rid}", f"{type(err).__name__}: {err}")
        else:
            ctx.record(f"{what}/{rid}", inputs.mismatch(exp, got.get(rid, {})))


def _run_batch(ctx: Ctx, engine, draw, bid: str, span: str = "search_many") -> tuple[float, float]:
    """(seconds, interference share) of one checked ``search_many``."""
    reqs = {f"{bid}q{j}": ctx.pool[p] for j, p in enumerate(draw)}
    expected = {q: ctx.expected[f"pool{p}"] for q, p in zip(reqs, draw)}
    res, err = None, None
    with ctx.tracer.span(span, req=bid, queries=len(reqs)) as sp:
        before = ctx.probe.mark()
        t0 = time.perf_counter()
        try:
            res = engine.search_many(reqs, fetch="ids")
        except Exception as e:  # noqa: BLE001 — a failed call is a failed op
            err = e
        dt = time.perf_counter() - t0
        share = ctx.probe.share(before, ctx.probe.mark())
        if sp is not None:
            sp.attrs.update(engine.last_metrics)
    _check(ctx, expected, res, err, bid)
    return dt, share


def _run_single(ctx: Ctx, engine, s, span: str = "search") -> tuple[float, float]:
    """(milliseconds, interference share) of one checked ``search``."""
    res, err = None, None
    with ctx.tracer.span(span, req=s.rid, cls=s.cls):
        before = ctx.probe.mark()
        t0 = time.perf_counter()
        try:
            res = engine.search(s.req, fetch="ids")
        except Exception as e:  # noqa: BLE001 — a failed call is a failed op
            err = e
        dt = time.perf_counter() - t0
        share = ctx.probe.share(before, ctx.probe.mark())
    _check(ctx, {s.rid: ctx.expected[s.rid]}, {s.rid: res}, err, s.cls)
    return dt * 1000, share


def serve(ctx: Ctx) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    T = ctx.tracer
    corpus_path = os.path.join(ctx.work, "corpus")
    idx = os.path.join(ctx.work, "index")
    with T.span("index"):
        # the rows gen_corpus_spark makes, written without a Spark job;
        # building the index is bulk_build's measurement, not set-up here
        os.makedirs(corpus_path, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(ctx.corpus, preserve_index=False),
                       os.path.join(corpus_path, "part-0.parquet"))
        _build(ctx, corpus_path, idx)
    ctx.index_dir = idx

    # set-up: open the index and make it resident, SETUPS times
    setups, engine = [], None
    for k in range(SETUPS):
        if engine is not None:
            engine.unpin()
        with T.span("setup", k=k):
            t0 = time.perf_counter()
            engine = _open(ctx, idx)
            setups.append(time.perf_counter() - t0)

    batch_s, single_ms = [], {c: [] for c in inputs.CLASSES}
    with T.span("measure"):
        # warm-up, checked but not timed: the first batch after pin()
        # runs the kernel cold, and so does the first single request
        # after a batch
        with T.span("warmup"):
            _run_batch(ctx, engine, ctx.draws[0], "w0", span="warmup_search_many")
            _run_single(ctx, engine, ctx.stream[0], span="warmup_search")
        # rounds of one batch and one turn of the single stream, so both
        # measures sample the whole window and a slow spell of the host
        # moves a few samples of each rather than all of one. Rounds fill
        # --seconds, at least ROUNDS of them: on a slow host a run
        # measures fewer rounds rather than running longer
        turn, r, t_end = inputs.SINGLE_TURN, 0, time.perf_counter() + ctx.seconds
        while r < ROUNDS or (time.perf_counter() < t_end and (r + 1) * turn <= len(ctx.stream)):
            with T.span("round", k=r):
                batch_s.append(_run_batch(ctx, engine, ctx.draws[1 + r % (len(ctx.draws) - 1)], f"b{r}"))
                for s in ctx.stream[r * turn : (r + 1) * turn]:
                    single_ms[s.cls].append(_run_single(ctx, engine, s))
            r += 1
    engine.unpin()

    ctx.samples.update(batch_s=batch_s, single_ms=single_ms, setup_s=setups)
    ctx.e2e.update(
        setup_s=median(setups),
        latency_p50_ms=median(quiet(single_ms["postings"])),
        throughput_per_s=ctx.batch_size / median(quiet(batch_s)),
        index_bytes_per_input_byte=dir_bytes(idx) / dir_bytes(corpus_path),
    )
    ctx.facts.update(batches=len(batch_s), singles=sum(map(len, single_ms.values())),
                     latency_p50_ms="one postings-class search() request", throughput_per_s="queries/s, batched")


# name -> (prepare, run, Ctx sizes)
WORKLOADS = {
    "bulk_build": (prepare_bulk_build, bulk_build, {"docs": 2000}),
    "serve": (prepare_serve, serve, {"docs": 1000}),
}
