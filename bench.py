#!/usr/bin/env python
"""Benchmark harness (driver contract + north-rule metrics).

Runs on ``local[$SPARK_GRAFT_CPUS]`` against ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Three phases:

1. **gate queries** — every ``__spark_entry__.queries()`` entry timed
   once at the sf dir (documents/embeddings tables). The documents
   inverted-index build is timed separately (``doc_index_build``) so
   query timings measure query execution, not index construction.
2. **code-corpus build** — the north-rule headline: deterministic
   synthetic source-code corpus (FIXTURES.md F1, ``gen_corpus_spark``)
   of ``$SPARK_GRAFT_BENCH_DOCS`` files (default 200k, 16 shards),
   corpus materialized to parquet UNTIMED, then the full inverted-index
   build (tokenize → postings blocks → stats) + parquet write TIMED
   → ``build_docs_per_sec``.
3. **BM25 query set** — the FIXTURES.md F3-style query mix executed
   against the built index read back from parquet (the realistic
   pushdown-scan path) → ``bm25_qps``.

Extra keys beyond the driver contract (build_docs_per_sec, bm25_qps,
cpus, bench_docs) feed BENCH/BASELINE.md and the scaling protocol
(BASELINE.md §4).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def code_bench_config(num_shards: int = 16):
    from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig

    return IndexConfig(
        index_name="code_bench",
        unique_id_col="uniqueId",
        number_of_shards=num_shards,
        default_search_fields=("content",),
        field_configs=(
            FieldConfig("content", index_as=(IndexAs("content", "code_standard"),)),
            FieldConfig("lang", index_as=(IndexAs("lang", "lcKeyword"),)),
            FieldConfig("repo", index_as=(IndexAs("repo", "lcKeyword"),)),
        ),
    )


def bench_query_set():
    """FIXTURES.md F3 coverage mix: rare/hot, OR, AND, mm, fielded,
    TERMS, filter+scored, negation, camelCase split, boost."""
    from zuliasearch_spark.search.query import QueryClause as C
    from zuliasearch_spark.search.query import SearchRequest

    return {
        "rare_term": SearchRequest((C("SCORE_SHOULD", q="sym_777_a", qf=("content",)),), amount=10),
        "hot_term": SearchRequest((C("SCORE_SHOULD", q="parse", qf=("content",)),), amount=10),
        "or_multi": SearchRequest(
            (C("SCORE_SHOULD", q="parse query node", qf=("content",)),), amount=10
        ),
        "and_conj": SearchRequest(
            (C("SCORE_MUST", q="shard reader", qf=("content",), default_op="AND"),), amount=10
        ),
        "mm_2_of_3": SearchRequest(
            (C("SCORE_SHOULD", q="varint encode gap", qf=("content",), mm=2),), amount=10
        ),
        "field_scoped": SearchRequest((C("SCORE_SHOULD", q="lang:python content:index"),), amount=10),
        "terms_set": SearchRequest(
            (C("TERMS", terms=("org1/repo5", "org2/repo7"), qf=("repo",)),), amount=10
        ),
        "filter_scored": SearchRequest(
            (C("SCORE_SHOULD", q="index segment", qf=("content",)), C("FILTER", q="lang:python")),
            amount=10,
        ),
        "not_scored": SearchRequest(
            (C("FILTER_NOT", q="lang:go"), C("SCORE_SHOULD", q="varint encode", qf=("content",))),
            amount=10,
        ),
        "camel_split": SearchRequest(
            (C("SCORE_MUST", q="parseQueryNode", qf=("content",), default_op="AND"),), amount=10
        ),
        "boost_2x": SearchRequest(
            (
                C("SCORE_SHOULD", q="merge", qf=("content",), boost=2.0),
                C("SCORE_SHOULD", q="block", qf=("content",)),
            ),
            amount=10,
        ),
        "hot_wand": SearchRequest(
            (C("SCORE_SHOULD", q="index shard merge block", qf=("content",)),), amount=10
        ),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from zuliasearch_spark.session import get_spark

    spark = get_spark(app="bench", master=f"local[{cpus}]", shuffle_partitions=cpus * 4)

    import __spark_entry__ as entrymod
    from zuliasearch_spark import gate
    from zuliasearch_spark.indexing.builder import build_index, read_index, write_index
    from zuliasearch_spark.indexing.corpus import gen_corpus_spark
    from zuliasearch_spark.search.executor import SearchEngine

    queries: dict[str, float] = {}
    t_start = time.perf_counter()

    # ---- phase 0: host-speed canary -------------------------------------
    # The sandbox host's available throughput swings >2x in
    # multi-minute windows (BENCH/NOTES.md). A fixed single-threaded
    # numpy kernel stamps the run with the host speed it actually got,
    # so cross-round comparisons can attribute engine vs host (same
    # rule as headline_ab.json's alternating protocol). Re-stamped
    # immediately before phase 2 and phase 3 and after every query-set
    # rep: r4's official bm25_query_set read 12x slower than the
    # same-revision standalone reps, and the single start-of-run
    # canary couldn't prove the 10-minute-later window was throttled —
    # per-phase canaries make the record self-attributing.
    import numpy as _np

    def _host_canary() -> float:
        buf = _np.arange(40_000_000, dtype=_np.uint64)
        t0 = time.perf_counter()
        for _ in range(3):
            buf = buf * _np.uint64(0x9E3779B97F4A7C15) ^ (buf >> _np.uint64(7))
        return round((3 * buf.nbytes / (1 << 20)) / (time.perf_counter() - t0), 1)

    host_canary_mbps = _host_canary()

    # ---- phase 1: gate queries at the sf dir ---------------------------
    t_build, engine = _timed(lambda: gate.documents_engine(spark, sf_dir))
    # force materialization of EVERY persisted index table — a lazily
    # persisted doc_map would bill its first materialization to
    # whichever gate query touches it first
    engine.tables.postings.count()
    engine.tables.doc_map.count()
    queries["doc_index_build"] = round(time.perf_counter() - t_start, 3)
    # one untimed warm query: Python worker pool fork, Arrow/pandas
    # imports on every worker, and whole-stage codegen for the match
    # kernel are per-session costs (~20 s at local[32]) that belong to
    # session startup, not to whichever gate happens to run first
    from zuliasearch_spark.search.query import QueryClause as _C
    from zuliasearch_spark.search.query import SearchRequest as _SR

    engine.search(_SR((_C("FILTER", q="text:the"),), amount=1), fetch="none")
    # pre-build every SHARED engine as its own named metric. Gate
    # timings otherwise bill each index build to whichever gate
    # touches that engine first — and the driver-window rotation
    # reorders the gates each round, which made r3→r4 per-gate deltas
    # incomparable (BENCH/NOTES.md r4: highlight measured 8.10 s
    # in-bench but 1.83 s warm-standalone at the same revision).
    # Engine builds are real work, so they stay in the JSON — under
    # stable names that don't move with the rotation.
    for ename, builder in (
        ("geo", gate.geo_engine),
        ("shingle", gate.shingle_engine),
        ("kstem", gate.kstem_engine),
        ("quantized_emb", gate.quantized_engine),
        ("hnsw_emb", gate.hnsw_engine),
        ("events", gate.events_engine),
    ):
        def _build(b=builder):
            eng = b(spark, sf_dir)
            # force the persisted tables: a lazy persist would still
            # bill first materialization to the first gate query
            eng.tables.postings.count()
            eng.tables.doc_map.count()
            return eng

        dt, _ = _timed(_build)
        queries[f"{ename}_index_build"] = round(dt, 3)
    for name, fn in entrymod.queries().items():
        dt, _ = _timed(lambda: fn(spark, sf_dir).collect())
        queries[name] = round(dt, 3)

    # ---- phase 2: code-corpus index build throughput -------------------
    canary_phase2_mbps = _host_canary()
    work = tempfile.mkdtemp(prefix="zbench_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        corpus_path = os.path.join(work, "corpus")
        index_path = os.path.join(work, "index")
        gen_corpus_spark(spark, n_docs).write.mode("overwrite").parquet(corpus_path)
        # parallelism via SPLIT SIZING, not .repartition(): a
        # round-robin shuffle has no stable partition layout across
        # jobs, which id assignment requires (builder.assign_ids);
        # sized file splits give the same fan-out with a plain scan
        total_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(corpus_path)
            for f in fs
            if f.endswith(".parquet")
        )
        # target ~2 splits per core with a 4MB floor: enough fan-out
        # to keep every core busy, big enough that per-task Python
        # overhead stays amortized (measured: 85×1MB splits ran 1.5×
        # slower than 16×8MB for the same 20k-doc tokenize)
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", max(4 << 20, total_bytes // (cpus * 2))
        )
        corpus = spark.read.parquet(corpus_path)
        cfg = code_bench_config()

        def build(path):
            tables = build_index(corpus, cfg)
            write_index(tables, path)

        # two samples, minimum kept: the host's available throughput
        # swings >2x in multi-minute windows (BENCH/NOTES.md measured
        # 74.8 s and 320 s for THIS build in different windows), and
        # the minimum is the least-throttled sample of identical work
        # — the same rule the query reps and bench/scaling.py use.
        # Both samples are reported for honesty.
        build_samples = []
        for i in range(2):
            p = index_path if i == 0 else index_path + f"_s{i}"
            dt, _ = _timed(lambda: build(p))
            build_samples.append(round(dt, 3))
            if i > 0:
                shutil.rmtree(p, ignore_errors=True)
        t_code_build = min(build_samples)
        queries["code_index_build"] = t_code_build
        build_docs_per_sec = n_docs / t_code_build

        # ---- phase 3: BM25 query set over the written index ------------
        # one shuffle partition per shard group: the batch kernel emits
        # exactly #shards groups; surplus empty reduce tasks are
        # per-job scheduling overhead
        spark.conf.set("spark.sql.shuffle.partitions", str(cfg.number_of_shards))
        tables = read_index(spark, index_path, cfg)
        code_engine = SearchEngine(tables)
        # serving topology: postings resident + shard-partitioned, so
        # each batch is a shuffle-free map-side pass (executor.pin)
        code_engine.pin()
        qset = bench_query_set()
        # warm once (JVM/Arrow paths), then timed reps
        code_engine.search_many(qset)
        # per-rep MINIMUM, not the mean: the sandbox host's available
        # throughput swings >2x in multi-minute windows (measured in
        # BENCH/headline_ab.json — identical pinned reps 0.96 s and
        # 21.2 s across trials), and the minimum is the
        # least-throttled sample of identical work, the same rule
        # bench/scaling.py uses
        canary_phase3_mbps = _host_canary()
        rep_secs = []
        rep_canaries_mbps = []
        for _ in range(reps):
            dt, res = _timed(lambda: code_engine.search_many(qset))
            rep_secs.append(round(dt, 3))
            # canary AFTER each rep: a slow rep next to a slow canary
            # is a throttled window, next to a fast canary an engine
            # regression — the distinction r4's record couldn't make
            rep_canaries_mbps.append(_host_canary())
        queries["bm25_query_set"] = round(min(rep_secs), 3)
        bm25_qps = len(qset) / min(rep_secs)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    total = time.perf_counter() - t_start
    out = {
        "metric": "bench_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "build_docs_per_sec": round(build_docs_per_sec, 1),
        "bm25_qps": round(bm25_qps, 2),
        "bench_docs": n_docs,
        "cpus": cpus,
        "host_canary_mbps": host_canary_mbps,
        "host_canary_phase2_mbps": canary_phase2_mbps,
        "host_canary_phase3_mbps": canary_phase3_mbps,
        "rep_secs": rep_secs,
        "rep_canaries_mbps": rep_canaries_mbps,
        "build_samples": build_samples,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
    sys.exit(0)
