"""Driver-resident uniqueId column: a pinned postings ``search()`` is
one Spark job, a first-seen term adds one term-stats job, a batch is
one job, and every returned uniqueId equals what a doc_map join gives
— pinned or not, after deletes, and over a segmented index. Also the
facet/stat field check that runs before any Spark job."""

import dataclasses
import itertools

import pytest
from pyspark.sql import functions as F

from tests.conftest import code_config
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.indexing.segments import SegmentedIndexWriter, read_segmented_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import QueryClause as C
from zuliasearch_spark.search.query import SearchRequest

_groups = itertools.count()


def _count_jobs(spark, fn):
    """(fn's result, Spark jobs it launched), counted by job group."""
    sc = spark.sparkContext
    group = f"test-id-column-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store fills from the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _req(q, amount=10):
    return SearchRequest((C("SCORE_SHOULD", q=q, qf=("content",)),), amount=amount)


WORDS = ["parse", "shard", "reader", "index", "query", "varint", "node", "token",
         "writer", "block"]
BATCH = {f"b{i}": _req(f"{a} {b}") for i, (a, b) in
         enumerate(itertools.islice(itertools.permutations(WORDS, 2), 50))}


@pytest.fixture(scope="module")
def tables(spark, corpus_t1):
    t = build_index(
        spark.createDataFrame(corpus_t1), code_config(num_shards=4), stored_cols=("lang",)
    ).persist()
    yield t
    t.unpersist()


def _doc_map_ids(engine) -> dict[tuple[int, int], str]:
    return {
        (int(r["shard"]), int(r["doc_id"])): r["uniqueId"]
        for r in engine.tables.doc_map.select("shard", "doc_id", "uniqueId").collect()
    }


def _assert_ids_match(engine, results):
    truth = _doc_map_ids(engine)
    n = 0
    for res in results:
        for t in res["topk"]:
            assert t["uniqueId"] == truth[(t["shard"], t["doc_id"])]
            n += 1
    assert n > 0


def test_pinned_search_job_counts(spark, tables):
    eng = SearchEngine(tables).pin()
    try:
        # every BATCH term seen once; a term-stats job is not counted below
        eng.search_many(BATCH, fetch="none")
        res, jobs = _count_jobs(spark, lambda: eng.search(_req("parse shard")))
        assert jobs == 1
        assert res["topk"] and all("uniqueId" in t for t in res["topk"])
        _, jobs = _count_jobs(spark, lambda: eng.search(_req("parse serializer")))
        assert jobs == 2  # term stats for the new term + the kernel
        batch, jobs = _count_jobs(spark, lambda: eng.search_many(BATCH))
        assert jobs == 1
        _assert_ids_match(eng, batch.values())
    finally:
        eng.unpin()
    assert eng._ids is None  # unpin releases the id column


def test_ids_match_doc_map_pinned_and_unpinned(tables):
    unpinned = SearchEngine(tables)
    assert unpinned._ids is None
    plain = unpinned.search_many(BATCH)
    _assert_ids_match(unpinned, plain.values())  # loaded on first fetch
    pinned = SearchEngine(tables).pin()
    try:
        assert pinned.search_many(BATCH) == plain
    finally:
        pinned.unpin()


def test_ids_match_doc_map_after_deletes(tables):
    eng = SearchEngine(tables)
    before = eng.search_many(BATCH)
    victims = sorted({t["uniqueId"] for r in before.values() for t in r["topk"][:2]})
    assert eng.delete_by_unique_ids(victims) == len(victims)
    after = eng.search_many(BATCH)
    _assert_ids_match(eng, after.values())
    assert not {t["uniqueId"] for r in after.values() for t in r["topk"]} & set(victims)


def test_ids_match_doc_map_segmented(spark, corpus_t1, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idseg"))
    cfg = code_config(num_shards=2)
    SegmentedIndexWriter(path, cfg, n_segments=2).build(spark.createDataFrame(corpus_t1))
    eng = SearchEngine(read_segmented_index(spark, path, cfg)).pin()
    try:
        res = eng.search_many({**BATCH, "deep": _req("parse shard", amount=200)})
        # pid = segment * 2 + shard: hits come from both segments
        assert {t["shard"] // 2 for t in res["deep"]["topk"]} == {0, 1}
        _assert_ids_match(eng, res.values())
    finally:
        eng.unpin()


def test_sparse_doc_ids_raise(tables):
    holed = dataclasses.replace(tables, doc_map=tables.doc_map.filter(F.col("doc_id") != 3))
    eng = SearchEngine(holed)
    with pytest.raises(ValueError, match="not dense"):
        eng.search(_req("parse shard index query"))


@pytest.mark.parametrize(
    "call",
    [
        lambda e, r: e.facet_counts(r, "nope"),
        lambda e, r: e.facet_counts_sharded(r, "nope"),
        lambda e, r: e.facet_path_counts(r, "nope"),
        lambda e, r: e.stat_facets(r, "lang", "nope"),
        lambda e, r: e.stat_facets_sharded(r, "nope", "lang"),
    ],
    ids=["facet_counts", "facet_counts_sharded", "facet_path_counts",
         "stat_facets", "stat_facets_sharded"],
)
def test_unstored_facet_field_rejected_before_any_job(spark, tables, call):
    eng = SearchEngine(tables)
    err, jobs = _count_jobs(spark, lambda: pytest.raises(ValueError, call, eng, _req("parse")))
    assert jobs == 0
    err.match(r"'nope' is not stored; stored fields: \[.*'lang'.*'uniqueId'")
