"""Doc-values leaves (ranges, ``zl:ns`` numeric sets, geo, caller
predicates) are kernel leaves: one boolean evaluator serves every
shape, so a range request behaves like a postings request — Lucene
occur semantics, ``start`` paging, the ``fetch`` shape and
``last_result`` cursors — and a pinned dv-bearing ``search()`` or a
mixed ``search_many`` batch is one kernel action.

Fixture: 60 docs over 2 shards; doc i holds ``n = i`` and a subset of
four words, so every range has docs with and without each word."""

import itertools

import pandas as pd
import pytest

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import LastResult, SearchRequest
from zuliasearch_spark.search.query import QueryClause as C

WORDS = ("alpha", "beta", "gamma", "delta")
_groups = itertools.count()


def _text(i: int) -> str:
    return " ".join(w for j, w in enumerate(WORDS) if (i >> j) & 1 or j == i % 4)


@pytest.fixture(scope="module")
def engine(spark):
    pdf = pd.DataFrame(
        [(f"d{i}", _text(i), i) for i in range(60)], columns=["uniqueId", "text", "n"]
    )
    cfg = IndexConfig(
        index_name="dvleaves",
        unique_id_col="uniqueId",
        number_of_shards=2,
        default_search_fields=("text",),
        field_configs=(FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),),
    )
    tables = build_index(spark.createDataFrame(pdf), cfg, stored_cols=("n",)).persist()
    eng = SearchEngine(tables).pin()
    yield eng
    eng.unpin()
    tables.unpersist()


def _hits(res):
    return [(t["uniqueId"], t["score"]) for t in res["topk"]]


def _count_jobs(spark, fn):
    """(fn's result, Spark jobs it launched), counted by job group."""
    sc = spark.sparkContext
    group = f"test-dv-leaves-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_should_beside_must_range_is_optional(engine):
    # Lucene: a SHOULD beside a MUST is optional — every in-range doc
    # matches and beta only ranks them, in every spelling of the query
    infix = engine.search_string("beta +n:[0 TO 9]", amount=20)
    grouped = engine.search_string("(beta) +(n:[0 TO 9])", amount=20)
    clauses = engine.search(
        SearchRequest((C("SCORE_SHOULD", q="beta"), C("FILTER", q="n:[0 TO 9]")), amount=20)
    )
    assert infix["totalHits"] == 10
    assert {u for u, _ in _hits(infix)} == {f"d{i}" for i in range(10)}
    assert _hits(infix) == _hits(grouped) == _hits(clauses)
    beta = {f"d{i}" for i in range(10) if "beta" in _text(i).split()}
    assert {u for u, s in _hits(infix) if s > 0} == beta


def test_start_pages_a_range_request(engine):
    q = "beta +n:[0 TO 40]"
    full = engine.search_string(q, amount=12)
    page = engine.search_string(q, amount=6, start=6)
    assert _hits(page) == _hits(full)[6:12]
    assert page["totalHits"] == full["totalHits"] == 41
    req = SearchRequest(qs="gamma", amount=6, start=6)
    dv_full = engine.search_docvalues(SearchRequest(qs="gamma"), "n <= 40", amount=12)
    dv_page = engine.search_docvalues(req, "n <= 40", amount=6)
    assert _hits(dv_page) == _hits(dv_full)[6:12]


def test_search_docvalues_filters_the_whole_request(engine):
    # the predicate is one MUST beside the request, never a sibling of
    # its clauses: SHOULD clauses stay required for a match
    req = SearchRequest((C("SCORE_SHOULD", q="beta gamma"),), amount=30)
    res = engine.search_docvalues(req, "n <= 20", amount=30)
    want = {f"d{i}" for i in range(21) if {"beta", "gamma"} & set(_text(i).split())}
    assert res["totalHits"] == len(want)
    assert {t["uniqueId"] for t in res["topk"]} == want
    plain = engine.search(SearchRequest((C("SCORE_SHOULD", q="beta gamma"),), amount=60))
    scores = {t["uniqueId"]: t["score"] for t in plain["topk"]}
    assert all(t["score"] == scores[t["uniqueId"]] for t in res["topk"])


@pytest.mark.parametrize("q", ["alpha", "alpha +n:[5 TO 30]", "n:[5 TO 30]"])
def test_fetch_shape_does_not_depend_on_the_route(engine, q):
    ids = engine.search(SearchRequest(qs=q, amount=3))
    none = engine.search(SearchRequest(qs=q, amount=3), fetch="none")
    assert all("uniqueId" in t for t in ids["topk"])
    assert none["topk"] and not any("uniqueId" in t for t in none["topk"])
    assert [(t["shard"], t["doc_id"]) for t in none["topk"]] == [
        (t["shard"], t["doc_id"]) for t in ids["topk"]
    ]


@pytest.mark.parametrize("q", ["alpha gamma", "gamma +n:[0 TO 44]", "n:[3 TO 50]"])
def test_last_result_cursor_pages_every_route(engine, q):
    full = engine.search(SearchRequest(qs=q, amount=10))
    page1 = engine.search(SearchRequest(qs=q, amount=5))
    marks = {t["shard"]: (t["score"], t["doc_id"]) for t in page1["topk"]}
    cursor = LastResult(tuple((s, sc, d) for s, (sc, d) in marks.items()))
    page2 = engine.search(SearchRequest(qs=q, amount=5, last_result=cursor))
    assert _hits(page1) + _hits(page2) == _hits(full)


def test_dv_requests_are_one_kernel_action(spark, engine):
    mixed = {
        f"q{i}": SearchRequest(
            qs=f"beta +n:[0 TO {i}]" if i % 2 else f"{WORDS[i % 4]} {WORDS[(i + 1) % 4]}",
            amount=3,
        )
        for i in range(50)
    }
    engine.search_many(mixed, fetch="none")  # every term's stats cached
    res, jobs = _count_jobs(spark, lambda: engine.search(SearchRequest(qs="beta +n:[0 TO 7]")))
    assert res["totalHits"] == 8
    # the cogroup's doc_map side is one shuffle map stage, then the kernel
    assert jobs == 2
    out, batch_jobs = _count_jobs(spark, lambda: engine.search_many(mixed))
    assert batch_jobs == 2
    assert out["q7"]["totalHits"] == 8
    # postings-only requests keep the plain groupBy: one job
    _, jobs = _count_jobs(spark, lambda: engine.search(SearchRequest(qs="alpha beta")))
    assert jobs == 1
