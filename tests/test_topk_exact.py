"""Exact top-k and batch execution semantics.

Every request takes one dense top-k path, so each shape below must
return the exhaustive oracle's ranked uniqueIds, its scores within
1e-4 and its exact totalHits, through ``search()`` and through
``search_many()`` alike; and a batch must agree with issuing each of
its requests alone.

A value of SHAPES is a clause tuple or, as a str, a query string over
``content``: both compile to one boolean tree. "737" is a content term
of one document (``sym_737_a`` analyzes to ``sym``, ``737``, ``a``).
"""

import pytest

from tests.conftest import code_config
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.query import QueryClause as C
from zuliasearch_spark.search.query import SearchRequest

SHAPES = {
    "rare": (C("SCORE_SHOULD", q="737", qf=("content",)),),
    "hot": (C("SCORE_SHOULD", q="parse", qf=("content",)),),
    "or3": (C("SCORE_SHOULD", q="parse query node", qf=("content",)),),
    "and2": (C("SCORE_MUST", q="shard reader", qf=("content",), default_op="AND"),),
    "mm2": (C("SCORE_SHOULD", q="varint encode gap", qf=("content",), mm=2),),
    "boost": (
        C("SCORE_SHOULD", q="merge", qf=("content",), boost=2.0),
        C("SCORE_SHOULD", q="block", qf=("content",)),
    ),
    "must_not": (
        C("SCORE_MUST", q="index", qf=("content",)),
        C("TERMS_NOT", terms=("go", "js"), qf=("lang",)),
    ),
    "qs_or3": "737 parse merge",
    "filtered": (C("SCORE_SHOULD", q="index", qf=("content",)), C("FILTER", q="lang:python")),
    "neg_only": (C("FILTER_NOT", q="lang:go"),),
    # pure negations whose terms have postings in one shard, in no
    # shard, and none at all (the text analyzes to no terms): every
    # shard still answers with its live docs
    "neg_rare": (C("FILTER_NOT", q="737", qf=("content",)),),
    "neg_absent": (C("FILTER_NOT", q="zzqxqzz", qf=("content",)),),
    "neg_empty": (C("FILTER_NOT", q=",", qf=("content",)),),
    # a zero boost on a scoring clause: its docs match with score 0
    # and still count in totalHits ("164" is a content term of one
    # document)
    "zero_boost": (
        C("SCORE_SHOULD", q="164", qf=("content",)),
        C("SCORE_SHOULD", q="parse", qf=("content",), boost=0.0),
    ),
}


def _req(query, **kw) -> SearchRequest:
    if isinstance(query, str):
        return SearchRequest(qs=query, qf=("content",), **kw)
    return SearchRequest(query, **kw)


def _oracle_req(query, **kw) -> SearchRequest:
    """The oracle reads clauses only: a query string of plain terms
    goes as the equivalent SCORE_SHOULD clause."""
    if isinstance(query, str):
        return SearchRequest((C("SCORE_SHOULD", q=query, qf=("content",)),), **kw)
    return SearchRequest(query, **kw)


@pytest.fixture(scope="module")
def engine_and_oracle(spark, corpus_t2):
    from zuliasearch_spark.oracle.bm25_oracle import OracleIndex
    from zuliasearch_spark.search.executor import SearchEngine

    cfg = code_config(num_shards=4, docs_per_bucket=256, block_size=16)
    tables = build_index(spark.createDataFrame(corpus_t2), cfg).persist()
    yield SearchEngine(tables), OracleIndex(corpus_t2, cfg)
    tables.unpersist()


@pytest.fixture(scope="module")
def batch(engine_and_oracle):
    return engine_and_oracle[0].search_many({name: _req(query, amount=10) for name, query in SHAPES.items()})


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_topk_matches_oracle(engine_and_oracle, batch, name):
    engine, oracle = engine_and_oracle
    want = oracle.search(_oracle_req(SHAPES[name], amount=10))
    routes = {"search": engine.search(_req(SHAPES[name], amount=10)), "search_many": batch[name]}
    for route, got in routes.items():
        assert got["totalHits"] == want["totalHits"], (name, route)
        ids = [x["uniqueId"] for x in got["topk"]]
        assert ids == [x["uniqueId"] for x in want["topk"]], (name, route)
        for a, b in zip(got["topk"], want["topk"]):
            assert abs(a["score"] - b["score"]) < 1e-4, (name, route, a, b)


def test_rare_term_is_one_rare_token(corpus_t2):
    """The "rare" shape really is one term of df 1."""
    from zuliasearch_spark.analysis.analyzers import analyze_query_text, term_freqs

    settings = code_config().analyzer_for_indexed_field("content")
    assert analyze_query_text("737", settings) == ["737"]
    _, terms, _, _ = term_freqs(corpus_t2["content"], settings)
    assert (terms.to_numpy(zero_copy_only=False) == "737").sum() == 1


def test_batch_matches_individual(engine_and_oracle, batch):
    for name, query in SHAPES.items():
        solo = engine_and_oracle[0].search(_req(query, amount=10))
        assert batch[name]["totalHits"] == solo["totalHits"], name
        assert [x["uniqueId"] for x in batch[name]["topk"]] == [
            x["uniqueId"] for x in solo["topk"]
        ], name
