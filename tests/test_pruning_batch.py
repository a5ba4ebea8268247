"""Block-max pruning + batch execution semantics.

Pruning must return the IDENTICAL ranked top-k (docIDs and scores) as
the dense path while decoding strictly fewer posting blocks on
selective queries (the Lucene TOP_SCORES analogy: totalHits may drop
to a lower bound, flagged via hitsExact). Batch execution
(`search_many`) must agree with issuing each request alone.

A value of PRUNABLE / FALLBACK is a clause tuple or, as a str, a query
string over ``content``: both compile to one boolean tree, and pruning
runs on the tree, whichever form built it.
"""

import pytest

from tests.conftest import code_config
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.query import QueryClause as C
from zuliasearch_spark.search.query import SearchRequest

PRUNABLE = {
    "rare": (C("SCORE_SHOULD", q="sym_7_a", qf=("content",)),),
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
    "qs_or3": "sym_7_a parse merge",
}

FALLBACK = {
    "filtered": (C("SCORE_SHOULD", q="index", qf=("content",)), C("FILTER", q="lang:python")),
    "neg_only": (C("FILTER_NOT", q="lang:go"),),
    # a zero boost on a scoring clause: its docs match with score 0,
    # outside every block's upper bound, so pruning must fall back to
    # dense rather than report an "exact" totalHits that misses them
    # ("164" is a content term of one document)
    "zero_boost": (
        C("SCORE_SHOULD", q="164", qf=("content",)),
        C("SCORE_SHOULD", q="parse", qf=("content",), boost=0.0),
    ),
}


def _req(query, **kw) -> SearchRequest:
    if isinstance(query, str):
        return SearchRequest(qs=query, qf=("content",), **kw)
    return SearchRequest(query, **kw)


@pytest.fixture(scope="module")
def engine(spark, corpus_t2):
    from zuliasearch_spark.search.executor import SearchEngine

    cfg = code_config(num_shards=4, docs_per_bucket=256, block_size=16)
    tables = build_index(spark.createDataFrame(corpus_t2), cfg).persist()
    eng = SearchEngine(tables)
    yield eng
    tables.unpersist()


@pytest.mark.parametrize("name", sorted(PRUNABLE) + sorted(FALLBACK))
def test_pruned_topk_identical(engine, name):
    query = {**PRUNABLE, **FALLBACK}[name]
    dense = engine.search(_req(query, amount=10))
    pruned = engine.search(_req(query, amount=10, block_max_pruning=True))
    d = [(x["uniqueId"], round(x["score"], 5)) for x in dense["topk"]]
    p = [(x["uniqueId"], round(x["score"], 5)) for x in pruned["topk"]]
    assert d == p, f"{name}: pruned top-k differs"
    assert pruned["totalHits"] <= dense["totalHits"]
    if pruned["hitsExact"]:
        assert pruned["totalHits"] == dense["totalHits"]


def _assert_skips_blocks(engine, query):
    engine.search(_req(query, amount=1))
    dense_decoded = engine.last_metrics["blocks_decoded"]
    pruned = engine.search(_req(query, amount=1, block_max_pruning=True))
    pruned_decoded = engine.last_metrics["blocks_decoded"]
    assert pruned_decoded < dense_decoded, (pruned_decoded, dense_decoded)
    dense = engine.search(_req(query, amount=1))
    assert [x["uniqueId"] for x in pruned["topk"]] == [x["uniqueId"] for x in dense["topk"]]


def test_pruning_skips_blocks(engine):
    """The canonical WAND scenario: a discriminative rare term OR'd
    with hot terms — once θ locks onto the rare-term score, the hot
    terms' blocks can't reach it and are never decoded."""
    _assert_skips_blocks(engine, (C("SCORE_SHOULD", q="sym_7_a parse merge", qf=("content",)),))


def test_pruning_skips_blocks_query_string(engine):
    """The same query as a query string prunes the same way."""
    _assert_skips_blocks(engine, "sym_7_a parse merge")


def test_batch_matches_individual(engine):
    reqs = {name: _req(query, amount=10) for name, query in PRUNABLE.items()}
    reqs["neg_only"] = SearchRequest(FALLBACK["neg_only"], amount=10)
    batch = engine.search_many(reqs)
    for name, req in reqs.items():
        solo = engine.search(req)
        assert batch[name]["totalHits"] == solo["totalHits"], name
        assert [x["uniqueId"] for x in batch[name]["topk"]] == [
            x["uniqueId"] for x in solo["topk"]
        ], name
