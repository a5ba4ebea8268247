"""Doc-values leaves (ranges / numeric sets) in NESTED or SHOULD
boolean positions — Lucene's BooleanQuery accepts IndexOrDocValuesQuery
clauses anywhere (ZuliaPointRangeQueryNodeBuilder builds them like any
other clause); the engine evaluates them as kernel leaves, so every
position takes the same evaluator as a top-level range.

Oracle: hand-computed counts/rankings over a 6-doc corpus.
"""

import pandas as pd
import pytest

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import SearchRequest


@pytest.fixture(scope="module")
def engine(spark):
    cfg = IndexConfig(
        index_name="mixed",
        unique_id_col="uniqueId",
        number_of_shards=2,
        default_search_fields=("text",),
        field_configs=(
            FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),
        ),
    )
    rows = [
        ("1", "alpha beta", 2010),
        ("2", "gamma delta", 2020),
        ("3", "alpha gamma", 2000),
        ("4", "beta delta epsilon", 2021),
        ("5", "alpha epsilon", 2018),
        ("6", "zeta", 1999),
    ]
    pdf = pd.DataFrame(rows, columns=["uniqueId", "text", "year"])
    tables = build_index(
        spark.createDataFrame(pdf), cfg, stored_cols=("year",)
    ).persist()
    yield SearchEngine(tables)
    tables.unpersist()


def _ids(engine, q, **kw):
    r = engine.search_string(q, amount=10, **kw)
    return r["totalHits"], sorted(x["uniqueId"] for x in r["topk"])


def test_should_range_unions_with_lexical(engine):
    # alpha docs {1,3,5} ∪ year>2015 {2,4,5} = {1,2,3,4,5}
    assert _ids(engine, "text:alpha OR year>2015") == (5, ["1", "2", "3", "4", "5"])


def test_nested_range_inside_and(engine):
    # (year>2015 {2,4,5} ∪ delta {2,4}) ∩ gamma {2,3} = {2}
    assert _ids(engine, "(year>2015 OR text:delta) AND text:gamma") == (1, ["2"])


def test_unmatched_range_leaves_lexical(engine):
    assert _ids(engine, "text:alpha OR year>2030") == (3, ["1", "3", "5"])


def test_mm_group_with_should_range(engine):
    # (alpha OR gamma)@2 = {3} ∪ year>2019 {2,4} = {2,3,4}
    assert _ids(engine, "(text:alpha OR text:gamma)@2 OR year>2019") == (3, ["2", "3", "4"])


def test_negated_mixed_group(engine):
    # NOT(alpha {1,3,5} ∪ year>2015 {2,4,5}) = {6}
    assert _ids(engine, "*:* AND NOT (text:alpha OR year>2015)") == (1, ["6"])


def test_pure_range_disjunction_with_not(engine):
    # (year<2005 {3,6} ∪ year>2019 {2,4}) minus delta {2,4} = {3,6}
    assert _ids(engine, "(year<2005 OR year>2019) AND NOT text:delta") == (2, ["3", "6"])


def test_range_or_scoring_keeps_lexical_order(engine):
    # dv-only matches score 0.0 and rank below lexical matches
    r = engine.search_string("text:zeta OR year>2019", amount=10)
    assert r["totalHits"] == 3
    assert r["topk"][0]["uniqueId"] == "6"
    assert r["topk"][0]["score"] > 0.0
    assert all(t["score"] == 0.0 for t in r["topk"][1:])


def test_facets_accept_nested_ranges(engine):
    # match_ids powers aggregation surfaces too (qs carries the full
    # grammar; clause-model q is the mini grammar)
    req = SearchRequest(qs="text:alpha OR year>2015", amount=1)
    m = engine.match_ids(req)
    assert m.count() == 5


def test_conjunct_fast_path_unchanged(engine):
    assert _ids(engine, "text:alpha AND year>2015") == (1, ["5"])
    assert _ids(engine, "year>2015") == (3, ["2", "4", "5"])
