"""Distributed facet merge with error bounds, mirroring
FacetCombiner.java:41-144 and FacetTopNEdgeCaseTest: per-shard top-N
truncation, maxError per label, possibleMissing flags, and the
shard_facets=-1 exact baseline."""

import pandas as pd
import pytest

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import QueryClause as C
from zuliasearch_spark.search.query import SearchRequest
from zuliasearch_spark.util.hashing import find_shard_for_unique_id

# per-shard facet distributions chosen so shard_facets=2 truncation
# provably undercounts: shard0 a:10 b:8 c:5 d:4 / shard1 b:9 c:7 e:6 a:2
DIST = {0: [("a", 10), ("b", 8), ("c", 5), ("d", 4)], 1: [("b", 9), ("c", 7), ("e", 6), ("a", 2)]}


@pytest.fixture(scope="module")
def engine(spark):
    # mint uids routed (djb2) to the target shard
    pools = {0: [], 1: []}
    i = 0
    need = {s: sum(c for _, c in lst) for s, lst in DIST.items()}
    while any(len(pools[s]) < need[s] for s in pools):
        uid = f"u{i}"
        s = find_shard_for_unique_id(uid, 2)
        if len(pools[s]) < need[s]:
            pools[s].append(uid)
        i += 1
    rows = []
    for s, lst in DIST.items():
        it = iter(pools[s])
        for cat, cnt in lst:
            for _ in range(cnt):
                rows.append((next(it), "alpha", cat))
    cfg = IndexConfig(
        index_name="facetshard",
        unique_id_col="uniqueId",
        number_of_shards=2,
        default_search_fields=("content",),
        field_configs=(
            FieldConfig("content", index_as=(IndexAs("content", "whitespace_lc"),)),
        ),
    )
    pdf = pd.DataFrame(rows, columns=["uniqueId", "content", "cat"])
    tables = build_index(spark.createDataFrame(pdf), cfg, stored_cols=("cat",)).persist()
    yield SearchEngine(tables)
    tables.unpersist()


REQ = (C("FILTER", q="content:alpha"),)


def test_truncated_merge_error_bounds(engine):
    # shard_facets=2: shard0 reports a:10,b:8 (min 8); shard1 b:9,c:7
    # (min 7). Merged b:17 (both reported, maxError 0), a:10 (missing
    # from shard1, maxError 7), c:7 (missing from shard0, maxError 8).
    # top_n=2 keeps b,a; the cut c has count+maxError=15 >
    # minCountReturned=10 -> possibleMissing with bound 15.
    df, flags = engine.facet_counts_sharded(
        SearchRequest(REQ, amount=1), "cat", top_n=2, shard_facets=2
    )
    rows = [(r["value"], r["cnt"], r["max_error"]) for r in df.collect()]
    assert rows == [("b", 17, 0), ("a", 10, 7)]
    assert flags == {"possibleMissing": True, "maxValuePossibleMissing": 15}


def test_full_shard_lists_are_exact(engine):
    # shard_facets=-1: every shard reports everything -> exact global
    # counts, maxError 0, nothing possibly missing
    df, flags = engine.facet_counts_sharded(
        SearchRequest(REQ, amount=1), "cat", top_n=-1, shard_facets=-1
    )
    rows = [(r["value"], r["cnt"], r["max_error"]) for r in df.collect()]
    assert rows == [("b", 17, 0), ("a", 12, 0), ("c", 12, 0), ("e", 6, 0), ("d", 4, 0)]
    assert flags == {"possibleMissing": False, "maxValuePossibleMissing": 0}


def test_default_shard_facets_is_ten_times_top_n(engine):
    # shard_facets=0 takes the reference default 10*top_n
    # (QueryRequestValidator.java:50-56) — wide enough here to be exact
    df, flags = engine.facet_counts_sharded(
        SearchRequest(REQ, amount=1), "cat", top_n=5, shard_facets=0
    )
    rows = [(r["value"], r["cnt"]) for r in df.collect()]
    assert rows == [("b", 17), ("a", 12), ("c", 12), ("e", 6), ("d", 4)]
    assert not flags["possibleMissing"]


def test_merged_counts_never_exceed_truth_plus_error(engine):
    # the combiner's contract: true count <= reported + maxError
    truth = {"a": 12, "b": 17, "c": 12, "d": 4, "e": 6}
    df, _ = engine.facet_counts_sharded(
        SearchRequest(REQ, amount=1), "cat", top_n=5, shard_facets=3
    )
    for r in df.collect():
        assert r["cnt"] <= truth[r["value"]] <= r["cnt"] + r["max_error"], r


def test_pure_negation_facets_every_live_doc(engine):
    # a request of only negative clauses matches every doc its
    # negations leave (the reference's MatchAll fix-up); "beta" has
    # postings in no shard, so each shard answers from its doc_map
    req = SearchRequest((C("FILTER_NOT", q="content:beta"),), amount=1)
    rows = [(r["value"], r["cnt"]) for r in engine.facet_counts(req, "cat").collect()]
    assert rows == [("b", 17), ("a", 12), ("c", 12), ("e", 6), ("d", 4)]
