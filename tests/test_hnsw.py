"""HNSW-served KNN (VectorConfig index_type="HNSW").

The reference indexes dense vectors through Lucene's per-segment
HNSW graphs (ZuliaPerFieldKnnVectorsFormat.java picks the codec per
IndexAs field; ZuliaIndex.buildKnnQuery:597-615 serves KNN from the
graph). Spark-first analogue: indexing/hnsw.py builds one graph per
shard in a grouped-pandas pass, stores it as a columnar adjacency
table partitioned by (field, shard), and queries traverse it with
beam efSearch per shard before a global top-k merge. These tests
pin:

- build determinism (hash-based levels, ordered insertion): two
  builds emit identical graph rows;
- recall@10 vs the FLAT exact oracle ≥ 0.95 on mildly clustered
  data at the default dials (Malkov & Yashunin 2016 fig. 10
  territory);
- liveDocs: a deleted doc never surfaces and k stays filled;
- the parquet write/read roundtrip serves identical results through
  the worker-side partition loader;
- boolean-pre-filtered VECTOR clauses follow Lucene's filtered-KNN
  cost rule (AbstractKnnVectorQuery): filters no bigger than the
  beam scan exactly inside the kernel; larger filters traverse the
  graph with a cogrouped accept list (collect-only-allowed) under a
  |filter| visited budget, with exact fallback.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig, VectorConfig
from zuliasearch_spark.indexing.builder import build_index, read_index, write_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import QueryClause, SearchRequest

DIM = 16
N = 600


def _rows():
    """Deterministic mildly-clustered corpus: 12 planted directions
    with per-doc wobble from a linear-congruential walk (no RNG —
    builds must replay byte-identically)."""
    rows = []
    state = 12345
    for i in range(N):
        c = i % 12
        v = np.zeros(DIM)
        v[c] = 1.0
        for j in range(DIM):
            state = (state * 1103515245 + 12345) % (1 << 31)
            v[j] += ((state / float(1 << 31)) - 0.5) * 0.4
        rows.append((f"d{i:04d}", f"tag{c}", [float(x) for x in v]))
    return rows


def _cfg(index_type="HNSW", **vk):
    return IndexConfig(
        index_name="hnsw_t",
        unique_id_col="uid",
        number_of_shards=2,
        default_search_fields=("tag",),
        field_configs=(
            FieldConfig("tag", index_as=(IndexAs("tag", "lcKeyword"),)),
            FieldConfig(
                "vec", vector_as=(VectorConfig("vec", index_type=index_type, **vk),)
            ),
        ),
        store_positions=False,
    )


def _queries():
    qs = []
    for c in range(6):
        v = np.zeros(DIM)
        v[c] = 1.0
        v[(c + 5) % DIM] = 0.3
        qs.append([float(x) for x in v])
    return qs


@pytest.fixture(scope="module")
def engines(spark):
    df = spark.createDataFrame(pd.DataFrame(_rows(), columns=["uid", "tag", "vec"]))
    hnsw = build_index(df, _cfg(), stored_cols=("vec",)).persist()
    flat = build_index(df, _cfg(index_type="FLAT"), stored_cols=("vec",)).persist()
    return SearchEngine(hnsw), SearchEngine(flat)


def _top_ids(eng, qv, k=10):
    return [r["uniqueId"] for r in eng._knn_top_rows(qv, "vec", k)]


def test_recall_at_10(engines):
    hnsw, flat = engines
    recalls = []
    for qv in _queries():
        a = set(_top_ids(hnsw, qv))
        e = set(_top_ids(flat, qv))
        recalls.append(len(a & e) / 10.0)
    assert np.mean(recalls) >= 0.95, recalls


def test_graph_build_deterministic(spark):
    df = spark.createDataFrame(
        pd.DataFrame(_rows()[:200], columns=["uid", "tag", "vec"])
    )
    t1 = build_index(df, _cfg(), stored_cols=("vec",))
    t2 = build_index(df, _cfg(), stored_cols=("vec",))
    g1 = t1.vector_graphs.select("shard", "doc_id", "level", "neighbors")
    g2 = t2.vector_graphs.select("shard", "doc_id", "level", "neighbors")
    p1 = g1.orderBy("shard", "doc_id", "level").toPandas()
    p2 = g2.orderBy("shard", "doc_id", "level").toPandas()
    assert p1["neighbors"].map(list).tolist() == p2["neighbors"].map(list).tolist()
    assert (p1["level"] == p2["level"]).all()


def test_live_docs_masked(spark):
    """Delete the top doc for a query: it never resurfaces through
    the graph (traversal routes through it but won't collect it) and
    k stays filled."""
    df = spark.createDataFrame(pd.DataFrame(_rows(), columns=["uid", "tag", "vec"]))
    eng = SearchEngine(build_index(df, _cfg(), stored_cols=("vec",)).persist())
    qv = _queries()[0]
    before = _top_ids(eng, qv, 10)
    eng.delete_by_unique_ids([before[0]])
    after = _top_ids(eng, qv, 10)
    assert before[0] not in after
    assert len(after) == 10
    assert after[:9] == before[1:10]


def test_parquet_roundtrip_serves_from_partitions(spark, engines, tmp_path):
    """write_index → read_index keeps the graph; the parquet-backed
    engine uses the shard-skeleton path (worker-side partition load)
    and returns the in-memory engine's exact results."""
    hnsw, _ = engines
    out = str(tmp_path / "hnsw_idx")
    tables = write_index(hnsw.tables, out)
    assert tables.vector_graphs is not None
    eng2 = SearchEngine(tables)
    for qv in _queries()[:3]:
        a = [(r["uniqueId"], r["cosine"]) for r in hnsw._knn_top_rows(qv, "vec", 10)]
        b = [(r["uniqueId"], r["cosine"]) for r in eng2._knn_top_rows(qv, "vec", 10)]
        assert a == b


def test_search_vector_matchall_matches_flat(engines):
    """The VECTOR clause with no boolean pre-filter (injected
    MatchAll) serves from the graph; at these dials the result set
    matches the exact FLAT clause on this corpus."""
    hnsw, flat = engines
    qv = _queries()[1]
    a = hnsw.search_vector(SearchRequest(), qv, "vec", k=10)
    e = flat.search_vector(SearchRequest(), qv, "vec", k=10)
    assert [t["uniqueId"] for t in a["topk"]] == [t["uniqueId"] for t in e["topk"]]
    for x, y in zip(a["topk"], e["topk"]):
        assert abs(x["score"] - y["score"]) < 1e-6


def test_prefiltered_vector_small_filter_exact(engines):
    """A boolean pre-filter no bigger than the beam takes the
    in-kernel exact scan (Lucene's filtered-KNN cost rule): results
    are exactly the filter-constrained exact top-k."""
    hnsw, flat = engines
    qv = _queries()[2]
    req = SearchRequest((QueryClause("FILTER", q="tag:tag2"),))
    a = hnsw.search_vector(req, qv, "vec", k=5)
    e = flat.search_vector(req, qv, "vec", k=5)
    assert [t["uniqueId"] for t in a["topk"]] == [t["uniqueId"] for t in e["topk"]]
    assert all(t["uniqueId"].endswith(("2", "4")) or True for t in a["topk"])
    got_tags = {int(t["uniqueId"][1:]) % 12 for t in a["topk"]}
    assert got_tags == {2}


def test_vector_should_with_graph(engines):
    """VECTOR_SHOULD over MatchAll: the graph's top-k get the cosine
    added; totals count every live doc."""
    hnsw, _ = engines
    qv = _queries()[3]
    res = hnsw.search_vector(SearchRequest(), qv, "vec", k=5, should=True, amount=5)
    assert res["totalHits"] == N
    assert len(res["topk"]) == 5
    assert res["topk"][0]["score"] > 0.5


def test_filtered_vector_graph_traversal(spark):
    """A filter BIGGER than the beam traverses the graph with the
    cogrouped accept list (collect-only-allowed, Lucene's
    acceptDocs): results stay inside the filter, k fills, and recall
    vs the exact filtered top-k is high on this corpus."""
    df = spark.createDataFrame(pd.DataFrame(_rows(), columns=["uid", "tag", "vec"]))
    hnsw = SearchEngine(
        build_index(df, _cfg(hnsw_ef_search=8), stored_cols=("vec",)).persist()
    )
    flat = SearchEngine(
        build_index(df, _cfg(index_type="FLAT"), stored_cols=("vec",)).persist()
    )
    tags = tuple(f"tag{c}" for c in range(6))  # 300 docs >> beam 10
    req = SearchRequest((QueryClause("TERMS", terms=tags, qf=("tag",)),))
    qv = _queries()[2]
    a = hnsw.search_vector(req, qv, "vec", k=10)
    e = flat.search_vector(req, qv, "vec", k=10)
    got = [t["uniqueId"] for t in a["topk"]]
    exact = [t["uniqueId"] for t in e["topk"]]
    assert len(got) == 10
    assert all(int(u[1:]) % 12 < 6 for u in got)  # inside the filter
    assert len(set(got) & set(exact)) >= 9


def test_filtered_vector_respects_deletes(spark):
    """Filtered graph KNN never resurfaces a tombstoned doc."""
    df = spark.createDataFrame(pd.DataFrame(_rows(), columns=["uid", "tag", "vec"]))
    eng = SearchEngine(build_index(df, _cfg(), stored_cols=("vec",)).persist())
    qv = _queries()[2]
    req = SearchRequest((QueryClause("FILTER", q="tag:tag2"),))
    before = [t["uniqueId"] for t in eng.search_vector(req, qv, "vec", k=5)["topk"]]
    eng.delete_by_unique_ids([before[0]])
    after = [t["uniqueId"] for t in eng.search_vector(req, qv, "vec", k=5)["topk"]]
    assert before[0] not in after
    assert len(after) == 5


def test_filtered_vector_should_scores_compose(engines):
    """Filtered VECTOR_SHOULD through the graph: matching unchanged,
    the k winners carry bm25 + cosine — identical to the FLAT
    engine's exact composition on a small filter."""
    hnsw, flat = engines
    qv = _queries()[4]
    req = SearchRequest(
        (
            QueryClause("SCORE_SHOULD", q="tag:tag4"),
            QueryClause("FILTER", q="tag:tag4"),
        )
    )
    a = hnsw.search_vector(req, qv, "vec", k=5, should=True, amount=5)
    e = flat.search_vector(req, qv, "vec", k=5, should=True, amount=5)
    assert a["totalHits"] == e["totalHits"] == 50
    assert [t["uniqueId"] for t in a["topk"]] == [t["uniqueId"] for t in e["topk"]]
    for x, y in zip(a["topk"], e["topk"]):
        assert abs(x["score"] - y["score"]) < 1e-6


def test_shard_memory_budget_guard(spark):
    """VectorConfig.hnsw_shard_budget_mb: a shard whose vector block
    can't fit one task's memory share fails the BUILD with the
    number_of_shards sizing hint instead of OOM-killing an executor
    (the same per-segment constraint Lucene has at flush)."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(_rows(), columns=["uid", "tag", "vec"])
    )
    tables = build_index(
        df, _cfg(hnsw_shard_budget_mb=0.01), stored_cols=("vec",)
    )
    with pytest.raises(Exception, match="hnsw_shard_budget_mb|number_of_shards"):
        tables.vector_graphs.collect()
    ok = build_index(df, _cfg(hnsw_shard_budget_mb=64), stored_cols=("vec",))
    assert ok.vector_graphs.count() > 0


def test_parquet_roundtrip_filtered_search_vector(spark, engines, tmp_path):
    """Filtered VECTOR and VECTOR_SHOULD on the parquet-backed graph
    (worker-side partition loader, cogrouped accept list) return the
    in-memory engine's exact results: one kernel, two graph loaders."""
    hnsw, _ = engines
    out = str(tmp_path / "hnsw_f")
    write_index(hnsw.tables, out)
    eng2 = SearchEngine(read_index(spark, out, hnsw.config))
    tags = tuple(f"tag{c}" for c in range(6))  # broader than the beam
    reqs = (
        SearchRequest((QueryClause("FILTER", q="tag:tag2"),)),
        SearchRequest((QueryClause("TERMS", terms=tags, qf=("tag",)),)),
        SearchRequest(
            (
                QueryClause("SCORE_SHOULD", q="tag:tag4"),
                QueryClause("TERMS", terms=tags, qf=("tag",)),
            )
        ),
    )

    def key(res):
        return res["totalHits"], [
            (t["uniqueId"], t["shard"], t["doc_id"], t["score"]) for t in res["topk"]
        ]

    qv = _queries()[4]
    for req in reqs:
        for should in (False, True):
            a = hnsw.search_vector(req, qv, "vec", k=5, should=should, amount=8)
            b = eng2.search_vector(req, qv, "vec", k=5, should=should, amount=8)
            assert key(a) == key(b)
            assert a["topk"]


def test_empty_vector_should_counts_live_docs(spark):
    """VECTOR_SHOULD with no clauses keeps every LIVE doc matched: a
    tombstoned doc is neither counted nor ranked."""
    df = spark.createDataFrame(pd.DataFrame(_rows(), columns=["uid", "tag", "vec"]))
    eng = SearchEngine(build_index(df, _cfg(), stored_cols=("vec",)).persist())
    qv = _queries()[3]
    before = eng.search_vector(SearchRequest(), qv, "vec", k=5, should=True, amount=5)
    gone = before["topk"][0]["uniqueId"]
    eng.delete_by_unique_ids([gone])
    res = eng.search_vector(SearchRequest(), qv, "vec", k=5, should=True, amount=5)
    assert res["totalHits"] == N - 1
    assert gone not in [t["uniqueId"] for t in res["topk"]]
    assert len(res["topk"]) == 5
