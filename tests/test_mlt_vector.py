"""MLT vector/hybrid modes + quantized vector encodings.

Mirrors the reference's ShardedVectorTest (vectorTopN cross-shard cap,
subset property, MLT-vs-VECTOR equivalence, hybrid not capped) and the
MoreLikeThisParams surface (zulia_query.proto:13-33): word-length
bounds, absolute maxDocFreq, maxNumTokensParsed, mm, documentId
sources with exclusion. Quantized encodings follow
VectorIndexingConfig (zulia_index.proto:250-270).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from zuliasearch_spark.config import (
    FieldConfig,
    IndexAs,
    IndexConfig,
    VectorConfig,
)
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import QueryClause, SearchRequest

DIM = 8
N_DOCS = 120
WORDS = ["alpha", "beta", "gamma", "delta", "merge", "parse", "scan", "verylongword"]


def _rows():
    rng = np.random.default_rng(7)
    rows = []
    for i in range(N_DOCS):
        text = " ".join(rng.choice(WORDS, size=12))
        vec = rng.normal(size=DIM)
        vec = vec / np.linalg.norm(vec)
        rows.append((f"d{i:04d}", text, [float(x) for x in vec]))
    return rows


def _cfg(encoding="FLOAT32", unit=True, oversample=4.0, calibration="QUANTILE"):
    return IndexConfig(
        index_name="mlt_vec",
        unique_id_col="uid",
        number_of_shards=5,  # ShardedVectorTest uses 5 shards
        default_search_fields=("text",),
        field_configs=(
            FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),
            FieldConfig(
                "emb",
                vector_as=(
                    VectorConfig(
                        "emb",
                        unit=unit,
                        encoding=encoding,
                        oversample=oversample,
                        calibration=calibration,
                    ),
                ),
            ),
        ),
        per_shard_stats=False,
        quantize_norms=False,
    )


@pytest.fixture(scope="module")
def rows():
    return _rows()


@pytest.fixture(scope="module")
def engine(spark, rows):
    df = spark.createDataFrame(rows, "uid string, text string, emb array<float>")
    tables = build_index(df, _cfg(), stored_cols=("text", "emb"))
    tables.persist()
    return SearchEngine(tables)


def _uids(res):
    return [t["uniqueId"] for t in res["topk"]]


# --------------------------------------------------------------- vector MLT


def test_pure_vector_topn_cap(engine, rows):
    """vectorTopN=3 across 5 shards returns exactly 3 results, not 5*3
    (ShardedVectorTest.searchTest; QueryCombiner.java:260-266)."""
    q = rows[7][2]
    res = engine.more_like_this(
        vector_field="emb", like_vectors=(q,), vector_top_n=3, amount=N_DOCS
    )
    assert res["totalHits"] == 3
    assert len(res["topk"]) == 3
    scores = [t["score"] for t in res["topk"]]
    assert scores == sorted(scores, reverse=True)
    assert len(set(_uids(res))) == 3  # no duplicates across shard merging
    assert _uids(res)[0] == "d0007"  # the doc's own vector ranks first


def test_topn_subset_property(engine, rows):
    """top-3 results are a subset of top-10 results (ShardedVectorTest)."""
    q = rows[7][2]
    r3 = engine.more_like_this(vector_field="emb", like_vectors=(q,), vector_top_n=3, amount=N_DOCS)
    r10 = engine.more_like_this(vector_field="emb", like_vectors=(q,), vector_top_n=10, amount=N_DOCS)
    assert r10["totalHits"] == 10
    assert set(_uids(r3)) <= set(_uids(r10))


def test_mlt_vector_matches_vector_query(engine, rows):
    """Pure-vector MLT returns the same documents as the equivalent
    VECTOR clause query (ShardedVectorTest.mltVectorTest)."""
    q = rows[11][2]
    mlt = engine.more_like_this(vector_field="emb", like_vectors=(q,), vector_top_n=5, amount=5)
    vec = engine.search_vector(SearchRequest(amount=N_DOCS), q, "emb", k=5)
    assert set(_uids(mlt)) == {t["uniqueId"] for t in vec["topk"]}


def test_hybrid_not_capped(engine, rows):
    """Hybrid MLT totalHits exceeds vectorTopN — lexical matches extend
    beyond the KNN pool (ShardedVectorTest.mltVectorTest tail)."""
    res = engine.more_like_this(
        text=rows[3][1], field="text", vector_field="emb",
        like_vectors=(rows[3][2],), vector_top_n=3, amount=N_DOCS,
        min_doc_freq=2, max_doc_freq_pct=95,
    )
    assert res["totalHits"] > 3
    scores = [t["score"] for t in res["topk"]]
    assert scores == sorted(scores, reverse=True)
    uids = _uids(res)
    assert len(uids) == len(set(uids))


def test_hybrid_vector_weight(engine, rows):
    """vector_weight scales only the KNN contribution
    (ZuliaIndex.applyWeight): the KNN-pool doc's score rises by
    (w-1)*cosine while pure-lexical docs are unchanged."""
    kw = dict(
        text=rows[3][1], field="text", vector_field="emb",
        like_vectors=(rows[3][2],), vector_top_n=1, amount=N_DOCS,
        min_doc_freq=2, max_doc_freq_pct=95,
    )
    r1 = engine.more_like_this(**kw)
    r3 = engine.more_like_this(**kw, vector_weight=3.0)
    s1 = {t["uniqueId"]: t["score"] for t in r1["topk"]}
    s3 = {t["uniqueId"]: t["score"] for t in r3["topk"]}
    # the KNN top-1 is the source doc's own vector: d0003
    assert s3["d0003"] == pytest.approx(s1["d0003"] + 2.0 * 1.0, abs=1e-4)
    others = [u for u in s1 if u != "d0003"][:5]
    for u in others:
        assert s3[u] == pytest.approx(s1[u], abs=1e-9)


def test_document_id_source_excluded(engine):
    """documentId-sourced MLT excludes the source docs from results by
    default; includeSourceDocs keeps them
    (MoreLikeThisParams.includeSourceDocs)."""
    res = engine.more_like_this(
        vector_field="emb", document_ids=("d0007",), vector_top_n=3, amount=N_DOCS
    )
    assert "d0007" not in _uids(res)
    assert res["totalHits"] == 2  # pool of 3 minus the excluded source
    kept = engine.more_like_this(
        vector_field="emb", document_ids=("d0007",), vector_top_n=3,
        amount=N_DOCS, include_source_docs=True,
    )
    assert _uids(kept)[0] == "d0007"
    assert kept["totalHits"] == 3


def test_document_id_lexical_source_excluded(engine, rows):
    """Lexical MLT from a stored doc: derives terms from the stored
    text column and excludes the source from the page."""
    res = engine.more_like_this(
        fields=("text",), document_ids=("d0003",), amount=10,
        min_doc_freq=2, max_doc_freq_pct=95,
    )
    assert res["terms"]
    assert "d0003" not in _uids(res)


def test_lexical_source_excluded_below_page(engine, rows):
    """A source doc that matches but ranks below the page is still
    excluded from totalHits: the exclusion is a MUST_NOT on the
    source ids in the query, not a cut of the returned page."""
    tf = {uid: text.split().count("parse") for uid, text, _ in rows}
    # one "parse" among 12 words: many docs hold more and outrank it
    src = next(u for u, c in tf.items() if c == 1)
    kw = dict(
        fields=("text",), like_texts=("parse " * 30,), document_ids=(src,),
        min_term_freq=1, min_doc_freq=1, max_doc_freq_pct=100, max_query_terms=1,
    )
    kept = engine.more_like_this(**kw, amount=N_DOCS, include_source_docs=True)
    assert kept["terms"] == ["parse"]
    n_match = sum(1 for c in tf.values() if c > 0)
    assert kept["totalHits"] == n_match
    assert _uids(kept).index(src) >= 2  # below amount + len(document_ids)
    res = engine.more_like_this(**kw, amount=1)
    assert res["totalHits"] == n_match - 1
    assert src not in _uids(res) and len(res["topk"]) == 1


def test_missing_source_doc_raises(engine):
    with pytest.raises(ValueError, match="not found"):
        engine.more_like_this(vector_field="emb", document_ids=("nope",), amount=5)


def test_no_sources_raises(engine):
    with pytest.raises(ValueError, match="must have either"):
        engine.more_like_this(amount=5)


def test_negative_topn_raises(engine, rows):
    with pytest.raises(ValueError, match="vectorTopN"):
        engine.more_like_this(
            vector_field="emb", like_vectors=(rows[0][2],), vector_top_n=-1
        )


def test_vector_dim_mismatch_raises(engine, rows):
    with pytest.raises(ValueError, match="dimension mismatch"):
        engine.more_like_this(
            vector_field="emb", like_vectors=(rows[0][2], [1.0, 0.0]), amount=5
        )


def test_like_vectors_averaged(engine, rows):
    """Multiple vectors resolve to their centroid
    (ZuliaIndexManager.rewriteMoreLikeThisQuery:749-763)."""
    a, b = np.array(rows[5][2]), np.array(rows[9][2])
    centroid = ((a + b) / 2).tolist()
    both = engine.more_like_this(
        vector_field="emb", like_vectors=(rows[5][2], rows[9][2]),
        vector_top_n=5, amount=5,
    )
    one = engine.more_like_this(
        vector_field="emb", like_vectors=(centroid,), vector_top_n=5, amount=5
    )
    assert _uids(both) == _uids(one)


# ------------------------------------------------------- MLT param surface


def test_word_length_bounds(engine, rows):
    """minWordLen/maxWordLen filter tokens before tf counting
    (MoreLikeThisLazyQuery.rewrite → mlt.setMinWordLen/setMaxWordLen)."""
    src = " ".join(["verylongword"] * 3 + ["beta"] * 3)
    base = engine.more_like_this(
        src, "text", amount=5, min_doc_freq=2, max_doc_freq_pct=95
    )
    assert "verylongword" in base["terms"] and "beta" in base["terms"]
    capped = engine.more_like_this(
        src, "text", amount=5, min_doc_freq=2, max_doc_freq_pct=95, max_word_len=6
    )
    assert "verylongword" not in capped["terms"] and "beta" in capped["terms"]
    floored = engine.more_like_this(
        src, "text", amount=5, min_doc_freq=2, max_doc_freq_pct=95, min_word_len=5
    )
    assert "beta" not in floored["terms"] and "verylongword" in floored["terms"]


def test_absolute_max_doc_freq_overrides_pct(engine, rows):
    """An explicit absolute maxDocFreq wins over the percentage
    (MoreLikeThisLazyQuery.rewrite)."""
    src = rows[3][1]
    loose = engine.more_like_this(src, "text", amount=5, min_doc_freq=2, max_doc_freq_pct=95)
    assert loose["terms"]
    tight = engine.more_like_this(
        src, "text", amount=5, min_doc_freq=2, max_doc_freq_pct=95, max_doc_freq=1
    )
    assert not tight["terms"]  # every term in a 120-doc corpus has df > 1


def test_max_num_tokens_parsed(engine):
    """Token reading stops after maxNumTokensParsed per source text
    (Lucene's per-reader cap)."""
    src = " ".join(["beta"] * 4) + " " + " ".join(["gamma"] * 4)
    base = engine.more_like_this(src, "text", amount=5, min_doc_freq=2, max_doc_freq_pct=95)
    assert {"beta", "gamma"} <= set(base["terms"])
    capped = engine.more_like_this(
        src, "text", amount=5, min_doc_freq=2, max_doc_freq_pct=95,
        max_num_tokens_parsed=4,
    )
    assert "gamma" not in capped["terms"] and "beta" in capped["terms"]


def test_mlt_mm(engine, rows):
    """query.mm applies to the derived term disjunction
    (MoreLikeThisLazyQuery.applyMinShouldMatch): every match must
    contain >= mm of the selected terms."""
    src = rows[3][1]
    base = engine.more_like_this(src, "text", amount=N_DOCS, min_doc_freq=2, max_doc_freq_pct=95)
    strict = engine.more_like_this(
        src, "text", amount=N_DOCS, min_doc_freq=2, max_doc_freq_pct=95,
        mm=len(base["terms"]),
    )
    assert strict["totalHits"] <= base["totalHits"]
    # the source doc itself contains every derived term
    assert "d0003" in _uids(strict)


def test_term_boosts_length_mismatch_raises():
    from zuliasearch_spark.search.query import resolve_clause

    clause = QueryClause("SCORE_SHOULD", terms=("a", "b"), term_boosts=(1.0,))
    with pytest.raises(ValueError, match="term_boosts"):
        resolve_clause(clause, lambda f, t: [t], ("text",))


# ------------------------------------------------------ quantized encodings


@pytest.fixture(scope="module")
def int8_engine(spark, rows):
    df = spark.createDataFrame(rows, "uid string, text string, emb array<float>")
    tables = build_index(df, _cfg("INT8"), stored_cols=("text", "emb"))
    tables.persist()
    return SearchEngine(tables)


def test_int8_columns_and_values(int8_engine, rows):
    """INT8 doc_map columns under the default QUANTILE calibration:
    _zvq_ tinyint codes clipped at ±127 against the shard's calibrated
    scale, _zvs_ that scale (ONE constant per shard — the Lucene-104
    segment-calibration shape), _zvn_ the quantized norm."""
    dm = int8_engine.tables.doc_map
    assert {"_zvq_emb", "_zvs_emb", "_zvn_emb"} <= set(dm.columns)
    assert dict(dm.dtypes)["_zvq_emb"] == "array<tinyint>"
    assert dm.select("shard", "_zvs_emb").distinct().count() == 5
    r = dm.filter(F.col("uniqueId") == "d0000").select("emb", "_zvq_emb", "_zvs_emb", "_zvn_emb").head()
    v = np.array(r["emb"], dtype=np.float64)
    scale = float(r["_zvs_emb"])
    assert scale > 0
    # Spark round() is HALF_UP; values here are nowhere near .5 ties
    expect = np.clip(np.round(v / scale), -127, 127).astype(np.int64)
    got = np.array(r["_zvq_emb"], dtype=np.int64)
    assert np.abs(expect - got).max() <= 1  # rounding-mode slack
    assert r["_zvn_emb"] == pytest.approx(float(np.sqrt((got * got).sum())), rel=1e-6)


def test_int8_maxabs_columns(spark, rows):
    """calibration="MAXABS" keeps the legacy per-vector scheme:
    _zvs_ = max|component|/127 per VECTOR, codes = round(v/scale)."""
    df = spark.createDataFrame(rows[:20], "uid string, text string, emb array<float>")
    tables = build_index(df, _cfg("INT8", calibration="MAXABS"), stored_cols=("text", "emb"))
    r = tables.doc_map.filter(F.col("uniqueId") == "d0000").select(
        "emb", "_zvq_emb", "_zvs_emb"
    ).head()
    v = np.array(r["emb"], dtype=np.float64)
    scale = np.abs(v).max() / 127.0
    assert r["_zvs_emb"] == pytest.approx(scale, rel=1e-6)
    got = np.array(r["_zvq_emb"], dtype=np.int64)
    assert np.abs(np.round(v / scale).astype(np.int64) - got).max() <= 1


def test_int8_rescore_matches_exact(engine, int8_engine, rows):
    """Oversample + full-precision rescore recovers the exact top-k
    (the INT8 recall contract the reference gets from Lucene's
    rescore pass)."""
    q = rows[21][2]
    req = SearchRequest(amount=N_DOCS)
    exact = engine.search_vector(req, q, "emb", k=5)
    quant = int8_engine.search_vector(req, q, "emb", k=5)
    assert [t["uniqueId"] for t in exact["topk"]] == [t["uniqueId"] for t in quant["topk"]]


def test_bbq_packing(spark, rows):
    """BBQ packs sign bits 64-per-long, MSB-first, remainder in the
    last word's low bits — verified against a NumPy reference pack."""
    df = spark.createDataFrame(rows[:10], "uid string, text string, emb array<float>")
    tables = build_index(df, _cfg("BBQ"), stored_cols=("text", "emb"))
    dm = tables.doc_map
    assert dict(dm.dtypes)["_zvq_emb"] == "array<bigint>"
    r = dm.filter(F.col("uniqueId") == "d0001").select("emb", "_zvq_emb").head()
    v = np.array(r["emb"], dtype=np.float64)
    acc = 0
    for x in v[:64]:
        acc = (acc << 1) | (1 if x >= 0 else 0)
    if acc >= 1 << 63:
        acc -= 1 << 64
    assert list(r["_zvq_emb"]) == [acc]


def test_bbq_search_recall(spark, rows):
    """1-bit BBQ first pass + exact rescore: top-1 is always the query
    doc itself; top-5 overlaps the exact top-5 heavily at dim=8."""
    df = spark.createDataFrame(rows, "uid string, text string, emb array<float>")
    tables = build_index(df, _cfg("BBQ", oversample=8.0), stored_cols=("text", "emb"))
    tables.persist()
    eng = SearchEngine(tables)
    q = rows[7][2]
    res = eng.more_like_this(vector_field="emb", like_vectors=(q,), vector_top_n=5, amount=5)
    assert _uids(res)[0] == "d0007"


def test_int4_levels(spark, rows):
    df = spark.createDataFrame(rows[:10], "uid string, text string, emb array<float>")
    tables = build_index(df, _cfg("INT4"), stored_cols=("text", "emb"))
    r = tables.doc_map.select("_zvq_emb").head()
    assert max(abs(int(x)) for x in r["_zvq_emb"]) <= 7


def test_quantized_plan_stays_jvm_side(int8_engine, rows):
    """The quantized first pass is Catalyst expressions — no Python
    row path (BatchEvalPython/ArrowEvalPython) in the candidate
    plan."""
    base = int8_engine.tables.doc_map.filter(F.col("emb").isNotNull())
    vf = int8_engine.config.vector_field("emb")
    cand = int8_engine._quantized_candidates(base, "emb", vf[1], rows[0][2], 5)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_vector_config_validation():
    with pytest.raises(ValueError, match="encoding"):
        VectorConfig("v", encoding="INT2")
    with pytest.raises(ValueError, match="index type"):
        VectorConfig("v", index_type="ANNOY")
    with pytest.raises(ValueError, match="hnsw_m"):
        VectorConfig("v", index_type="HNSW", hnsw_m=1)
    with pytest.raises(ValueError, match="nprobe"):
        VectorConfig("v", index_type="IVF", ivf_cells=4, ivf_nprobe=5)


def test_vector_config_json_roundtrip():
    cfg = _cfg("INT8")
    back = IndexConfig.from_json(cfg.to_json())
    assert back.vector_field("emb")[1] == VectorConfig("emb", unit=True, encoding="INT8", oversample=4.0)


def test_missing_stored_column_raises(spark, rows):
    df = spark.createDataFrame(rows[:5], "uid string, text string, emb array<float>")
    with pytest.raises(ValueError, match="stored_cols"):
        build_index(df, _cfg("INT8"), stored_cols=("text",)).doc_map.columns
