"""Doc-values search must never ship wide stored columns.

A doc-values leaf reaches the kernel as one narrow doc_map frame
cogrouped by shard with the postings: (shard, doc_id, one flag per
leaf). At 100-TB scale that input must stay O(matched rows × narrow
columns): if the full doc_map width leaks in (text bodies,
embeddings), every dv-bearing request moves match-set size ×
document width through the shuffle and the Arrow transfer (the
round-3 bench showed an 8× regression on numeric_set_count when a
wide frame was cached). These tests pin (a) the kernel's doc_map
input schema, and (b) the liveDocs invariant on the docvalues entry
points (search_docvalues / search_numeric_set tombstones are masked
in the kernel like every other leaf).
"""

import pandas as pd

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import QueryClause, SearchRequest


def _engine(spark):
    rows = [
        (
            f"d{i}",
            "alpha beta gamma",
            i * 10,
            "x" * 500,  # wide stored column standing in for a text body
            # wide stored column standing in for an embedding. i+1: a
            # ZERO vector would divide-by-zero the cosine under ANSI
            # mode — the reference REJECTS zero-magnitude vectors at
            # store time for cosine similarity (Lucene
            # VectorUtil.cosine); store-time rejection is a known
            # missing guard here (round-5 item)
            [float(i + 1)] * 16,
        )
        for i in range(12)
    ]
    cfg = IndexConfig(
        index_name="width",
        unique_id_col="uniqueId",
        number_of_shards=2,
        default_search_fields=("content",),
        field_configs=(
            FieldConfig("content", index_as=(IndexAs("content", "whitespace_lc"),)),
        ),
    )
    pdf = pd.DataFrame(rows, columns=["uniqueId", "content", "n", "body", "vec"])
    tables = build_index(
        spark.createDataFrame(pdf), cfg, stored_cols=("n", "body", "vec")
    ).persist()
    return SearchEngine(tables), tables


def test_docvalues_kernel_input_is_narrow(spark, monkeypatch):
    eng, tables = _engine(spark)
    kernel_inputs = []
    # patch the CONCRETE GroupedData class: the doc-values frame is the
    # other side of the cogroup that feeds the kernel
    grouped_cls = type(tables.doc_map.groupBy("shard"))
    orig = grouped_cls.cogroup

    def capture(grouped, other):
        kernel_inputs.append(list(other._df.columns))
        return orig(grouped, other)

    monkeypatch.setattr(grouped_cls, "cogroup", capture)
    try:
        req = SearchRequest((QueryClause("FILTER", q="content:alpha"),), amount=3)
        res = eng.search_docvalues(req, "n BETWEEN 20 AND 80", amount=3)
        assert res["totalHits"] == 7
        assert kernel_inputs, "search_docvalues no longer cogroups doc values — update test"
        for cols in kernel_inputs:
            assert "body" not in cols and "vec" not in cols, cols
            # predicate column is consumed by the filter, not shipped
            assert "n" not in cols, cols
            assert set(cols) == {"shard", "doc_id", "_dv0"}
    finally:
        monkeypatch.undo()
        tables.unpersist()


def test_docvalues_excludes_deleted(spark):
    eng, tables = _engine(spark)
    try:
        req = SearchRequest((QueryClause("FILTER", q="content:alpha"),), amount=20)
        before = eng.search_docvalues(req, "n >= 0", amount=20)
        assert before["totalHits"] == 12
        eng.delete_by_unique_ids(["d4", "d8"])
        after = eng.search_docvalues(req, "n >= 0", amount=20)
        assert after["totalHits"] == 10
        assert not {"d4", "d8"} & {t["uniqueId"] for t in after["topk"]}
        # NUMERIC_SET_NOT re-admits docs without the field but never
        # resurfaces tombstoned docs
        ns = eng.search_numeric_set(req, "n", (40, 80), negate=True, amount=20)
        # the only docs with n ∈ {40, 80} are the tombstoned ones, so
        # all 10 live docs pass the NOT-IN predicate
        assert ns["totalHits"] == 10
        ids = {t["uniqueId"] for t in ns["topk"]}
        assert not {"d4", "d8"} & ids
    finally:
        tables.unpersist()


def test_hybrid_mlt_persist_is_narrow(spark, monkeypatch):
    """The hybrid MLT match-set persist (three actions share it) must
    cache only the 4 narrow columns, never stored text/vectors."""
    eng, tables = _engine(spark)
    persisted_schemas = []
    df_cls = type(tables.doc_map)
    orig = df_cls.persist

    def capture(df, *a, **kw):
        persisted_schemas.append(list(df.columns))
        return orig(df, *a, **kw)

    monkeypatch.setattr(df_cls, "persist", capture)
    try:
        res = eng.more_like_this(
            fields=("content",),
            like_texts=("alpha beta gamma alpha beta",),
            vector_field="vec",
            like_vectors=([1.0] * 16,),
            vector_top_n=3,
            min_term_freq=1,
            min_doc_freq=1,
            max_doc_freq_pct=100,
            amount=5,
        )
        assert res["totalHits"] > 0
        assert persisted_schemas, "hybrid MLT no longer persists — update test"
        for cols in persisted_schemas:
            assert "body" not in cols and "vec" not in cols, cols
            assert set(cols) <= {"shard", "doc_id", "score", "uniqueId"}, cols
    finally:
        monkeypatch.undo()
        tables.unpersist()
