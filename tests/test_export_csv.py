"""CSV export surface (REST GET /query/csv + /query/facet —
QueryController.java:119-255, CSVUtil.java): cell quoting, multivalued
``;`` joins, batch cursor paging, the distributed lines path, and the
CLI flags."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.export import (
    csv_header,
    export_facet_csv,
    export_query_csv,
    query_csv_lines,
    quote_for_csv,
)
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import QueryClause as C
from zuliasearch_spark.search.query import SearchRequest


# ---- CSVUtil.quoteForCSV (CSVUtil.java:4-11) ---------------------------


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("plain", "plain"),
        ("has space", '"has space"'),
        ("a,b", '"a,b"'),
        ('say "hi"', '"say ""hi"""'),
        ("line\nbreak", '"line\nbreak"'),
        ("", ""),
        ("semi;colon", "semi;colon"),  # ; alone does not trigger quoting
    ],
)
def test_quote_for_csv(raw, expected):
    assert quote_for_csv(raw) == expected


def _doc_rows():
    return [
        {"uid": "a", "title": "alpha doc", "tags": ["x", "y"], "n": 3, "score_f": 1.5, "kind": "even"},
        {"uid": "b", "title": "plainb", "tags": [], "n": 1, "score_f": 2.0, "kind": "odd"},
        {"uid": "c", "title": 'quote "q", comma', "tags": ["with space", "z"], "n": 7, "score_f": 0.5, "kind": "even"},
        {"uid": "d", "title": "delta doc", "tags": None, "n": None, "score_f": 4.25, "kind": "odd"},
    ]


def _build(spark):
    cfg = IndexConfig(
        index_name="csvx",
        unique_id_col="uid",
        number_of_shards=2,
        default_search_fields=("title",),
        field_configs=(
            FieldConfig("title", index_as=(IndexAs("title", "whitespace_lc"),)),
            FieldConfig("kind", index_as=(IndexAs("kind", "lcKeyword"),), facet_as=("kind",)),
        ),
    )
    df = spark.createDataFrame(
        _doc_rows(),
        "uid string, title string, tags array<string>, n int, score_f double, kind string",
    )
    return build_index(
        df, cfg, stored_cols=("title", "tags", "n", "score_f", "kind")
    ).persist()


@pytest.fixture(scope="module")
def engine(spark):
    tables = _build(spark)
    yield SearchEngine(tables)
    tables.unpersist()


# expected cells per appendDocument (QueryController.java:637-705)
_EXPECTED = {
    "a": 'a,"alpha doc","x;y",3,1.5',
    "b": "b,plainb,,1,2.0",
    "c": 'c,"quote ""q"", comma",""with space";z",7,0.5',
    "d": 'd,"delta doc",,,4.25',
}
_FIELDS = ("uniqueId", "title", "tags", "n", "score_f")


def test_export_sorted_full(engine):
    req = SearchRequest(qs="*:*")
    out = export_query_csv(
        engine, req, _FIELDS, rows=10, sort_keys=(("zuliaId", True, True),)
    )
    lines = out.splitlines()
    assert lines[0] == "uniqueId,title,tags,n,score_f"
    assert lines[1:] == [_EXPECTED[u] for u in ("a", "b", "c", "d")]


def test_export_scored_order(engine):
    # scored path: top hits in result order, no sort keys
    req = SearchRequest((C("SCORE_MUST", q="title:doc"),), amount=10)
    out = export_query_csv(engine, req, _FIELDS, rows=10)
    lines = out.splitlines()
    assert lines[0] == "uniqueId,title,tags,n,score_f"
    got_ids = [ln.split(",")[0] for ln in lines[1:]]
    topk = [t["uniqueId"] for t in engine.search(req, fetch="ids")["topk"]]
    assert got_ids == topk
    assert set(got_ids) == {"a", "d"}  # the two "... doc" titles


def test_export_batch_cursor_pages(engine):
    # batch mode pages with the searchAfter cursor and stitches
    # without gaps or duplicates (getBatchStream:198-238)
    req = SearchRequest(qs="*:*")
    full = export_query_csv(
        engine, req, _FIELDS, sort_keys=(("zuliaId", True, True),), rows=100
    )
    paged = export_query_csv(
        engine,
        req,
        _FIELDS,
        sort_keys=(("zuliaId", True, True),),
        batch=True,
        batch_size=3,
    )
    assert paged == full
    # cursor requires a sort, same error contract as the REST endpoint
    with pytest.raises(ValueError, match="Sort on unique value"):
        export_query_csv(engine, req, _FIELDS, batch=True)


def test_mask_fields_dropped(engine):
    req = SearchRequest((C("FILTER", q="title:alpha"),))
    out = export_query_csv(
        engine, req, ("uniqueId", "-title", "n"), sort_keys=(("zuliaId", True, True),)
    )
    assert out.splitlines() == ["uniqueId,n", "a,3"]
    with pytest.raises(ValueError, match="fields are required"):
        csv_header(("-title",))


def test_query_csv_lines_distributed(engine):
    # the scale path: a DataFrame of finished lines, one per match
    req = SearchRequest((C("FILTER", q="kind:even"),))
    df = query_csv_lines(engine, req, _FIELDS)
    assert df.columns == ["line"]
    got = sorted(r["line"] for r in df.collect())
    assert got == [_EXPECTED["a"], _EXPECTED["c"]]


def test_query_csv_lines_skips_deleted(spark):
    # match_ids masks tombstones, so a deleted doc exports no line
    tables = _build(spark)
    try:
        eng = SearchEngine(tables)
        eng.delete_by_unique_ids(["c"])
        df = query_csv_lines(eng, SearchRequest(qs="*:*"), _FIELDS)
        got = sorted(r["line"] for r in df.collect())
        assert got == [_EXPECTED[u] for u in ("a", "b", "d")]
    finally:
        tables.unpersist()


def test_facet_csv(engine):
    req = SearchRequest(qs="*:*")
    out = export_facet_csv(engine, req, ("kind",))
    lines = out.splitlines()
    assert lines[0] == "facetName,facetKey,facetValue"
    assert sorted(lines[1:]) == ['kind,"even",2', 'kind,"odd",2']


def test_timestamp_cell_java_date_format(spark):
    # date cells print java.util.Date.toString() under the UTC session
    from zuliasearch_spark.export import csv_line_expr

    df = spark.createDataFrame(
        [("x", "2024-03-05 06:07:08")], "uid string, ts string"
    ).select("uid", F.col("ts").cast("timestamp").alias("ts"))
    line = df.select(csv_line_expr(df.schema, ("uid", "ts"))).collect()[0]["line"]
    assert line == "x,Tue Mar 05 06:07:08 UTC 2024"


@pytest.mark.slow
def test_cli_csv_flags(spark, tmp_path, capsys):
    from zuliasearch_spark.tools import main

    home = str(tmp_path / "home")
    cfg = IndexConfig(
        index_name="clicsv",
        unique_id_col="uid",
        number_of_shards=1,
        default_search_fields=("title",),
        field_configs=(
            FieldConfig("title", index_as=(IndexAs("title", "whitespace_lc"),)),
            FieldConfig("kind", index_as=(IndexAs("kind", "lcKeyword"),), facet_as=("kind",)),
        ),
    )
    settings = tmp_path / "settings.json"
    settings.write_text(cfg.to_json())
    corpus = tmp_path / "docs.jsonl"
    corpus.write_text(
        "\n".join(
            json.dumps({"uid": f"d{i}", "title": f"doc {i}", "kind": "even" if i % 2 == 0 else "odd"})
            for i in range(6)
        )
    )
    assert main(["--home", home, "createIndex", "--settings", str(settings)]) == 0
    assert main(["--home", home, "index", "--index", "clicsv", "--input", str(corpus), "--segments", "1"]) == 0
    capsys.readouterr()

    assert (
        main(
            ["--home", home, "query", "--index", "clicsv", "--csv",
             "--fl", "uniqueId", "kind", "--sort", "zuliaId", "--batch", "--batchSize", "2"]
        )
        == 0
    )
    out = capsys.readouterr().out
    lines = out.splitlines()
    assert lines[0] == "uniqueId,kind"
    assert len(lines) == 7 and lines[1].startswith("d0,")

    assert (
        main(["--home", home, "query", "--index", "clicsv", "--facetCsv", "--facet", "kind"])
        == 0
    )
    out = capsys.readouterr().out
    assert out.splitlines()[0] == "facetName,facetKey,facetValue"
    assert 'kind,"even",3' in out
