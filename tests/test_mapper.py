"""Typed object mapper (zulia-client fields/Mapper; MapperTest.java):
document round-trip with type restoration, annotation validation,
@Settings -> IndexConfig derivation, and an engine store/search/fetch
round-trip of mapped objects."""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import pytest

from zuliasearch_spark.mapper import (
    Mapper,
    embedded,
    indexed,
    not_saved,
    settings,
    stored,
    unique_id,
)


@settings(index_name="articles", number_of_shards=2, shard_query_cache_size=8)
@dataclass
class Article:
    id: str = unique_id()
    title: str = indexed(analyzer="whitespace_lc", default_search=True, default="")
    tags: list[str] = indexed(analyzer="lcKeyword", faceted=True, default_factory=list)
    views: set[int] = stored(default_factory=set)
    published: dt.datetime = stored(default=None)
    # numeric fields are doc-values (range/point queries + sorts over
    # the stored column), matching the reference's non-analyzed point
    # fields — indexed() is for text
    rating: int = stored(sorted=True, default=0)
    flag: bool = stored(default=False)
    big: int = stored(default=0)
    scratch: str = not_saved(default="")


# ---- MapperTest.testSimpleCase parity -----------------------------------


def test_document_roundtrip():
    d = dt.datetime(2025, 8, 18, 12, 0, 0)
    a = Article(
        id="test", title="a title", tags=["1", "2"], views={4, 6, 7},
        published=d, rating=14, flag=True, big=-(2**62), scratch="tmp",
    )
    m = Mapper(Article)
    doc = m.to_document(a)
    assert doc["title"] == "a title"
    assert doc["rating"] == 14
    assert len(doc["tags"]) == 2
    assert doc["views"] == [4, 6, 7]  # set stored as a (sorted) list
    assert doc["published"] == d
    assert doc["big"] == -(2**62)
    assert doc["flag"] is True
    assert "scratch" not in doc  # @NotSaved

    b = m.from_document(doc)
    assert b.id == a.id and b.title == a.title and b.tags == a.tags
    assert b.views == a.views  # restored as a set
    assert b.published == a.published
    assert b.rating == a.rating and b.flag is True and b.big == a.big
    assert b.scratch == ""  # NotSaved stays default


def test_unique_id_required_and_unique():
    @dataclass
    class NoId:
        x: str = indexed(default="")

    with pytest.raises(TypeError, match="unique id"):
        Mapper(NoId)

    @dataclass
    class TwoIds:
        a: str = unique_id(default="")
        b: str = unique_id(default="")

    with pytest.raises(TypeError, match="two unique id"):
        Mapper(TwoIds)

    @dataclass
    class IntId:
        a: int = unique_id(default=0)

    with pytest.raises(TypeError, match="must be a str"):
        Mapper(IntId)


def test_default_search_requires_indexed():
    @dataclass
    class Bad:
        id: str = unique_id(default="")
        x: str = stored(default="")

    Bad.__dataclass_fields__["x"].metadata[  # simulate @DefaultSearch on stored
        "zulia"
    ]["default_search"] = True
    with pytest.raises(TypeError, match="DefaultSearch must be on an Indexed"):
        Mapper(Bad)


@dataclass
class Inner:
    city: str = indexed(analyzer="lcKeyword", faceted=True, default="")
    zip: str = stored(default="")


@dataclass
class Outer:
    # (module scope: typing.get_type_hints resolves PEP 563 string
    # annotations against module globals, like any real model class)
    id: str = unique_id(default="")
    address: Inner = embedded(default=None)


def test_embedded_flattens_configs():
    m = Mapper(Outer)
    names = {fc.stored_field_name for fc in m.field_configs}
    assert names == {"address.city", "address.zip"}
    city = next(fc for fc in m.field_configs if fc.stored_field_name == "address.city")
    assert city.index_as[0].indexed_field_name == "address.city"
    assert city.facet_as == ("address.city",)

    o = Outer(id="1", address=Inner(city="Boston", zip="02134"))
    doc = m.to_document(o)
    assert doc["address"] == {"city": "Boston", "zip": "02134"}
    back = m.from_document(doc)
    assert back.address == Inner(city="Boston", zip="02134")


def test_settings_to_index_config():
    m = Mapper(Article)
    cfg = m.index_config()
    assert cfg.index_name == "articles"
    assert cfg.number_of_shards == 2
    assert cfg.unique_id_col == "id"
    assert cfg.default_search_fields == ("title",)
    assert cfg.query_cache_size == 8
    by_name = {fc.stored_field_name: fc for fc in cfg.field_configs}
    assert by_name["tags"].facet_as == ("tags",)
    assert by_name["rating"].sort_as == ("rating",) and by_name["rating"].index_as == ()
    assert by_name["title"].index_as[0].analyzer_name == "whitespace_lc"

    @dataclass
    class NoSettings:
        id: str = unique_id(default="")

    with pytest.raises(TypeError, match="No Settings annotation"):
        Mapper(NoSettings).index_config()


def test_settings_json_with_retired_sizing_keys_loads():
    # settings files written while per-shard request sizing existed
    # still carry its three keys
    import json

    from zuliasearch_spark.config import IndexConfig

    cfg = Mapper(Article).index_config()
    d = json.loads(cfg.to_json())
    d.update(request_factor=2.0, min_shard_request=2, shard_tolerance=0.0)
    assert IndexConfig.from_json(json.dumps(d)) == IndexConfig.from_json(cfg.to_json())


# ---- engine round-trip (createStore -> search -> fetch) ------------------


@pytest.mark.slow
def test_mapped_objects_through_engine(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from zuliasearch_spark.indexing.builder import build_index
    from zuliasearch_spark.search.executor import SearchEngine
    from zuliasearch_spark.search.query import QueryClause, SearchRequest

    m = Mapper(Article)
    objs = [
        Article(id=f"a{i}", title=f"spark engine doc {i}",
                tags=[f"t{i % 3}"], rating=i, views={i, i + 1},
                published=dt.datetime(2025, 1, 1 + i))
        for i in range(8)
    ]
    rows = m.to_rows(objs)
    df = spark.createDataFrame(rows)
    cfg = m.index_config()
    stored_cols = tuple(c for c in df.columns if c != cfg.unique_id_col)
    eng = SearchEngine(build_index(df, cfg, stored_cols=stored_cols))

    res = eng.search(SearchRequest((QueryClause("FILTER", q="spark", qf=("title",)),), amount=3))
    assert res["totalHits"] == 8

    got = [m.from_row(r) for r in eng.fetch(["a3"]).collect()]
    assert len(got) == 1
    assert got[0].id == "a3" and got[0].rating == 3 and got[0].views == {3, 4}
    assert got[0].published == dt.datetime(2025, 1, 4)

    fc = {r["value"]: r["cnt"] for r in eng.facet_counts(
        SearchRequest((QueryClause("FILTER", q="engine", qf=("title",)),)), "tags").collect()}
    assert fc == {"t0": 3, "t1": 3, "t2": 2}
