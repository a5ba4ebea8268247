"""Direct wildcard field patterns in queries (FieldWildcardTest:
`*Title:apache`, `*:slovak`, `|*Title|:11`, `|||docL*|||:2`), with
the 5.3.1 expansion rule: bare patterns expand ONLY against
user-indexed field names (never internal bookkeeping fields — the
implicit zuliaId projection, timestamps, length metas), wrap-shaped
patterns expand against the queryable length-wrap names, a pattern
matching nothing matches NO docs (MatchNoDocsQueryNode), and
explicit references to internal/meta fields keep working.

Semantics source: ServerIndexConfigData.getMatchingIndexFields,
ZuliaMultiFieldQueryNodeProcessor.preProcessNode.
"""

import dataclasses

import pandas as pd
import pytest

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine


@pytest.fixture(scope="module")
def engine(spark):
    # the FieldWildcardTest index shape: docTitle/altTitle/altTitle2
    # STANDARD-ish, documentId LC_KEYWORD, multivalued docLanguage
    cfg = IndexConfig(
        index_name="wildcards",
        unique_id_col="uniqueId",
        number_of_shards=1,
        default_search_fields=("docTitle",),
        store_length_meta=True,
        index_id_field=True,
        field_configs=(
            FieldConfig("documentId", index_as=(IndexAs("documentId", "lcKeyword"),)),
            FieldConfig("docTitle", index_as=(IndexAs("docTitle", "whitespace_lc"),)),
            FieldConfig("altTitle", index_as=(IndexAs("altTitle", "whitespace_lc"),)),
            FieldConfig("altTitle2", index_as=(IndexAs("altTitle2", "whitespace_lc"),)),
            FieldConfig("docLanguage", index_as=(IndexAs("docLanguage", "lcKeyword"),)),
            # the point-typed fields are configured (stored, no
            # postings): bare patterns probe configured fields only
            FieldConfig("isParent"),
            FieldConfig("parentDocId"),
        ),
        # FieldWildcardTest's mappings: title -> altTitle+docTitle,
        # title2 -> *Title pattern, altTitle -> altTitle2 includeSelf
        field_mappings=(
            ("title", ("altTitle", "docTitle"), False),
            ("title2", ("*Title",), False),
            ("altTitle", ("altTitle2",), True),
        ),
    )
    # isParent (BOOL index) + parentDocId (INT index) mirror the
    # reference corpus — in this engine point-typed fields are stored
    # doc-values columns probed at resolution time
    rows = [
        ("1", "1", "Search Blog", "Discover Blog", "Something else totally", ["en", "fr"], True, None),
        ("2", "2", "Spring Boot Blog", "Bouncy Blog", None, ["en", "fr"], True, None),
        ("3", "3", "Solr Blog", "Apache Solr Blog", None, ["fr", "slovak"], False, 1),
        ("4", "4", "Elastic Search Blog", "ES Blog", None, ["en", "czech"], False, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "uniqueId string, documentId string, docTitle string, altTitle string, "
        "altTitle2 string, docLanguage array<string>, isParent boolean, parentDocId int",
    )
    tables = build_index(df, cfg, stored_cols=("isParent", "parentDocId")).persist()
    yield SearchEngine(tables)
    tables.unpersist()


def _hits(engine, q):
    return engine.search_string(q, amount=10)["totalHits"]


def test_bare_patterns_expand_over_indexed_fields(engine):
    assert _hits(engine, "*Title:apache") == 1
    assert _hits(engine, "*Title:spring") == 1
    assert _hits(engine, "*Title:blog") == 4
    assert _hits(engine, "*:slovak") == 1
    assert _hits(engine, "*:2") == 1  # documentId "2" only


def test_bare_patterns_probe_point_fields(engine):
    # getMatchingIndexFields covers NUMERIC/BOOL index fields, so a
    # bare pattern value doubles as an inclusive point query on
    # doc-values-only fields (r4 deviation closed): documentId "1"
    # (text) + parentDocId==1 (docs 3, 4) + isParent true (docs 1, 2
    # — "1" is a valid spelling in the 5.3.3 boolean lexicon)
    assert _hits(engine, "*:1") == 4
    assert _hits(engine, "*DocId:1") == 2
    # boolean index field probed through the 5.3.3 lexicon
    assert _hits(engine, "*:true") == 2
    assert _hits(engine, "*:yes") == 2
    # a value no point field can represent silently contributes no
    # point hits (reference builds one point query per matched field;
    # non-parsing fields match nothing) — documentId "2" text only
    assert _hits(engine, "*:2") == 1


def test_pattern_matches_alias_names(engine):
    # getMatchingFields(field, includeAliases=true): 'titl*' matches
    # the ALIASES title and title2, unioning their mapped fields
    # (docTitle, altTitle) — blog hits every docTitle
    assert _hits(engine, "titl*:blog") == 4
    expanded = engine.config.expand_field("titl*")
    assert set(expanded) == {"docTitle", "altTitle"}


def test_match_all_not_swallowed_by_pattern_rule(engine):
    assert _hits(engine, "*:*") == 4


def test_pattern_matching_no_fields_matches_no_docs(engine):
    assert _hits(engine, "zzz*:blog") == 0
    assert _hits(engine, "*qqq:[1 TO 9]") == 0


def test_internal_fields_excluded_from_bare_expansion(engine):
    # every doc lists docTitle among its field names; only user
    # CONTENT may match, so this is 0 hits (5.3.1 fix shape)
    assert _hits(engine, "*:docTitle".lower()) == 0
    expanded = engine.config.expand_field("*")
    assert "zuliaId" not in expanded
    assert all(not f.startswith("_z") for f in expanded)
    assert set(expanded) == {"documentId", "docTitle", "altTitle", "altTitle2", "docLanguage"}


def test_explicit_internal_and_meta_references_still_work(engine):
    assert _hits(engine, 'zuliaId:1') == 1
    assert _hits(engine, "|docTitle|:11") == 1  # "Search Blog"


def test_wrap_patterns_expand_against_length_wraps(engine):
    # |*Title| covers |docTitle| and |altTitle| and |altTitle2|:
    # "Search Blog" and "Bouncy Blog" are 11 chars
    assert _hits(engine, "|*Title|:11") == 2
    # |||docL*||| expands to |||docLanguage|||: all 4 docs have 2 langs
    assert _hits(engine, "|||docL*|||:2") == 4
    # a wrap pattern matching nothing matches no docs
    assert _hits(engine, "|zzz*|:11") == 0


def test_wrap_pattern_ranges(engine):
    assert _hits(engine, "|*Title|:[11 TO 11]") == 2


def test_alias_expansion_unchanged(engine):
    cfg2 = dataclasses.replace(
        engine.config, field_mappings=(("title2", ("*Title",), False),)
    )
    # anchored: *Title does NOT match altTitle2 (FieldWildcardTest's
    # title2 mapping covers altTitle + docTitle only)
    assert set(cfg2.expand_field("title2")) == {"docTitle", "altTitle"}


def test_point_patterns_probe_configured_fields_only(spark):
    # uniqueId "2016", an unconfigured stored int and a configured one:
    # only the configured point field answers a bare pattern
    cfg = IndexConfig(
        index_name="points",
        unique_id_col="uniqueId",
        number_of_shards=1,
        default_search_fields=("title",),
        index_id_field=True,
        field_configs=(
            FieldConfig("title", index_as=(IndexAs("title", "whitespace_lc"),)),
            FieldConfig("published"),
        ),
    )
    df = spark.createDataFrame(
        [("2016", "alpha", None, None), ("b", "beta", 2016, None), ("c", "gamma", None, 2016)],
        "uniqueId string, title string, year int, published int",
    )
    tables = build_index(df, cfg, stored_cols=("year", "published")).persist()
    try:
        eng = SearchEngine(tables)
        res = eng.search_string("*:2016", amount=10)
        assert [t["uniqueId"] for t in res["topk"]] == ["c"]
        assert _hits(eng, "year:2016") == 1  # explicit references still work
    finally:
        tables.unpersist()


def test_point_pattern_never_targets_unique_id():
    from zuliasearch_spark.search.parser import RRange, parse_query, resolve_tree

    node = resolve_tree(
        parse_query("*:2016"),
        lambda f, t: [t],
        (),
        lambda f, rx: (),
        lambda f, t, e: (),
        expand_field=lambda f: (),
        date_fields=frozenset({"uniqueId", "year", "published"}),
        configured_fields=frozenset({"uniqueId", "published"}),
    )
    ranges = [c for _, c in node.children] if hasattr(node, "children") else [node]
    assert [r.fields for r in ranges if isinstance(r, RRange)] == [("published",)]
