"""Driver correctness-gate queries: Spark engine vs DuckDB oracle SQL.

Each ``q_*`` function runs an engine/pipeline operator over the
driver-provided parquet tables (documents/embeddings) and has a
matching ANSI-SQL oracle in ``ORACLE_SQL`` that DuckDB executes on
the same tables. Column names/aliases are identical on both sides;
floating-point outputs are rounded to 4 decimals AFTER ranking by a
7-decimal-rounded key + id (so fp noise in the last ulp can neither
reorder nor re-select rows).

The search-family queries exercise the REAL engine end-to-end (index
build → postings → DAAT kernel → merge) with ``quantize_norms=False``
and global statistics, because a SQL oracle computes exact-dl,
collection-global BM25. (Lucene-parity mode — SmallFloat-quantized
norms, per-shard stats, float32 — is covered by the oracle golden
tests in tests/test_search_parity.py, where the reference semantics
live.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig, VectorConfig
from zuliasearch_spark.indexing.builder import bool_coerce, build_index, int_coerce
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import QueryClause, SearchRequest

_ENGINE_CACHE: dict[str, SearchEngine] = {}

# whitespace+lowercase tokenization, replicated in SQL as
# unnest(string_split(text,' ')) — the documents table is single-space
# tokenized, so the two agree exactly.
_TOKS_CTE = (
    "toks AS (SELECT doc_id, lower(t.tok) AS term "
    "FROM documents, unnest(string_split(text, ' ')) AS t(tok) WHERE t.tok <> '')"
)


def documents_config() -> IndexConfig:
    return IndexConfig(
        index_name="documents",
        unique_id_col="uid",
        number_of_shards=4,
        default_search_fields=("text",),
        field_configs=(
            FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),
            FieldConfig("lang", index_as=(IndexAs("lang", "lcKeyword"),), facet_as=("lang",)),
            FieldConfig("source", index_as=(IndexAs("source", "lcKeyword"),), facet_as=("source",)),
            # nullable derived column (NULL on every 5th doc, "" on
            # every 7th) for exists / null-empty gates (NullEmptyTest)
            FieldConfig("opt_note", index_as=(IndexAs("opt_note", "whitespace_lc"),)),
            # dense-vector field served from a build-time IVF cell
            # partitioning (VectorConfig index_type="IVF"): KNN gates
            # probe nearest cells instead of scanning the corpus.
            # Defaults: 8 cells, probes = max(3, ceil(k/2)) capped at
            # 8 — k=10 gates probe 5/8 cells, the k≥15 MLT pools
            # saturate to all cells (≡ exact FLAT). The synthetic
            # embeddings are near-uniform (IVF's hardest case), so
            # the gate-visible pruning is modest; clustered-data
            # pruning + the recall contract live in
            # tests/test_ivf_clause.py.
            FieldConfig("embedding", vector_as=(VectorConfig("embedding", index_type="IVF"),)),
            # multivalued facet: array<string> counted per element
            FieldConfig("tags", facet_as=("tags",)),
        ),
        per_shard_stats=False,  # SQL oracle computes collection-global stats
        quantize_norms=False,  # SQL oracle scores with exact field lengths
        store_length_meta=True,  # |field| / |||field||| meta queries
        index_id_field=True,  # implicit zuliaId term field (TermQueryTest)
        store_timestamp=True,  # implicit _ztsf_ store clock (SimpleTest)
    )


# fixed build wall clock (epoch ms, 2025-08-18T00:00:00Z) so the
# _ztsf_ timestamp gates are deterministic across runs
GATE_TS = 1755475200000


def documents_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Build (once per sf_dir) the inverted index over the documents table."""
    eng = _ENGINE_CACHE.get(sf_dir)
    if eng is not None:
        return eng
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    # uid zero-padded so per-shard doc order == numeric doc_id order,
    # making engine tie-breaks identical to ORDER BY score DESC, doc_id
    # broadcast join keeps the scan's partition layout + row order —
    # the narrow lineage assign_ids requires (no shuffle of docs)
    corpus = docs.join(F.broadcast(emb), "doc_id", "left").select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("uid"),
        F.col("doc_id").alias("orig_doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
        # hierarchical facet path (source/lang), the facetPathSplitter
        # surface (ShardDocumentIndexer.generateFacetLabels:515-520)
        F.concat_ws("/", "source", "lang").alias("src_path"),
        # per-doc embedding (FieldConfig VECTOR type) for VECTOR clauses
        "embedding",
        # BOOL field stored through the strict STRING lexicon
        # (BooleanUtil.parseBoolean(String): exactly true/t/yes/y/1 +
        # false/f/no/n/0): mixed spellings coerce to one value
        bool_coerce(
            F.when(F.col("n_chars") > 300, F.lit("yes")).otherwise(F.lit("0")),
            string_input=True,
        ).alias("long_flag"),
        # nullable/empty indexed column: NULL (no exists), "" (exists,
        # zero tokens), or the source tag (exists, tokens)
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 7 == 0, F.lit(""))
        .otherwise(F.col("source"))
        .alias("opt_note"),
        # stat column absent for two whole facet labels — the
        # StatFacetNoValueTest shape (docs carry the facet but no
        # numeric value)
        F.when(F.col("source").isin("src0", "src1"), F.lit(None).cast("long"))
        .otherwise(F.col("n_chars"))
        .alias("opt_chars"),
        # NUMERIC_INT stored through store-time coercion: the source
        # value is a Double encoding of a whole number
        # (NumericFacetConversionTest — 2020.0 must facet as "2020")
        int_coerce((F.lit(2015.0) + (F.col("doc_id") % 7).cast("double"))).alias("year"),
        # multivalued facet field (FacetTest List-valued facets):
        # every 4th doc repeats a value INSIDE the doc (counts once),
        # every 11th is an empty list, every 13th is NULL
        F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("array<string>"))
        .when(F.col("doc_id") % 11 == 0, F.array().cast("array<string>"))
        .when(F.col("doc_id") % 4 == 0, F.array("source", "lang", "lang"))
        .otherwise(F.array("source", "lang"))
        .alias("tags"),
    )
    tables = build_index(
        corpus,
        documents_config(),
        stored_cols=(
            "orig_doc_id", "lang", "source", "n_chars", "src_path", "embedding",
            "long_flag", "opt_chars", "year", "text", "tags",
        ),
        timestamp=GATE_TS,
    )
    tables.persist()
    eng = SearchEngine(tables)
    _ENGINE_CACHE[sf_dir] = eng
    return eng


def _topk_df(spark: SparkSession, engine: SearchEngine, req: SearchRequest, k: int) -> DataFrame:
    """Engine top-k → (doc_id, score) rows, re-ranked by rounded score."""
    res = engine.search(req)
    rows = [(int(t["uniqueId"]), float(t["score"])) for t in res["topk"]]
    rows.sort(key=lambda r: (-round(r[1], 7), r[0]))
    rows = [(d, float(round(s, 4))) for d, s in rows[:k]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


# --------------------------------------------------------------------------
# search family


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (QueryClause("SCORE_SHOULD", q="spark query merge", qf=("text",)),), amount=50
    )
    return _topk_df(spark, eng, req, 10)


def q_bm25_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (
            QueryClause("SCORE_SHOULD", q="window sort", qf=("text",)),
            QueryClause("FILTER", q="lang:en"),
        ),
        amount=50,
    )
    return _topk_df(spark, eng, req, 10)


def q_and_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (QueryClause("SCORE_MUST", q="hash join", qf=("text",), default_op="AND"),), amount=1
    )
    hits = eng.search(req, fetch="none")["totalHits"]
    return spark.createDataFrame([(hits,)], "hits bigint")


def q_terms_set_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (
            QueryClause("TERMS", terms=("es", "de"), qf=("lang",)),
            QueryClause("FILTER_NOT", q="source:src0"),
        ),
        amount=1,
    )
    hits = eng.search(req, fetch="none")["totalHits"]
    return spark.createDataFrame([(hits,)], "hits bigint")


def q_and_multifield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field AND: every token must match in ≥1 of the qf fields
    (per-token OR-across-fields groups,
    ZuliaMultiFieldQueryNodeProcessor.java:36-60). A doc with only one
    of the tokens must NOT match — the round-1 bug degraded this to
    OR(mm=1)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (QueryClause("FILTER", q="en merge", qf=("text", "lang"), default_op="AND"),), amount=1
    )
    hits = eng.search(req, fetch="none")["totalHits"]
    return spark.createDataFrame([(hits,)], "hits bigint")


def q_sim_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFIDF/ClassicSimilarity override (ShardReader.java:562-564):
    score = sqrt(tf) · (ln((N+1)/(df+1)) + 1) / sqrt(dl)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (QueryClause("SCORE_SHOULD", q="merge scan", qf=("text",)),),
        amount=50,
        similarities=(("text", "TFIDF"),),
    )
    return _topk_df(spark, eng, req, 10).withColumnRenamed("score", "tfidf_score")


def q_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query, BM25-scored with phrase frequency and
    summed constituent idfs (Lucene PhraseQuery / ExactPhraseMatcher;
    grammar QUOTED ZuliaSyntaxParser.jj:171). Needs the positions
    stream built by store_positions=True."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (QueryClause("SCORE_SHOULD", phrase=("merge", "scan"), qf=("text",)),), amount=50
    )
    return _topk_df(spark, eng, req, 10)


def q_phrase_slop_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity phrase "merge scan"~2 as a FILTER (sloppy 2-term
    metric: min |offset(b) − offset(a)| ≤ slop)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (QueryClause("FILTER", phrase=("merge", "scan"), slop=2, qf=("text",)),), amount=1
    )
    hits = eng.search(req, fetch="none")["totalHits"]
    return spark.createDataFrame([(hits,)], "hits bigint")


def q_qs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-string syntax end-to-end (search.parser →
    matcher.evaluate_tree): a boosted required group plus a bare
    disjunct — '(merge AND scan)^2 window'. Docs matching the group
    get 2·(s_merge + s_scan); everyone needs ≥1 should-match."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(qs="(merge AND scan)^2 window", qf=("text",), amount=50)
    return _topk_df(spark, eng, req, 10)


def q_range_or_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-values ranges in NESTED / SHOULD boolean positions
    (Lucene accepts IndexOrDocValuesQuery clauses anywhere; the engine
    evaluates them as kernel leaves): a range under OR inside an AND
    group, and a bare lexical-OR-range union."""
    eng = documents_engine(spark, sf_dir)
    h1 = eng.search_string("(n_chars>400 OR window) AND merge", qf=("text",), amount=1)["totalHits"]
    h2 = eng.search_string("scan OR n_chars<=120", qf=("text",), amount=1)["totalHits"]
    return spark.createDataFrame([(h1, h2)], "hits_nested bigint, hits_or bigint")


def q_qs_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-string booleans with NOT and nesting:
    '(merge AND scan) OR window -lang:fr'."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(qs="((merge AND scan) OR window) -lang:fr", qf=("text",), amount=1)
    hits = eng.search(req, fetch="none")["totalHits"]
    return spark.createDataFrame([(hits,)], "hits bigint")


def q_upsert_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert build (Store replaces by uniqueId,
    ZuliaShard.java:337-352): every doc_id % 10 == 0 document is
    re-stored with new text at version 1; the build keeps only the
    newest row per uid. Returns counts proving the replacement."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("uid"),
        "text",
        F.lit(0).alias("ver"),
    )
    updated = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("uid"),
            F.lit("upserted fresh corpus row").alias("text"),
            F.lit(1).alias("ver"),
        )
    )
    cfg = IndexConfig(
        index_name="upsert_gate",
        unique_id_col="uid",
        number_of_shards=4,
        default_search_fields=("text",),
        field_configs=(FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),),
        per_shard_stats=False,
        quantize_norms=False,
        upsert_order_col="ver",
    )
    from zuliasearch_spark.indexing.builder import build_index as _bi

    tables = _bi(base.unionByName(updated), cfg)
    eng = SearchEngine(tables)
    n_upserted = eng.search(
        SearchRequest((QueryClause("FILTER", q="text:upserted"),), amount=1), fetch="none"
    )["totalHits"]
    n_docs = sum(eng.get_number_of_docs().values())
    return spark.createDataFrame([(n_upserted, n_docs)], "n_upserted bigint, n_docs bigint")


def q_facet_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    return eng.facet_counts(req, "lang", top_n=10)


def q_facet_multivalued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivalued facet counts (FacetTest List-valued facet fields):
    the array facet column counts per ELEMENT, a value repeated inside
    one doc counting once (SortedSetDocValues ordinal semantics);
    empty lists and NULLs contribute nothing."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    return eng.facet_counts(req, "tags", top_n=10)


def q_facet_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical facet counts: children of path ('src1',) on the
    source/lang taxonomy over the text:merge match set
    (HierarchicalFacetTest semantics; getTopChildren)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    return eng.facet_path_counts(req, "src_path", path=("src1",), top_n=10)


def q_drill_down_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-down: scored query constrained to the facet-path prefix
    ('src2',) (ZuliaIndex.java:723-761 drill-down FILTER)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("SCORE_SHOULD", q="index scan", qf=("text",)),), amount=1)
    pred = eng.drill_down_predicate("src_path", ("src2",))
    res = eng.search_docvalues(req, pred, amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_drill_down_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DrillDown surface in one request (ZuliaIndex.getQuery:
    726-758): a multi-value OR group with minimum-should-match over
    the source/lang taxonomy, composed with an exclude (MUST_NOT)
    group on a nested (value, path) drill-down term."""
    from zuliasearch_spark.search.query import DrillDown

    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("SCORE_SHOULD", q="index scan", qf=("text",)),), amount=1)
    pred = eng.drill_downs_predicate(
        (
            DrillDown("src_path", (("src1",), ("src2",), ("src3",)), operator="OR", mm=1),
            DrillDown("src_path", (("src2", "fr"),), exclude=True),
        )
    )
    res = eng.search_docvalues(req, pred, amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_fetch_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BatchFetch with projection + masking (documentFields /
    documentMaskedFields, zulia_service.proto:71-73): request lang +
    n_chars, mask lang — only n_chars survives."""
    eng = documents_engine(spark, sf_dir)
    uids = [str(d).zfill(12) for d in (3, 7, 11)]
    out = eng.fetch(
        uids,
        fetch_type="FULL",
        document_fields=("lang", "n_chars"),
        document_masked_fields=("lang",),
    )
    assert "lang" not in out.columns and "text" not in out.columns
    return out.select(
        out["uniqueId"].cast("bigint").alias("doc_id"),
        out["n_chars"].cast("long").alias("n_chars"),
    )


_MULTI_CACHE: dict[str, object] = {}


def q_multi_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two physical indexes (source split at src5) searched through a
    MultiIndexSearcher alias — each index scores with its OWN
    statistics and the federator merges by score
    (MultiIndexAliasTest; QueryCombiner merge)."""
    from zuliasearch_spark.search.multi import MultiIndexSearcher

    ms = _MULTI_CACHE.get(sf_dir)
    if ms is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        corpus = docs.select(
            F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("uid"),
            "text",
            "source",
        )
        cfg = IndexConfig(
            index_name="half",
            unique_id_col="uid",
            number_of_shards=2,
            default_search_fields=("text",),
            field_configs=(FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),),
            per_shard_stats=False,
            quantize_norms=False,
        )
        lo = build_index(corpus.filter(F.col("source") < "src5"), cfg).persist()
        hi = build_index(corpus.filter(F.col("source") >= "src5"), cfg).persist()
        ms = MultiIndexSearcher(
            {"half_lo": SearchEngine(lo), "half_hi": SearchEngine(hi)},
            aliases={"all_docs": "half_lo"},
        )
        _MULTI_CACHE[sf_dir] = ms
    req = SearchRequest(
        (QueryClause("SCORE_SHOULD", q="merge scan", qf=("text",)),), amount=50
    )
    res = ms.search(req, indexes=("half_lo", "half_hi"))
    rows = [(int(t["uniqueId"]), float(t["score"])) for t in res["topk"]]
    rows.sort(key=lambda r: (-round(r[1], 7), r[0]))
    rows = [(d, float(round(s, 4))) for d, s in rows[:10]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def q_highlight_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document highlighting: every query-term occurrence
    wrapped in pre/post tags (ZuliaHighlighter formatter surface)."""
    from zuliasearch_spark.search.highlight import highlight

    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    matches = eng.match_ids(req).select("shard", "doc_id")
    # text is a stored field (the reference always stores the source
    # document), so the highlight reads it straight from doc_map
    j = matches.join(eng.tables.doc_map, ["shard", "doc_id"])
    out = highlight(j, "text", ("merge",), n_fragments=0)
    return out.select(
        F.col("orig_doc_id").alias("doc_id"),
        F.col("n_tagged"),
        F.substring("highlighted", 1, 80).alias("head"),
    )


def q_vector_clause_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTOR clause composed with a boolean pre-filter
    (handleVectorQuery, ZuliaIndex.java:566-615): KNN top-10 by
    cosine among docs matching text:merge, scored by similarity."""
    eng = documents_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=10)
    res = eng.search_vector(req, qv, "embedding", k=10)
    rows = [(int(t["uniqueId"]), float(t["score"])) for t in res["topk"]]
    rows.sort(key=lambda r: (-round(r[1], 7), r[0]))
    rows = [(d, float(round(s, 4))) for d, s in rows]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def q_vector_should_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTOR_SHOULD composed with a scored boolean query
    (ZuliaIndex.java:802-805 — SHOULD-occur KNN clause): every doc
    matching the BM25 query stays matched; the 10 nearest-by-cosine
    among them get the cosine added to their BM25 score. Exercises
    the distributed broadcast-join merge (no driver collect of the
    match set)."""
    eng = documents_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    req = SearchRequest(
        (QueryClause("SCORE_SHOULD", q="spark query merge", qf=("text",)),), amount=10
    )
    res = eng.search_vector(req, qv, "embedding", k=10, should=True, amount=10)
    rows = [(int(t["uniqueId"]), float(t["score"])) for t in res["topk"]]
    rows.sort(key=lambda r: (-round(r[1], 7), r[0]))
    rows = [(d, float(round(s, 4))) for d, s in rows]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def q_interval_ordered_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval function fn:ordered(merge scan): docs where 'merge'
    occurs BEFORE 'scan' (ZuliaSyntaxParser Function state :193-215;
    Lucene Intervals.ordered) — needs the positions stream."""
    eng = documents_engine(spark, sf_dir)
    res = eng.search_string("fn:ordered(merge scan)", qf=("text",), amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_interval_within_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested interval source: fn:within(sort 3 fn:ordered(merge
    scan)) — docs where 'sort' falls within 3 positions of a MINIMAL
    merge→scan ordered interval (IntervalWithin production,
    ZuliaSyntaxParser.jj:676-691; Lucene Intervals.within =
    containedBy(source, extend(reference, n, n)))."""
    eng = documents_engine(spark, sf_dir)
    res = eng.search_string("fn:within(sort 3 fn:ordered(merge scan))", qf=("text",), amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_interval_atleast_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fn:atLeast(2 merge scan sort) — minimal windows covering
    intervals from ≥2 of the 3 sources (IntervalAtLeast production,
    ZuliaSyntaxParser.jj:514-526; Lucene
    MinimumShouldMatchIntervalsSource). Doc-level: ≥2 terms present."""
    eng = documents_engine(spark, sf_dir)
    res = eng.search_string("fn:atLeast(2 merge scan sort)", qf=("text",), amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_bool_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOL field coercion: every accepted spelling queries as the
    same value (BooleanFormatTest everyFormatQueriesAsTheSameValue).
    ``long_flag`` is stored through the lenient store-time lexicon
    ("yes"/"0" → bool) and queried with a different spelling."""
    eng = documents_engine(spark, sf_dir)
    res = eng.search_string("text:scan AND long_flag:y", amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_bool_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOL facets label values "True"/"False" and agree with the
    query counts (BooleanFormatTest facet regression — a value parsed
    false at facet time but true at query time)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    df = eng.facet_counts(req, "long_flag", top_n=5)
    return df.select(F.col("value"), F.col("cnt").cast("bigint").alias("cnt"))


def q_null_exists_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null vs empty exists semantics (NullEmptyTest.java:93-120):
    ``field:*`` matches every non-null value INCLUDING empty strings
    (zero-token docs ride the norms stream with dl=0), ``-field:*``
    keeps only nulls via the MatchAll fix-up, and ``field:*?``
    (wildcard, >=1 char) matches only docs with at least one token."""
    eng = documents_engine(spark, sf_dir)
    a = eng.search_string("opt_note:*", amount=1)["totalHits"]
    b = eng.search_string("-opt_note:*", amount=1)["totalHits"]
    c = eng.search_string("opt_note:*?", amount=1)["totalHits"]
    return spark.createDataFrame(
        [(a, b, c)], "exists_hits bigint, not_exists_hits bigint, nonempty_hits bigint"
    )


def q_facet_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed facet merge protocol (FacetCombiner.java:41-144):
    per-shard facet lists merged at the combiner. shard_facets=-1 =
    full per-shard lists, so the merge must equal the exact global
    counts with maxError 0 (the truncated/error-bound path is covered
    by tests/test_facet_sharded.py against hand-computed bounds)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    df, _flags = eng.facet_counts_sharded(req, "lang", top_n=5, shard_facets=-1)
    return df


def q_stat_facet_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed stat-facet merge protocol (StatCombiner.java;
    StatCombinerTest): per-shard top-by-sum stat lists merged at the
    combiner. shard_facets=-1 = full per-shard lists, so the merge
    must equal the exact global per-facet stats with maxSumError 0
    and no error flags (the truncated/error-bound path is covered by
    tests/test_stat_facet_sharded.py against hand-computed bounds)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    df = eng.stat_facets_sharded(req, "lang", "n_chars", top_n=5, shard_facets=-1)
    return df.select(
        "value",
        F.col("sum_v").cast("long"),
        "count_v",
        "doc_count",
        "all_doc_count",
        F.col("min_v").cast("long"),
        F.col("max_v").cast("long"),
        F.col("max_sum_error").cast("long"),
        "has_error",
    )


def q_source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zulia-data connector parity (JsonLinesDataTarget /
    JsonLineDataSource): documents → JSON-lines target → JSON-lines
    source → aggregate. The oracle aggregates the ORIGINAL parquet,
    so matching hashes prove the write+read is lossless."""
    import os
    import tempfile

    from zuliasearch_spark.sources import read_json_lines, write_json_lines

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    out = os.path.join(
        tempfile.gettempdir(), f"zulia_gate_jsonl_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    write_json_lines(docs, out)
    back = read_json_lines(
        spark, out, schema="doc_id bigint, lang string, source string, n_chars bigint"
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .select(F.col("lang").alias("value"), "cnt", "sum_chars", "n_sources")
        .orderBy("value")
    )


def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zulia-data delimited connector parity (CSVTarget / CSVSource
    with headers): documents → CSV target (reference cell
    formatting) → CSV source → aggregate vs the original parquet."""
    import os
    import tempfile

    from zuliasearch_spark.sources import read_delimited, write_delimited

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    out = os.path.join(
        tempfile.gettempdir(), f"zulia_gate_csv_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    write_delimited(docs, out)
    back = read_delimited(
        spark, out, ",", headers=True,
        schema="doc_id bigint, lang string, source string, n_chars bigint",
    )
    return (
        back.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("n_chars").alias("sum_chars"))
        .select(F.col("lang").alias("value"), "cnt", "sum_chars")
        .orderBy("value")
    )


def q_source_xlsx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zulia-data Excel connector parity (ExcelTarget typed cell
    handlers / ExcelSource + DefaultExcelCellHandler, both
    re-expressed on stdlib zipfile+XML in sources/xlsx.py):
    documents → .xlsx target → .xlsx source → aggregate. The oracle
    aggregates the ORIGINAL parquet, so matching hashes prove the
    write+read round-trip is lossless including numeric cells."""
    import os
    import tempfile

    from zuliasearch_spark.sources import read_xlsx, write_xlsx

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    out = os.path.join(
        tempfile.gettempdir(), f"zulia_gate_xlsx_{os.path.basename(sf_dir.rstrip('/'))}.xlsx"
    )
    write_xlsx(docs, out)
    back = read_xlsx(spark, out)
    return (
        back.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("n_chars").alias("sum_chars"))
        .select(F.col("lang").alias("value"), "cnt", "sum_chars")
        .orderBy("value")
    )


def q_source_xls_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy binary .xls connector parity (the reference serves XLS
    through POI's WorkbookFactory, SpreadsheetSourceFactory.java:95;
    here a pure-stdlib BIFF8/CFB codec, sources/xls.py): documents →
    .xls target → .xls source → aggregate, oracle on the ORIGINAL
    parquet — matching hashes prove the binary write+read round-trip
    is lossless including RK-free NUMBER cells and the SST."""
    import os
    import tempfile

    from zuliasearch_spark.sources import read_xls, write_xls

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    out = os.path.join(
        tempfile.gettempdir(), f"zulia_gate_xls_{os.path.basename(sf_dir.rstrip('/'))}.xls"
    )
    write_xls(docs, out)
    back = read_xls(spark, out)
    return (
        back.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("n_chars").alias("sum_chars"))
        .select(F.col("lang").alias("value"), "cnt", "sum_chars")
        .orderBy("value")
    )


_KSTEM_ENGINE_CACHE: dict = {}


def kstem_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Index over documents with a KSTEM-filtered analyzer
    (ZuliaFieldAnalyzer.java:111-113 Filter.KSTEM → KStemFilter;
    analysis/kstem.py). The ``wtext`` column is a deterministic
    inflected form per doc — plural/-ing surface variants plus the
    irregular 'indices' — so both the lexicon-checked inflectional
    repair and the direct-conversion table are on the query path."""
    eng = _KSTEM_ENGINE_CACHE.get(sf_dir)
    if eng is not None:
        return eng
    from zuliasearch_spark.config import KSTEM, LOWERCASE, WHITESPACE, AnalyzerSettings

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("uid"),
        F.col("doc_id").alias("orig_doc_id"),
        F.element_at(
            F.array(F.lit("merges"), F.lit("merging"), F.lit("indices"), F.lit("tables")),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ).alias("wtext"),
    )
    cfg = IndexConfig(
        index_name="documents_kstem",
        unique_id_col="uid",
        number_of_shards=4,
        default_search_fields=("wtext",),
        field_configs=(
            FieldConfig("wtext", index_as=(IndexAs("wtext", "ws_kstem"),)),
        ),
        analyzers={
            # WHITESPACE tokenizer so the oracle's doc_id arithmetic is
            # token-identical; the KSTEM filter is the surface under test
            "ws_kstem": AnalyzerSettings("ws_kstem", WHITESPACE, (LOWERCASE, KSTEM)),
        },
        per_shard_stats=False,
        quantize_norms=False,
    )
    tables = build_index(corpus, cfg, stored_cols=("orig_doc_id",)).persist()
    eng = SearchEngine(tables)
    _KSTEM_ENGINE_CACHE[sf_dir] = eng
    return eng


def q_kstem_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStem analyzer surface: 'merges'/'merging' docs match
    wtext:merge (inflectional plural + aspect repair against the
    lexicon), 'indices' docs match wtext:index (Krovetz
    direct-conversion table), 'tables' docs match wtext:table —
    query-side terms stem identically, so a single stemmed term
    recalls every surface form (AnalyzerTest kstem cases)."""
    eng = kstem_engine(spark, sf_dir)
    merge_hits = eng.search_string("wtext:merge", amount=1)["totalHits"]
    index_hits = eng.search_string("wtext:index", amount=1)["totalHits"]
    table_hits = eng.search_string("wtext:table", amount=1)["totalHits"]
    return spark.createDataFrame(
        [(merge_hits, index_hits, table_hits)],
        "merge_hits bigint, index_hits bigint, table_hits bigint",
    )


_GEO_ENGINE_CACHE: dict = {}


def geo_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Index over documents with a deterministic GEO_POINT column —
    ``geo = [((doc_id*37) % 180) - 89.75, ((doc_id*73) % 360) - 179.75]``
    (exact binary doubles; the DuckDB oracles derive identically)."""
    eng = _GEO_ENGINE_CACHE.get(sf_dir)
    if eng is not None:
        return eng
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("uid"),
        F.col("doc_id").alias("orig_doc_id"),
        "text",
        F.array(
            ((F.col("doc_id") * 37 % 180) - F.lit(89.75)).cast("double"),
            ((F.col("doc_id") * 73 % 360) - F.lit(179.75)).cast("double"),
        ).alias("geo"),
    )
    cfg = IndexConfig(
        index_name="documents_geo",
        unique_id_col="uid",
        number_of_shards=4,
        default_search_fields=("text",),
        field_configs=(FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),),
        per_shard_stats=False,
        quantize_norms=False,
    )
    tables = build_index(corpus, cfg, stored_cols=("orig_doc_id", "geo")).persist()
    eng = SearchEngine(tables)
    _GEO_ENGINE_CACHE[sf_dir] = eng
    return eng


def q_geo_bbox_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zl:geoBbox box query ANDed with a scored term (GeoBboxQuery
    production, ZuliaSyntaxParser.jj:441-453; ZuliaGeoBboxQueryNode →
    LatLonPoint.newBoxQuery) over the stored [lat, lon] column."""
    eng = geo_engine(spark, sf_dir)
    res = eng.search_string("text:merge AND zl:geoBbox(geo -45 45 -90 90)", amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_geo_dist_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zl:geo haversine distance query (GeoDistanceQuery production,
    :424-439; LatLonPoint.newDistanceQuery, mean earth radius)."""
    eng = geo_engine(spark, sf_dir)
    res = eng.search_string("text:merge AND zl:geo(geo 20 40 3000)", amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_geo_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodist sort (ShardReader geo sort branch :618-640 →
    LatLonDocValuesField.newDistanceSort): nearest 10 matches of
    text:merge to (0, 0), distance in whole meters."""
    eng = geo_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=10)
    # tiebreak on uid (zero-padded doc_id) so coordinate-grid ties
    # cut the page exactly like the oracle's ORDER BY m, doc_id
    rows = eng.geo_sort(req, "geo", 0.0, 0.0, amount=10, tiebreak=("uniqueId",)).collect()
    out = [(int(r["orig_doc_id"]), int(round(r["geo_dist_m"]))) for r in rows]
    return spark.createDataFrame(out, "doc_id bigint, dist_m bigint")


_SHINGLE_ENGINE_CACHE: dict = {}


def shingle_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Index over documents with the twoTwoShingle built-in analyzer
    (ServerIndexConfigData.java:207-209 — STANDARD + LOWERCASE +
    TWO_TWO_SHINGLE, outputUnigrams=false) plus an lcConcatAll
    projection (KEYWORD + LOWERCASE + CONCAT_ALL)."""
    eng = _SHINGLE_ENGINE_CACHE.get(sf_dir)
    if eng is not None:
        return eng
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("uid"),
        F.col("doc_id").alias("orig_doc_id"),
        "text",
    )
    from zuliasearch_spark.config import (
        LOWERCASE,
        TWO_TWO_SHINGLE,
        WHITESPACE,
        AnalyzerSettings,
    )

    cfg = IndexConfig(
        index_name="documents_shingle",
        unique_id_col="uid",
        number_of_shards=4,
        default_search_fields=("text2",),
        field_configs=(
            FieldConfig(
                "text",
                index_as=(
                    IndexAs("text2", "ws_shingle2"),
                    IndexAs("textcat", "lcConcatAll"),
                ),
            ),
        ),
        analyzers={
            # WHITESPACE tokenizer so the DuckDB space-split oracle is
            # token-identical; the SHINGLE filter itself is the
            # surface under test
            "ws_shingle2": AnalyzerSettings(
                "ws_shingle2", WHITESPACE, (LOWERCASE, TWO_TWO_SHINGLE)
            ),
        },
        per_shard_stats=False,
        quantize_norms=False,
    )
    tables = build_index(corpus, cfg, stored_cols=("orig_doc_id",)).persist()
    eng = SearchEngine(tables)
    _SHINGLE_ENGINE_CACHE[sf_dir] = eng
    return eng


def q_shingle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs whose 2-shingle stream contains "merge scan" — the
    twoTwoShingle analyzer surface (Lucene ShingleFilter 2-2,
    outputUnigrams=false). The shingle is ONE indexed term, queried
    as a quoted phrase so the analyzer keeps it intact."""
    eng = shingle_engine(spark, sf_dir)
    res = eng.search_string('text2:"merge scan"', amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_concat_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lcConcatAll surface (KEYWORD + LOWERCASE + CONCAT_ALL =
    WordDelimiterGraphFilter CATENATE_ALL): the whole value collapses
    to one delimiter-free token; docs whose concatenation contains
    'mergemerge' (a boundary-straddling substring only the CONCAT
    surface can match) via wildcard expansion."""
    eng = shingle_engine(spark, sf_dir)
    res = eng.search_string("textcat:*mergemerge*", amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_qs_zl_ns_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded numeric-set node n_chars:zl:ns(132 218 246) AND a
    scored term, through the query-string grammar (ZL_PREFIX state,
    ZuliaSyntaxParser.jj:159 + NumericsSetQuery production :398-408;
    ZuliaNumericSetQueryNode → SetQueryHelper.getNumericSetQuery)."""
    eng = documents_engine(spark, sf_dir)
    res = eng.search_string("text:merge AND n_chars:zl:ns(132 218 246)", amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_qs_zl_tq_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded term-set node lang:zl:tq(en de) AND a scored term
    (TermsInSetQuery production, ZuliaSyntaxParser.jj:411-422;
    ZuliaTermsInSetQueryNode → constant-score TermInSetQuery)."""
    eng = documents_engine(spark, sf_dir)
    res = eng.search_string("text:merge AND lang:zl:tq(en de)", amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_len_meta_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-length meta query |text|:[150 TO 350] through the parser
    (CHAR_LENGTH_BAR syntax, FieldTypeUtil.getCharLengthWrap:108-110)
    combined with a term via the query-string surface."""
    eng = documents_engine(spark, sf_dir)
    res = eng.search_string("text:merge AND |text|:[150 TO 350]", amount=1)
    return spark.createDataFrame([(res["totalHits"],)], "hits bigint")


def q_get_terms_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dictionary enumeration inside GetTerms
    (ShardTermsHandler FuzzyTerm path): terms within edit distance 1
    of 'merge' with summed df/ttf."""
    eng = documents_engine(spark, sf_dir)
    return eng.get_terms("text", fuzzy_term=("merge", 1)).select(
        "term", F.col("df").cast("long"), F.col("ttf").cast("long")
    )


def q_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    return eng.numeric_stats(req, "n_chars").select(
        F.col("min_v").cast("long"),
        F.col("max_v").cast("long"),
        F.col("sum_v").cast("long"),
        F.col("count_v").cast("long"),
        F.col("doc_count").cast("long"),
        F.col("all_doc_count").cast("long"),
    )


def q_get_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = documents_engine(spark, sf_dir)
    return eng.get_terms("text", start_term="m", min_doc_freq=5, amount=20).select(
        "term", F.col("df").cast("long"), F.col("ttf").cast("long")
    )


def q_query_csv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV export lines (REST GET /query/csv — QueryController.java:
    119-166, appendDocument :637-705, CSVUtil.java): the distributed
    path, one finished line per match.

    Scale: every cell (quoteForCSV, ``;``-joined multivalues, nested
    JSON) is a codegen expression, so the whole export is
    ``query_csv_lines(...).write.text(out)`` — no cursor loop, no
    driver materialization; the REST batch stream is only the
    paged-download facade over the same expressions."""
    from zuliasearch_spark.export import query_csv_lines

    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="lang:fr"),), amount=1)
    return query_csv_lines(eng, req, ("uniqueId", "lang", "n_chars", "text"))


# --------------------------------------------------------------------------
# training-data pipeline ops (dedup / similarity / text analysis)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groups with representative + cardinality.

    Scale: a single hash-groupBy with map-side combine; the canonical
    keeper is min(doc_id). At 100 TB this is one shuffle on a
    well-distributed key (md5), no skew.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("keeper")
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting entirely inside whole-stage codegen: split/filter/
    array_distinct as native expressions — zero shuffles, zero UDFs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a query vector (vec_id=0).

    Spark plan: the query vector is a broadcast literal; dot products
    run as F.aggregate(F.zip_with(...)) inside codegen — no explode,
    no shuffle except the final TakeOrderedAndProject. This is the
    exact baseline an IVF/LSH index is validated against.
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    qlit = F.array(*[F.lit(float(x)) for x in qv])

    def dot(a, b):
        prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    cos = dot(F.col("embedding"), qlit) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * F.sqrt(dot(qlit, qlit))
    )
    return (
        emb.select("vec_id", cos.alias("c"))
        .orderBy(F.desc(F.round(F.col("c"), 7)), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("c", 4).alias("cosine"))
    )


# --------------------------------------------------------------------------
# search family, batch 3 (doc-value filters, sorts, wildcard, analysis, MLT)


def q_docvalue_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored query + numeric doc-values range filter
    (IndexOrDocValuesQuery semantics, SetQueryHelper.java:45-106)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("SCORE_SHOULD", q="index scan", qf=("text",)),), amount=50)
    res = eng.search_docvalues(req, "n_chars BETWEEN 150 AND 350", amount=50)
    rows = [(int(t["uniqueId"]), float(t["score"])) for t in res["topk"]]
    rows.sort(key=lambda r: (-round(r[1], 7), r[0]))
    rows = [(d, float(round(s, 4))) for d, s in rows[:10]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def q_numeric_set_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NUMERIC_SET typed clause (SetQueryHelper.getNumericSetQuery:
    24-89): docs matching text:merge whose n_chars ∈ {set}, plus the
    NUMERIC_SET_NOT complement on the same match set."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    vals = (120, 180, 240, 300, 360)
    pos = eng.search_numeric_set(req, "n_chars", vals, amount=1)["totalHits"]
    neg = eng.search_numeric_set(req, "n_chars", vals, negate=True, amount=1)["totalHits"]
    return spark.createDataFrame([(pos, neg)], "hits_in bigint, hits_not bigint")


def q_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field sort over a filtered match set (SortTest.java:45-60)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    return (
        eng.sort_search(req, "n_chars", ascending=False, amount=10, tiebreak=("orig_doc_id",))
        .select(F.col("orig_doc_id").alias("doc_id"), F.col("n_chars").cast("long").alias("n_chars"))
    )


def q_zulia_id_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TERMS on the implicit zuliaId field (TermQueryTest.java:
    145-165): exact uniqueId lookups through the term-set machinery;
    misses contribute nothing."""
    eng = documents_engine(spark, sf_dir)
    uids = [str(d).zfill(12) for d in (3, 7, 11, 19)]
    req = SearchRequest(
        (QueryClause("TERMS", terms=tuple(uids) + ("blah", "not-an-id"), qf=("zuliaId",)),),
        amount=1,
    )
    hits = eng.search(req, fetch="none")["totalHits"]
    return spark.createDataFrame([(hits,)], "hits bigint")


def q_zulia_id_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID_SORT_FIELD sort (SortTest.zuliaSort:505-518): the match set
    ordered by uniqueId DESC as a STRING (the reference's '99 before
    199' lexicographic assert)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    return eng.sort_search(
        req, sort_keys=(("zuliaId", False, True),), amount=10
    ).select(F.col("uniqueId").alias("uid"))


def q_score_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCORE_FIELD as a field-sort key (SortTest.zuliaSort:491-502):
    Sort(zuliaScore) ASCENDING surfaces the worst-scoring matches
    first — the inverse of the default ranking."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (QueryClause("SCORE_SHOULD", q="spark query merge", qf=("text",)),), amount=1
    )
    return eng.sort_search(
        req, sort_keys=(("zuliaScore", True, True),), amount=10, tiebreak=("orig_doc_id",)
    ).select(
        F.col("orig_doc_id").alias("doc_id"),
        F.round("zuliaScore", 4).alias("score"),
    )


def q_timestamp_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_ztsf_ store-timestamp DATE ranges (SimpleTest.java:304-325):
    a range spanning the build clock matches every doc; a range
    ending before it matches none."""
    eng = documents_engine(spark, sf_dir)
    spanning = eng.search_string("_ztsf_:[2025-08-17 TO 2025-08-19]", amount=1)["totalHits"]
    before = eng.search_string("_ztsf_:[* TO 2025-08-17]", amount=1)["totalHits"]
    return spark.createDataFrame(
        [(spanning, before)], "in_range bigint, before_range bigint"
    )


def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key field sort (repeated FieldSort list,
    ShardReader.buildSortFromSortRequest:605-697): lang ASC then
    n_chars DESC over the same filtered match set."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    return eng.sort_search(
        req,
        sort_keys=(("lang", True, True), ("n_chars", False, True)),
        amount=10,
        tiebreak=("orig_doc_id",),
    ).select(
        F.col("orig_doc_id").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def q_doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 terms by tf over the match set (AnalysisHandler
    docTerms — one ranked term vector PER result doc)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("orig_doc_id"), "text"
    )
    out = eng.analysis_doc_terms(
        req, docs, ["orig_doc_id"], "text", "orig_doc_id", "whitespace_lc", top_n=3,
        term_sort="TF",
    )
    return out.select(
        F.col("orig_doc_id").alias("doc_id"), "term", F.col("tf").cast("long").alias("tf")
    ).orderBy("doc_id", "term")


def q_wildcard_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard term expansion → TERMS set (qu* on the dictionary,
    ZuliaSyntaxParser wild*card terms)."""
    eng = documents_engine(spark, sf_dir)
    terms = eng.expand_terms("text", "^qu", max_terms=100)
    if not terms:
        return spark.createDataFrame([(0,)], "hits bigint")
    req = SearchRequest((QueryClause("TERMS", terms=terms, qf=("text",)),), amount=1)
    hits = eng.search(req, fetch="none")["totalHits"]
    return spark.createDataFrame([(hits,)], "hits bigint")


def q_summary_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time analysis: top terms by summed tf over the match set
    (AnalysisHandler summaryTerms)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("orig_doc_id"), "text"
    )
    out = eng.analysis_summary(
        req, docs, ["orig_doc_id"], "text", "whitespace_lc", top_n=15, term_sort="TF"
    )
    return out.select("term", F.col("term_freq").cast("long").alias("sum_tf"))


def _analysis_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("orig_doc_id"), "text"
    )


def q_analysis_tfidf_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """summaryTerms with the proto-default TFIDF termSort + minWordLen
    filter (AnalysisRequest.termSort=TFIDF, minWordLen;
    DocFreq.getScoreForTerm = ClassicSimilarity sqrt(tf)·idf with the
    index's docFreq and live numDocs — per_shard_stats=False pools the
    whole collection, so the oracle's global df/numDocs are exact)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    out = eng.analysis_summary(
        req, _analysis_docs(spark, sf_dir), ["orig_doc_id"], "text", "whitespace_lc",
        top_n=10, term_sort="TFIDF", min_word_len=4,
    )
    return out.select(
        "term",
        F.col("term_freq").cast("long").alias("term_freq"),
        F.col("doc_freq").cast("long").alias("doc_freq"),
        F.round("score", 4).alias("score"),
    ).orderBy(F.desc(F.round("score", 7)), F.asc("term"))


def q_analysis_doc_terms_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docTerms with word-length + shard doc-freq bounds
    (AnalysisHandler.handleDocument:128-152: tokens shorter than
    minWordLen skipped, then terms whose shard docFreq exceeds
    maxShardFreq skipped) — top-2 per doc by TF."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:dup"),), amount=1)
    out = eng.analysis_doc_terms(
        req, _analysis_docs(spark, sf_dir), ["orig_doc_id"], "text", "orig_doc_id",
        "whitespace_lc", top_n=2, term_sort="TF", min_word_len=3, max_shard_freq=350,
    )
    return out.select(
        F.col("orig_doc_id").alias("doc_id"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
    ).orderBy("doc_id", "term")


def q_analysis_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnalysisRequest.tokens: the raw ordered token stream of every
    matched doc, BEFORE length/freq filters (AnalysisHandler
    .java:124-126)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:dup"),), amount=1)
    out = eng.analysis_tokens(
        req, _analysis_docs(spark, sf_dir), ["orig_doc_id"], "text", "orig_doc_id",
        "whitespace_lc",
    )
    return out.select(
        F.col("orig_doc_id").alias("doc_id"),
        F.col("pos").cast("long").alias("pos"),
        "token",
    ).orderBy("doc_id", "pos")


def q_analysis_top_terms_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """summaryType=TOP_TERMS_TOP_N: only each doc's topN terms feed the
    summary (AnalysisHandler.java:169-177), versus ALL_TERMS_TOP_N's
    every-token accumulation; one final topN cut at the combiner."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    out = eng.analysis_summary(
        req, _analysis_docs(spark, sf_dir), ["orig_doc_id"], "text", "whitespace_lc",
        top_n=5, term_sort="TF", summary_type="TOP_TERMS_TOP_N",
    )
    return out.select(
        "term",
        F.col("term_freq").cast("long").alias("term_freq"),
        F.col("doc_freq").cast("long").alias("doc_freq"),
    ).orderBy(F.desc("term_freq"), F.asc("term"))


def q_mlt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MORE_LIKE_THIS: derive tf·idf terms from doc 0, BM25 top-10."""
    eng = documents_engine(spark, sf_dir)
    src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") == 0)
        .select("text")
        .head()[0]
    )
    res = eng.more_like_this(src, "text", amount=50, max_doc_freq_pct=90)
    rows = [(int(t["uniqueId"]), float(t["score"])) for t in res["topk"]]
    rows.sort(key=lambda r: (-round(r[1], 7), r[0]))
    rows = [(d, float(round(s, 4))) for d, s in rows[:10]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def q_mlt_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-vector MORE_LIKE_THIS from a stored source document
    (MoreLikeThisQuery.forVector; ShardedVectorTest.mltVectorTest):
    the centroid is fetched from doc 42's stored embedding, KNN pool
    is vector_top_n=15, and the source doc is excluded from results
    (includeSourceDocs=false default) AFTER pool selection, like the
    reference's MUST_NOT wrap around the KNN query."""
    eng = documents_engine(spark, sf_dir)
    res = eng.more_like_this(
        vector_field="embedding",
        document_ids=("000000000042",),
        vector_top_n=15,
        amount=15,
    )
    assert res["totalHits"] <= 15  # capped at vectorTopN, not shards*topN
    rows = [(int(t["uniqueId"]), float(t["score"])) for t in res["topk"]]
    rows.sort(key=lambda r: (-round(r[1], 7), r[0]))
    rows = [(d, float(round(s, 4))) for d, s in rows[:10]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def q_mlt_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid MORE_LIKE_THIS: lexical terms from doc 0's stored text
    SHOULD-combined with its embedding's KNN pool, vector side
    weighted 2x (ZuliaIndex.handleMoreLikeThisQuery:640-660 composes
    lexical + KnnFloatVectorQuery as weighted SHOULD clauses). NOT
    capped at vector_top_n (ShardedVectorTest 'hybrid MLT is not
    capped'). Source doc 0 excluded."""
    eng = documents_engine(spark, sf_dir)
    res = eng.more_like_this(
        fields=("text",),
        document_ids=("000000000000",),
        vector_field="embedding",
        vector_top_n=20,
        vector_weight=2.0,
        max_doc_freq_pct=90,
        amount=50,
    )
    assert res["totalHits"] > 20  # lexical matches extend beyond the KNN pool
    rows = [(int(t["uniqueId"]), float(t["score"])) for t in res["topk"]]
    rows.sort(key=lambda r: (-round(r[1], 7), r[0]))
    rows = [(d, float(round(s, 4))) for d, s in rows[:10]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def quantized_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """A small second index whose embedding column is INT8-quantized
    (VectorIndexingConfig encoding INT8 — the reference's default for
    new indexes): doc_map carries _zvq_/_zvs_/_zvn_ columns and KNN
    ranks the quantized form before the full-precision rescore."""
    eng = _ENGINE_CACHE.get(("q", sf_dir))
    if eng is not None:
        return eng
    from zuliasearch_spark.config import VectorConfig

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(
        F.lpad(F.col("vec_id").cast("string"), 12, "0").alias("uid"),
        F.lit("x").alias("tag"),
        "embedding",
    )
    cfg = IndexConfig(
        index_name="emb_int8",
        unique_id_col="uid",
        number_of_shards=2,
        default_search_fields=("tag",),
        field_configs=(
            FieldConfig("tag", index_as=(IndexAs("tag", "lcKeyword"),)),
            FieldConfig(
                "embedding",
                # one stored column indexed under three encodings
                # (IndexAs-level encoding choice, zulia_index.proto
                # VectorIndexingConfig): INT8 (the reference's new-index
                # default), INT7 (SEVEN_BIT), and BBQ_2BIT's two-plane
                # popcount path. BBQ_2BIT is coarse, so its gate uses a
                # deep oversample — the rescore pool still reproduces
                # the exact-cosine oracle ranking.
                vector_as=(
                    VectorConfig("embedding", encoding="INT8", oversample=4.0),
                    VectorConfig("emb7", encoding="INT7", oversample=4.0),
                    VectorConfig("embb2", encoding="BBQ_2BIT", oversample=16.0),
                ),
            ),
        ),
        per_shard_stats=False,
        quantize_norms=False,
        store_positions=False,
    )
    tables = build_index(corpus, cfg, stored_cols=("embedding",))
    tables.persist()
    eng = SearchEngine(tables)
    _ENGINE_CACHE[("q", sf_dir)] = eng
    return eng


def hnsw_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """A third embeddings index served by per-shard HNSW graphs
    (VectorConfig index_type="HNSW"; the reference's Lucene HNSW via
    ZuliaPerFieldKnnVectorsFormat.java, query
    ZuliaIndex.buildKnnQuery:597-615). efSearch is set saturating for
    this corpus size so the gate's graph traversal is exhaustive —
    the oracle is exact brute-force cosine and the hash must match."""
    eng = _ENGINE_CACHE.get(("h", sf_dir))
    if eng is not None:
        return eng
    from zuliasearch_spark.config import VectorConfig

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(
        F.lpad(F.col("vec_id").cast("string"), 12, "0").alias("uid"),
        F.when(F.col("vec_id") % 3 == 0, F.lit("a")).otherwise(F.lit("b")).alias("tag"),
        "embedding",
    )
    cfg = IndexConfig(
        index_name="emb_hnsw",
        unique_id_col="uid",
        number_of_shards=2,
        default_search_fields=("tag",),
        field_configs=(
            FieldConfig("tag", index_as=(IndexAs("tag", "lcKeyword"),)),
            FieldConfig(
                "embedding",
                vector_as=(
                    VectorConfig(
                        "embedding", index_type="HNSW", hnsw_ef_search=256
                    ),
                ),
            ),
        ),
        per_shard_stats=False,
        quantize_norms=False,
        store_positions=False,
    )
    tables = build_index(corpus, cfg, stored_cols=("embedding",))
    tables.persist()
    eng = SearchEngine(tables)
    _ENGINE_CACHE[("h", sf_dir)] = eng
    return eng


def q_vector_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW-served KNN (index_type="HNSW"): an un-pre-filtered VECTOR
    clause traverses the per-shard graphs (beam efSearch) instead of
    scanning the corpus — the reference's per-segment Lucene HNSW
    serve path. The oracle is EXACT brute-force cosine: at this
    corpus size the saturating beam makes the graph answer exact, so
    the gate pins both the plumbing and the recall contract."""
    eng = hnsw_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    res = eng.search_vector(SearchRequest(), qv, "embedding", k=10)
    rows = [(int(t["uniqueId"]), float(round(t["score"], 4))) for t in res["topk"]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def q_vector_hnsw_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-pre-filtered KNN against the HNSW index: the filter
    match set rides along as a cogrouped per-shard accept list
    (Lucene AbstractKnnVectorQuery's filter bitset, distributed).
    At sf0.01 the filter (tag:a = vec_id%3==0) is smaller than the
    saturating beam, so the cost rule takes the in-kernel exact scan
    and the hash must match the exact filtered oracle; the graph-
    traversal branch of the same kernel is pinned by
    tests/test_hnsw.py recall tests."""
    eng = hnsw_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    req = SearchRequest((QueryClause("FILTER", q="tag:a"),))
    res = eng.search_vector(req, qv, "embedding", k=10)
    rows = [(int(t["uniqueId"]), float(round(t["score"], 4))) for t in res["topk"]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


_VECTOR_HNSW_FILTERED_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 7),
c AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))), 6) AS c
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id % 3 = 0
)
SELECT doc_id, round(c, 4) AS score FROM c
ORDER BY c DESC, doc_id ASC LIMIT 10
"""


_VECTOR_HNSW_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 7),
c AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))), 6) AS c
  FROM embeddings e CROSS JOIN q
)
SELECT doc_id, round(c, 4) AS score FROM c
ORDER BY c DESC, doc_id ASC LIMIT 10
"""


def q_vector_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8-quantized KNN with oversample + full-precision rescore
    (VectorIndexingConfig.Encoding INT8, zulia_index.proto:250-270;
    Lucene quantized-KNN shape): the first pass ranks 4×k candidates
    by quantized dot / stored quantized norm, the rescore computes
    exact cosine on that pool. The oracle is EXACT brute-force cosine
    — the gate asserts the quantized path's recall contract, not just
    self-consistency."""
    eng = quantized_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 5).select("embedding").head()[0]
    res = eng.more_like_this(
        vector_field="embedding", like_vectors=(qv,), vector_top_n=10, amount=10
    )
    rows = [(int(t["uniqueId"]), float(round(t["score"], 4))) for t in res["topk"]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def q_vector_int7_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT7 (SEVEN_BIT, zulia_index.proto:257) quantized KNN: ±63
    levels keep the top bit free like Lucene 104's seven-bit scalar
    format. Same oversample+rescore contract and exact brute-force
    cosine oracle as the INT8 gate."""
    eng = quantized_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    res = eng.more_like_this(
        vector_field="emb7", like_vectors=(qv,), vector_top_n=10, amount=10
    )
    rows = [(int(t["uniqueId"]), float(round(t["score"], 4))) for t in res["topk"]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def q_vector_bbq2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BBQ_2BIT (DIBIT_QUERY_NIBBLE, zulia_index.proto:258): 2-bit
    doc codes in two sign-packed bit-planes, scored by popcount dot
    products against a 4-bit-quantized query — Lucene's asymmetric
    binary-quantization shape. The deep oversample (16×) makes the
    rescore pool reproduce the exact-cosine oracle ranking."""
    eng = quantized_engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 3).select("embedding").head()[0]
    res = eng.more_like_this(
        vector_field="embb2", like_vectors=(qv,), vector_top_n=10, amount=10
    )
    rows = [(int(t["uniqueId"]), float(round(t["score"], 4))) for t in res["topk"]]
    return spark.createDataFrame(rows, "doc_id bigint, score double")


def q_clause_grammar_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clause-model ``q`` through the FULL query grammar (r5:
    executor._clauses_to_tree; the reference parses every clause's q
    with ZuliaFlexibleQueryParser, ZuliaIndex.java:946-964). Two
    shapes: a nested-boolean scored clause composed with a FILTER
    clause whose q is a fielded range, and a clause whose q puts a
    doc-values point leaf in SHOULD position."""
    eng = documents_engine(spark, sf_dir)
    range_req = SearchRequest(
        (
            QueryClause("SCORE_MUST", q="merge OR (scan AND window)", qf=("text",)),
            QueryClause("FILTER", q="year:[2016 TO 2019]"),
        ),
        amount=1,
    )
    mixed_req = SearchRequest(
        (QueryClause("SCORE_SHOULD", q="merge OR year:2016", qf=("text",)),),
        amount=1,
    )
    hits_range = eng.search(range_req, fetch="none")["totalHits"]
    hits_mixed = eng.search(mixed_req, fetch="none")["totalHits"]
    return spark.createDataFrame(
        [(hits_range, hits_mixed)], "hits_range bigint, hits_mixed bigint"
    )


_VECTOR_INT8_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 5),
c AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))), 6) AS c
  FROM embeddings e CROSS JOIN q
)
SELECT doc_id, round(c, 4) AS score FROM c
ORDER BY c DESC, doc_id ASC LIMIT 10
"""


# same exact-cosine oracle, different query vectors — the quantized
# encodings' recall contract is vs BRUTE-FORCE cosine, not self-check
_VECTOR_INT7_SQL = _VECTOR_INT8_SQL.replace("vec_id = 5", "vec_id = 7")
_VECTOR_BBQ2_SQL = _VECTOR_INT8_SQL.replace("vec_id = 5", "vec_id = 3")

_CLAUSE_GRAMMAR_SQL = f"""
WITH {_TOKS_CTE},
m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'merge'),
s AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'scan'),
w AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'window')
SELECT
  (SELECT count(*) FROM documents d
    WHERE (d.doc_id IN (SELECT doc_id FROM m)
           OR (d.doc_id IN (SELECT doc_id FROM s)
               AND d.doc_id IN (SELECT doc_id FROM w)))
      AND (2015 + d.doc_id % 7) BETWEEN 2016 AND 2019)::BIGINT AS hits_range,
  (SELECT count(*) FROM documents d
    WHERE d.doc_id IN (SELECT doc_id FROM m)
       OR (2015 + d.doc_id % 7) = 2016)::BIGINT AS hits_mixed
"""

_MATCH_MERGE = "(SELECT DISTINCT doc_id FROM toks WHERE term = 'merge')"

_DOCVALUE_SQL = f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ('index','scan') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  JOIN documents d ON d.doc_id = tf.doc_id
  WHERE d.n_chars BETWEEN 150 AND 350
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY round(s, 7) DESC, doc_id ASC LIMIT 10
"""

_SORT_SQL = f"""
WITH {_TOKS_CTE}
SELECT doc_id, n_chars::BIGINT AS n_chars FROM documents
WHERE doc_id IN {_MATCH_MERGE}
ORDER BY n_chars DESC, doc_id ASC LIMIT 10
"""

_WILDCARD_SQL = f"""
WITH {_TOKS_CTE}
SELECT count(DISTINCT doc_id)::BIGINT AS hits FROM toks WHERE term LIKE 'qu%'
"""

_NUMERIC_SET_SQL = f"""
WITH {_TOKS_CTE}
SELECT
  (SELECT count(*) FROM documents
   WHERE doc_id IN {_MATCH_MERGE}
     AND n_chars IN (120, 180, 240, 300, 360))::BIGINT AS hits_in,
  (SELECT count(*) FROM documents
   WHERE doc_id IN {_MATCH_MERGE}
     AND (n_chars IS NULL OR n_chars NOT IN (120, 180, 240, 300, 360)))::BIGINT AS hits_not
"""

_SORT_MULTI_SQL = f"""
WITH {_TOKS_CTE}
SELECT doc_id, lang, n_chars::BIGINT AS n_chars FROM documents
WHERE doc_id IN {_MATCH_MERGE}
ORDER BY lang ASC, n_chars DESC, doc_id ASC LIMIT 10
"""

_DOC_TERMS_SQL = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE doc_id IN {_MATCH_MERGE} GROUP BY doc_id, term),
ranked AS (SELECT doc_id, term, tf,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rn
           FROM tf)
SELECT doc_id, term, tf::BIGINT AS tf FROM ranked WHERE rn <= 3 ORDER BY doc_id, term
"""

_SUMMARY_SQL = f"""
WITH {_TOKS_CTE}
SELECT term, count(*)::BIGINT AS sum_tf FROM toks
WHERE doc_id IN {_MATCH_MERGE}
GROUP BY term ORDER BY sum_tf DESC, term ASC LIMIT 15
"""

_MATCH_DUP = "(SELECT DISTINCT doc_id FROM toks WHERE term = 'dup')"

# ClassicSimilarity tf·idf with float32 factors exactly as the engine
# computes them (DocFreq.getScoreForTerm: tf() and idf() return Java
# floats) — DuckDB REAL is float32, so the ::REAL casts replicate the
# rounding bit-for-bit; global df/numDocs because documents_config has
# per_shard_stats=False.
_ANALYSIS_TFIDF_SUMMARY_SQL = f"""
WITH {_TOKS_CTE},
dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
nd AS (SELECT count(*) AS n FROM documents),
tf AS (SELECT term, count(*) AS tf FROM toks
       WHERE doc_id IN {_MATCH_MERGE} AND length(term) >= 4 GROUP BY term),
scored AS (SELECT t.term, t.tf, d.df,
  CAST(CAST(sqrt(t.tf) AS REAL) * CAST(ln((nd.n + 1) / (d.df + 1.0)) + 1.0 AS REAL) AS REAL)::DOUBLE AS score
  FROM tf t JOIN dfv d USING (term), nd)
SELECT term, tf::BIGINT AS term_freq, df::BIGINT AS doc_freq, round(score, 4) AS score
FROM scored ORDER BY round(score, 7) DESC, term ASC LIMIT 10
"""

_ANALYSIS_DOC_TERMS_F_SQL = f"""
WITH {_TOKS_CTE},
dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE doc_id IN {_MATCH_DUP} AND length(term) >= 3 GROUP BY doc_id, term),
filt AS (SELECT t.doc_id, t.term, t.tf, d.df
         FROM tf t JOIN dfv d USING (term) WHERE d.df <= 350),
ranked AS (SELECT doc_id, term, tf, df,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rn
           FROM filt)
SELECT doc_id, term, tf::BIGINT AS tf, df::BIGINT AS df
FROM ranked WHERE rn <= 2 ORDER BY doc_id, term
"""

# pos renumbered post-filter: the engine's tokenizer never emits empty
# tokens, so positions index the EMITTED stream
_ANALYSIS_TOKENS_SQL = f"""
WITH {_TOKS_CTE},
s AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
      WHERE doc_id IN {_MATCH_DUP}),
u AS (SELECT doc_id, unnest(l) AS tok, unnest(range(1, len(l) + 1)) AS ord FROM s),
ranked AS (SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos,
           lower(tok) AS token FROM u WHERE tok <> '')
SELECT doc_id, pos::BIGINT AS pos, token FROM ranked ORDER BY doc_id, pos
"""

_ANALYSIS_TOP_TERMS_SQL = f"""
WITH {_TOKS_CTE},
dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE doc_id IN {_MATCH_MERGE} GROUP BY doc_id, term),
ranked AS (SELECT doc_id, term, tf,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rn
           FROM tf),
summed AS (SELECT term, sum(tf) AS term_freq FROM ranked WHERE rn <= 5 GROUP BY term)
SELECT s.term, s.term_freq::BIGINT AS term_freq, d.df::BIGINT AS doc_freq
FROM summed s JOIN dfv d USING (term)
ORDER BY term_freq DESC, term ASC LIMIT 5
"""

# Lucene MoreLikeThis term selection + setBoost(true): each derived
# term is boosted by its selection score over the best term's score
# (MoreLikeThis.createQuery), and the df guard is the reference's
# floored percentage cap max(1, pct·N/100) (MoreLikeThisLazyQuery
# .rewrite). ``{{src_doc}}`` is the source doc id, ``{{pct}}`` the
# maxDocFreqPct.
_MLT_SELECT_CTES = """
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
src AS (SELECT term, count(*) AS tf FROM toks WHERE doc_id = {src_doc} GROUP BY term),
dfall AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
mlt AS (SELECT s.term,
               round(s.tf * ln(1 + (stats.n_docs - d.df + 0.5) / (d.df + 0.5)), 7) AS sel
        FROM src s JOIN dfall d USING (term) CROSS JOIN stats
        WHERE s.tf >= 2 AND d.df >= 5
          AND d.df <= greatest(1, ({pct} * stats.n_docs) // 100)
        ORDER BY sel DESC, s.term ASC LIMIT 25),
boosted AS (SELECT term, sel / (SELECT max(sel) FROM mlt) AS boost FROM mlt),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN (SELECT term FROM mlt) GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
lex AS (
  SELECT tf.doc_id,
         sum( b.boost * ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) JOIN boosted b USING (term)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)"""

_MLT_SQL = f"""
WITH {_TOKS_CTE},
{_MLT_SELECT_CTES.format(src_doc=0, pct=90)}
SELECT doc_id, round(s, 4) AS score FROM lex
ORDER BY round(s, 7) DESC, doc_id ASC LIMIT 10
"""

_MLT_VECTOR_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 42),
c AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))), 6) AS c
  FROM embeddings e CROSS JOIN q
),
pool AS (SELECT doc_id, c FROM c ORDER BY c DESC, doc_id ASC LIMIT 15)
SELECT doc_id, round(c, 4) AS score FROM pool WHERE doc_id <> 42
ORDER BY round(c, 7) DESC, doc_id ASC LIMIT 10
"""

_MLT_HYBRID_SQL = f"""
WITH {_TOKS_CTE},
{_MLT_SELECT_CTES.format(src_doc=0, pct=90)},
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))), 6) AS c
  FROM embeddings e CROSS JOIN q
),
pool AS (SELECT doc_id, c FROM c ORDER BY c DESC, doc_id ASC LIMIT 20),
hybrid AS (
  SELECT coalesce(lex.doc_id, pool.doc_id) AS doc_id,
         coalesce(lex.s, 0) + coalesce(2.0 * pool.c, 0) AS s
  FROM lex FULL OUTER JOIN pool USING (doc_id)
)
SELECT doc_id, round(s, 4) AS score FROM hybrid WHERE doc_id <> 0
ORDER BY round(s, 7) DESC, doc_id ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# search family, batch 4 (score functions, stat facets, percentiles,
# similarity overrides, highlighting)


def q_score_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FunctionScoreQuery: score * ln(n_chars + 1) re-rank
    (handleScoreFunction:837-903)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("SCORE_SHOULD", q="merge block", qf=("text",)),), amount=1)
    rows = [
        (int(r["orig_doc_id"]), float(r["fscore"]))
        for r in eng.search_score_function(req, "score * ln(n_chars + 1)", amount=500).collect()
    ]
    rows.sort(key=lambda r: (-round(r[1], 7), r[0]))
    rows = [(d, float(round(s, 4))) for d, s in rows[:10]]
    return spark.createDataFrame(rows, "doc_id bigint, fscore double")


def q_stat_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats per facet value (stat facets, zulia_query.proto:112-121)
    with the reference's three counts (Stats.java:20-100)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    return eng.stat_facets(req, "lang", "n_chars", top_n=10).select(
        "value",
        F.col("min_v").cast("long"),
        F.col("max_v").cast("long"),
        F.col("sum_v").cast("long"),
        F.col("count_v").cast("long"),
        F.col("doc_count").cast("long"),
        F.col("all_doc_count").cast("long"),
    )


def q_stat_facet_novalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StatFacetNoValueTest semantics: facet labels whose docs carry
    NO stat values (opt_chars is null for all of src0/src1) still
    report, with count_v/doc_count 0, all_doc_count > 0, and null
    min/max/sum — ranked after valued labels."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    return eng.stat_facets(req, "source", "opt_chars", top_n=25).select(
        "value",
        F.col("min_v").cast("long"),
        F.col("max_v").cast("long"),
        F.col("sum_v").cast("long"),
        F.col("count_v").cast("long"),
        F.col("doc_count").cast("long"),
        F.col("all_doc_count").cast("long"),
    )


def q_stat_facet_pct_novalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StatFacetNoValueTest order(4): per-facet DDSketch percentiles
    where some labels have docs but no values — those labels return
    count_v 0, all_doc_count > 0, and NULL percentiles (the reference
    returns zero percentile entries; an empty shard's default sketch
    must not poison the merge)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    df = eng.stat_facet_percentiles(
        req, "source", "opt_chars", percentiles=(0.5,), precision=0.01, top_n=25
    )
    return df.select(
        "value", "count_v", "all_doc_count", F.round(F.col("p50"), 4).alias("p50")
    )


def q_numeric_facet_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NumericFacetConversionTest: a NUMERIC_INT field stored from a
    Double encoding facets with an integral label — "2020", never
    "2020.0" — and the label round-trips to a numeric-set query. The
    gate renders the facet value AS ITS LABEL (cast to string) so the
    no-decimal-point contract is what the oracle hashes; cnt_ns is
    the numeric-set round-trip count for the same value."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    counts = eng.facet_counts(req, "year", top_n=10).select(
        F.col("value").cast("string").alias("label"), "cnt"
    )
    ns_hits = int(eng.search_numeric_set(req, "year", (2016,), amount=1)["totalHits"])
    return counts.withColumn("cnt_ns", F.lit(ns_hits).cast("long"))


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles over the match set (vs the reference's
    DDSketch approximation — exact is strictly stronger)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    df = eng.percentile_stats(req, "n_chars", (0.25, 0.5, 0.75))
    return df.select(*[F.round(F.col(c), 4).alias(c) for c in df.columns])


def q_percentiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch percentiles — the reference's actual sketch algorithm
    (Stats.java DDSketches.unboundedDense, StatCombiner
    getValueAtQuantile): log-bucket counts at relative accuracy 0.01,
    quantile = midpoint of the first bucket past rank q*(n-1). The
    oracle replicates the bucketing in SQL, so this checks the sketch
    math itself, not just proximity to the exact answer."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    df = eng.percentile_sketch_stats(req, "n_chars", (0.25, 0.5, 0.75), precision=0.01)
    return df.select(*[F.round(F.col(c), 4).alias(c) for c in df.columns])


def q_stat_facet_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch median per facet value (StatRequest percentiles +
    facet, zulia_query.proto:112-121; per-ordinal sketch merge
    StatCombiner.java:183-223): the oracle replicates the log-bucket
    quantile walk per lang, so the per-facet sketch math is checked."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:scan"),), amount=1)
    df = eng.stat_facet_percentiles(
        req, "lang", "n_chars", percentiles=(0.5,), precision=0.01, top_n=5
    )
    return df.select("value", "count_v", F.round(F.col("p50"), 4).alias("p50"))


def q_sim_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field similarity override: TF scoring (TFSimilarity.java,
    FieldSimilarity zulia_query.proto:295-298) — score == raw tf."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (QueryClause("SCORE_SHOULD", q="merge", qf=("text",)),),
        amount=10000,  # cover ALL tied candidates: integer scores tie
        similarities=(("text", "TF"),),
    )
    return _topk_df(spark, eng, req, 10).withColumnRenamed("score", "tf_score")


def q_sim_constant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTANT similarity: each matched term contributes its boost —
    score == number of matched query terms (ConstantSimilarity.java)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest(
        (QueryClause("SCORE_SHOULD", q="merge window scan", qf=("text",)),),
        amount=10000,  # cover ALL tied candidates before re-ranking
        similarities=(("text", "CONSTANT"),),
    )
    return _topk_df(spark, eng, req, 10).withColumnRenamed("score", "n_matched")


def q_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highlight-style snippet: a window around the first query-term
    occurrence (ZuliaHighlighter.java:14-40 re-expressed as string
    expressions in codegen)."""
    eng = documents_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="text:merge"),), amount=1)
    matches = eng.match_ids(req).select("shard", "doc_id")
    # text is stored: read it from doc_map, no external join needed
    j = matches.join(eng.tables.doc_map, ["shard", "doc_id"])
    pos = F.locate("merge", F.lower(F.col("text")))
    return j.select(
        F.col("orig_doc_id").alias("doc_id"),
        F.substring("text", F.greatest(pos - 20, F.lit(1)), 50).alias("snippet"),
    )


_MATCH_SCAN = "(SELECT DISTINCT doc_id FROM toks WHERE term = 'scan')"

_SCORE_FN_SQL = """
WITH {toks},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ('merge','block') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT scored.doc_id, round(s * ln(d.n_chars + 1), 4) AS fscore
FROM scored JOIN documents d ON d.doc_id = scored.doc_id
ORDER BY round(s * ln(d.n_chars + 1), 7) DESC, scored.doc_id ASC LIMIT 10
""".format(toks=_TOKS_CTE)

_STAT_FACET_SQL = f"""
WITH {_TOKS_CTE}
SELECT lang AS value, min(n_chars)::BIGINT AS min_v, max(n_chars)::BIGINT AS max_v,
       sum(n_chars)::BIGINT AS sum_v, count(n_chars)::BIGINT AS count_v,
       count(n_chars)::BIGINT AS doc_count, count(*)::BIGINT AS all_doc_count
FROM documents WHERE doc_id IN {_MATCH_SCAN}
GROUP BY lang ORDER BY sum_v DESC, value ASC LIMIT 10
"""

# StatFacetNoValueTest: src0/src1 docs carry the facet but no stat
# value — they must still report (all_doc_count > 0, count_v 0, null
# aggregates), ranked nulls-last
_OPT_CHARS = "CASE WHEN source IN ('src0','src1') THEN NULL ELSE n_chars END"
_STAT_FACET_NOVALUE_SQL = f"""
WITH {_TOKS_CTE},
m AS (SELECT source AS value, {_OPT_CHARS} AS oc
      FROM documents WHERE doc_id IN {_MATCH_SCAN})
SELECT value, min(oc)::BIGINT AS min_v, max(oc)::BIGINT AS max_v,
       sum(oc)::BIGINT AS sum_v, count(oc)::BIGINT AS count_v,
       count(oc)::BIGINT AS doc_count, count(*)::BIGINT AS all_doc_count
FROM m GROUP BY value ORDER BY sum_v DESC NULLS LAST, value ASC LIMIT 25
"""

_PERCENTILES_SQL = f"""
WITH {_TOKS_CTE}
SELECT round(quantile_cont(n_chars, 0.25), 4) AS p25,
       round(quantile_cont(n_chars, 0.50), 4) AS p50,
       round(quantile_cont(n_chars, 0.75), 4) AS p75
FROM documents WHERE doc_id IN {_MATCH_SCAN}
"""

# DDSketch replicated in SQL: same gamma/ln(gamma) double constants as
# the engine, bucket = ceil(ln(v)/ln(gamma)), quantile = midpoint of
# the first bucket whose cumulative count exceeds rank q*(n-1).
_DD_PRECISION = 0.01
_DD_GAMMA = (1.0 + _DD_PRECISION) / (1.0 - _DD_PRECISION)
_DD_LG = __import__("math").log(_DD_GAMMA)
_PERCENTILES_SKETCH_SQL = f"""
WITH {_TOKS_CTE},
v AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
      WHERE doc_id IN {_MATCH_SCAN}),
b AS (SELECT CAST(CEIL(LN(v) / {_DD_LG!r}) AS BIGINT) AS bucket,
             COUNT(*) AS cnt FROM v GROUP BY 1),
c AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum FROM b),
n AS (SELECT COUNT(*) AS n FROM v)
SELECT
  round((SELECT 2*POW({_DD_GAMMA!r}, MIN(bucket))/({_DD_GAMMA!r}+1)
         FROM c, n WHERE cum > 0.25*(n-1)), 4) AS p25,
  round((SELECT 2*POW({_DD_GAMMA!r}, MIN(bucket))/({_DD_GAMMA!r}+1)
         FROM c, n WHERE cum > 0.50*(n-1)), 4) AS p50,
  round((SELECT 2*POW({_DD_GAMMA!r}, MIN(bucket))/({_DD_GAMMA!r}+1)
         FROM c, n WHERE cum > 0.75*(n-1)), 4) AS p75
"""

_STAT_FACET_PCT_SQL = f"""
WITH {_TOKS_CTE},
v AS (SELECT lang AS value, CAST(n_chars AS DOUBLE) AS v FROM documents
      WHERE doc_id IN {_MATCH_SCAN}),
b AS (SELECT value, CAST(CEIL(LN(v) / {_DD_LG!r}) AS BIGINT) AS bucket,
             COUNT(*) AS cnt FROM v GROUP BY 1, 2),
c AS (SELECT value, bucket,
             SUM(cnt) OVER (PARTITION BY value ORDER BY bucket) AS cum FROM b),
n AS (SELECT value, COUNT(*) AS n FROM v GROUP BY 1),
q AS (SELECT c.value, MIN(bucket) AS qb FROM c JOIN n USING (value)
      WHERE cum > 0.5 * (n - 1) GROUP BY 1)
SELECT n.value, n.n::BIGINT AS count_v,
       round(2 * POW({_DD_GAMMA!r}, qb) / ({_DD_GAMMA!r} + 1), 4) AS p50
FROM n JOIN q USING (value)
ORDER BY count_v DESC, value ASC LIMIT 5
"""

# per-facet sketch where two labels have zero values: the replicated
# quantile walk LEFT JOINs so those labels keep a NULL p50 (the
# reference returns no percentile entries for them)
_STAT_FACET_PCT_NOVALUE_SQL = f"""
WITH {_TOKS_CTE},
m AS (SELECT source AS value, CAST({_OPT_CHARS} AS DOUBLE) AS v
      FROM documents WHERE doc_id IN {_MATCH_SCAN}),
b AS (SELECT value, CAST(CEIL(LN(v) / {_DD_LG!r}) AS BIGINT) AS bucket,
             COUNT(*) AS cnt FROM m WHERE v IS NOT NULL GROUP BY 1, 2),
c AS (SELECT value, bucket,
             SUM(cnt) OVER (PARTITION BY value ORDER BY bucket) AS cum FROM b),
n AS (SELECT value, COUNT(v)::BIGINT AS count_v, COUNT(*)::BIGINT AS all_doc_count
      FROM m GROUP BY 1),
q AS (SELECT c.value, MIN(bucket) AS qb FROM c JOIN n USING (value)
      WHERE cum > 0.5 * (count_v - 1) GROUP BY 1)
SELECT n.value, n.count_v, n.all_doc_count,
       round(2 * POW({_DD_GAMMA!r}, qb) / ({_DD_GAMMA!r} + 1), 4) AS p50
FROM n LEFT JOIN q USING (value)
ORDER BY count_v DESC, value ASC LIMIT 25
"""

# NumericFacetConversionTest: the Double-encoded year coerces to the
# declared integral type at store time, so the facet label is the
# integral rendering and round-trips to a numeric-set query
_NUMERIC_FACET_COERCE_SQL = f"""
WITH {_TOKS_CTE},
m AS (SELECT CAST(2015 + (doc_id % 7) AS BIGINT) AS y
      FROM documents WHERE doc_id IN {_MATCH_SCAN})
SELECT CAST(y AS VARCHAR) AS label, COUNT(*)::BIGINT AS cnt,
       (SELECT COUNT(*) FROM m WHERE y = 2016)::BIGINT AS cnt_ns
FROM m GROUP BY y
"""

_SIM_TF_SQL = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'merge' GROUP BY doc_id)
SELECT doc_id, round(tf, 4) AS tf_score FROM tf
ORDER BY round(tf, 7) DESC, doc_id ASC LIMIT 10
"""

_SIM_CONST_SQL = f"""
WITH {_TOKS_CTE},
m AS (SELECT doc_id, count(DISTINCT term) AS nm FROM toks
      WHERE term IN ('merge','window','scan') GROUP BY doc_id)
SELECT doc_id, round(nm, 4) AS n_matched FROM m
ORDER BY round(nm, 7) DESC, doc_id ASC LIMIT 10
"""

_HIGHLIGHT_SQL = f"""
WITH {_TOKS_CTE}
SELECT doc_id, substr(text, greatest(strpos(lower(text), 'merge') - 20, 1), 50) AS snippet
FROM documents WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks WHERE term = 'merge')
"""


# --------------------------------------------------------------------------
# training-data pipeline ops, batch 2 (dedup / similarity / analysis)

from zuliasearch_spark import pipeline as P  # noqa: E402


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_minhash_lsh(spark, sf_dir):
    return P.lsh_candidate_pairs(P.minhash_signatures(_docs(spark, sf_dir)))


def q_simhash(spark, sf_dir):
    return P.simhash(_docs(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    return P.ngram_jaccard_consecutive(_docs(spark, sf_dir))


def q_neardup_cosine(spark, sf_dir):
    # oracle_mode pins the fixed 6-dim-sign bucket layout the DuckDB
    # oracle replicates; production default auto-scales n_planes
    return P.neardup_cosine_pairs(_emb(spark, sf_dir), oracle_mode=True)


def q_ivf_topk(spark, sf_dir):
    """IVF ANN with k-means-trained centroids (no ground-truth label
    leak) probing 5 of 8 cells; the oracle is the brute-force scan —
    the gate passing means recall@10 = 1.0 at this nprobe. (The
    synthetic embeddings are near-uniform, the hardest case for IVF;
    average-recall behavior is asserted in tests/test_ann_dedup.py.)"""
    return P.ivf_topk(_emb(spark, sf_dir), query_vec_id=30, n_cells=8, nprobe=5)


def q_simhash_pairs(spark, sf_dir):
    return P.simhash_pairs(_docs(spark, sf_dir), max_hamming=6)


def q_lsh_jaccard(spark, sf_dir):
    """Dedup pipeline composition: MinHash-LSH candidate pairs →
    EXACT word-shingle Jaccard verification (jaccard_pairs)."""
    docs = _docs(spark, sf_dir)
    cands = P.lsh_candidate_pairs(P.minhash_signatures(docs)).select("a", "b")
    return P.jaccard_pairs(docs, cands)


def q_dedup_clusters(spark, sf_dir):
    """End-to-end fuzzy-dedup clustering: LSH candidates -> exact
    Jaccard verify (>= 0.5) -> large-star/small-star connected
    components -> canonical keeper (min doc_id) per cluster. The
    oracle recomputes the verified pair graph in SQL and resolves
    components with a recursive reachability CTE."""
    return P.dedup_clusters(_docs(spark, sf_dir), threshold=0.5)


def q_span_dedup(spark, sf_dir):
    """C4-style duplicated-span removal: non-overlapping 10-token
    windows, global first occurrence (doc_id, position) kept, text
    rebuilt from surviving spans."""
    return P.span_dedup(_docs(spark, sf_dir), span_tokens=10)


def q_dedup_keep_best(spark, sf_dir):
    """Quality-preferring dedup keeper: cluster near-duplicates, keep
    the highest-quality doc per cluster (min doc_id tiebreak)."""
    return P.dedup_keep_best(_docs(spark, sf_dir), threshold=0.5)


def q_lang_id(spark, sf_dir):
    return P.lang_id(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    return P.quality_score(_docs(spark, sf_dir))


def q_winnow(spark, sf_dir):
    return P.winnow_fingerprints(_docs(spark, sf_dir))


def _pii_docs(spark, sf_dir):
    """documents with deterministic PII-shaped spans appended (the
    corpus itself has none — the injection is mirrored verbatim in
    the oracle SQL)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            "text",
            F.lit(" reach u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex-mail.org"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" at 10.0.42.7")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-123-4567")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII counts + redacted-text sha over the injected corpus."""
    return P.pii_scrub(_pii_docs(spark, sf_dir)).orderBy("doc_id")


def q_url_stats(spark, sf_dir):
    """URL extraction + distinct-domain stats over injected URLs."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            "text",
            F.lit(" see https://ex"),
            (F.col("doc_id") % 4).cast("string"),
            F.lit(".org/p/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(" and http://mirror.net/x")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return P.url_stats(docs).orderBy("doc_id")


def q_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (type/token ratio,
    top-token fraction, duplicate-2-gram fraction)."""
    return P.repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def q_contamination(spark, sf_dir):
    """Benchmark-contamination stats: docs with doc_id % 17 == 0 play
    the (tiny, broadcast) benchmark set; the rest are the train side."""
    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    return P.contamination(train, bench).orderBy("doc_id")


def q_seq_pack(spark, sf_dir):
    """Offset-based sequence packing into 256-token bins, 8 groups."""
    return P.pack_sequences(_docs(spark, sf_dir), budget=256, n_groups=8).orderBy("doc_id")


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language hash sampling report."""
    return P.stratified_sample_report(_docs(spark, sf_dir)).orderBy("lang")


def q_text_embed(spark, sf_dir):
    """zulia-ai TextEmbeddingModel analogue (ai.text_embed): one
    L2-normalized feature-hash vector per doc, pure Catalyst. The
    gate compares four components + the nonzero count per doc."""
    from zuliasearch_spark import ai

    out = ai.text_embed(_docs(spark, sf_dir).select("doc_id", "text"), dim=16)
    return out.select(
        "doc_id",
        *[
            # +0.0 collapses IEEE -0.0 to 0.0 (repr-compared vs DuckDB)
            (F.round(F.element_at("embedding", i + 1), 4) + F.lit(0.0)).alias(f"v{i}")
            for i in range(4)
        ],
        F.expr("size(filter(embedding, x -> x <> 0.0D))").cast("bigint").alias("nnz"),
    )


def q_sparse_encode(spark, sf_dir):
    """zulia-ai SparseEncoderModel analogue (ai.sparse_encode):
    TF-IDF term→weight maps, positive + descending + maxTerms-capped
    (SparseEncoderModelTest contract), top-3 per doc."""
    from zuliasearch_spark import ai

    return ai.sparse_encode(_docs(spark, sf_dir), max_terms=3)


def q_classifier_stats(spark, sf_dir):
    """BinaryClassifierStats confusion + metric math
    (BinaryClassifierStats.java:30-66) over a deterministic
    pseudo-probability column — the evaluator the trainer logs
    per epoch (F1/precision/recall/accuracy)."""
    from zuliasearch_spark import ai

    docs = _docs(spark, sf_dir)
    pred = docs.select(
        ((F.col("n_chars") % 100) / 100.0).alias("p1"),
        (F.col("lang") == "en").alias("label"),
    )
    s = ai.classifier_stats(pred, "p1", "label", threshold=0.5)
    cdf = spark.createDataFrame(
        [(s["truePositive"], s["falsePositive"], s["trueNegative"], s["falseNegative"])],
        "tp bigint, fp bigint, tn bigint, fn bigint",
    )
    # metrics rounded with Spark round (same decimal path the other
    # gates rely on versus DuckDB round)
    p = F.col("tp") / (F.col("tp") + F.col("fp"))
    r = F.col("tp") / (F.col("tp") + F.col("fn"))
    return cdf.select(
        "tp", "fp", "tn", "fn",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(2 * p * r / (p + r), 6).alias("f1"),
    )


def q_multimodal_meta(spark, sf_dir):
    return P.multimodal_meta(_docs(spark, sf_dir))


# ---- the matching DuckDB oracle SQL (shared constants from pipeline) ----

_LST = (
    "lst AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), "
    "x -> x <> '') AS l FROM documents)"
)
_H32D = "('0x'||substr(md5({x}),1,8))::BIGINT"

_MH_COLS = ", ".join(
    f"min(({a}*x + {b}) % {P.MINHASH_P}) AS mh{j}" for j, (a, b) in enumerate(P.MINHASH_AB)
)
_MH_BANDS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band, {sig} AS sig FROM mh".format(
        b=b,
        sig="||'-'||".join(
            f"mh{j}::VARCHAR" for j in range(b * P.MINHASH_BAND_ROWS, (b + 1) * P.MINHASH_BAND_ROWS)
        ),
    )
    for b in range(P.MINHASH_PERMS // P.MINHASH_BAND_ROWS)
)
_MH_MATCH = " + ".join(
    f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)" for j in range(P.MINHASH_PERMS)
)

_MINHASH_SQL = f"""
WITH {_LST},
sh AS (SELECT doc_id, CASE WHEN len(l) >= 3 THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                           ELSE array_to_string(l, ' ') END AS sh
       FROM lst, unnest(generate_series(1, greatest(len(l)-2, 1))) AS g(i)),
x AS (SELECT doc_id, {_H32D.format(x='sh')} AS x FROM sh),
mh AS (SELECT doc_id, {_MH_COLS} FROM x GROUP BY doc_id),
bands AS ({_MH_BANDS}),
pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bands a
          JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
SELECT p.a, p.b, ({_MH_MATCH})::BIGINT AS n_match
FROM pairs p JOIN mh sa ON sa.doc_id = p.a JOIN mh sb ON sb.doc_id = p.b
"""

# 64-bit simhash: two md5 words; bit 63 added as the negative long
# literal (1<<63 overflows DuckDB's signed left shift); sum() runs in
# HUGEINT so the mixed-sign accumulation is exact before the cast
_H32D9 = "('0x'||substr(md5({x}),9,8))::BIGINT"
_SIMHASH_BODY = f"""t AS (SELECT doc_id, unnest(l) AS term FROM lst),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
x AS (SELECT doc_id, tf, {_H32D.format(x='term')} AS x1, {_H32D9.format(x='term')} AS x2 FROM tf),
b AS (SELECT doc_id, j,
        sum(CASE WHEN ((CASE WHEN j < 32 THEN x1 ELSE x2 END) >> (j % 32)) & 1 = 1
            THEN tf ELSE -tf END) AS s
      FROM x, unnest(generate_series(0, {P.SIMHASH_BITS - 1})) AS g(j) GROUP BY doc_id, j),
f AS (SELECT doc_id,
        sum(CASE WHEN s > 0 THEN
              (CASE WHEN j = 63 THEN (-9223372036854775808)::HUGEINT
                    ELSE (1::BIGINT << j)::HUGEINT END)
            ELSE 0::HUGEINT END)::BIGINT AS fp
      FROM b GROUP BY doc_id)"""

_SIMHASH_SQL = f"""
WITH {_LST},
{_SIMHASH_BODY}
SELECT doc_id, fp AS simhash FROM f
"""

_NGRAM_SQL = """
WITH tri AS (SELECT DISTINCT doc_id, substr(text, i, 3) AS g
  FROM documents, unnest(generate_series(1, greatest(length(text)-2, 1))) AS s(i)),
sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a, count(*) AS n_inter FROM tri a
          JOIN tri b ON b.doc_id = a.doc_id + 1 AND b.g = a.g GROUP BY a.doc_id)
SELECT i.a, i.a + 1 AS b, round(i.n_inter / (sa.n + sb.n - i.n_inter), 4) AS jaccard
FROM inter i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.a + 1
"""

_NEARDUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v,
       array_to_string([CASE WHEN x >= 0 THEN '1' ELSE '0' END FOR x IN v[1:6]], '') AS bucket
      FROM e)
SELECT a.vec_id AS a, b2.vec_id AS b,
       round(round(list_dot_product(a.v, b2.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 6), 4) AS cosine
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE round(list_dot_product(a.v, b2.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 6) >= 0.4
"""

_IVF_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 30),
c AS (
  SELECT e.vec_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))), 6) AS c
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, round(c, 4) AS cosine FROM c
ORDER BY c DESC, vec_id ASC LIMIT 10
"""

def _simhash_band_layout(max_hamming: int, bits: int = P.SIMHASH_BITS):
    """[(offset, width)] for ``max_hamming + 1`` single bands: by
    pigeonhole two fingerprints within the distance budget share at
    least one exact band. The oracle's complete reference blocking;
    ``pipeline.simhash_pairs`` uses Manku multi-table blocking
    (``simhash_block_combos``) and must find the same pairs."""
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(f"max_hamming {max_hamming} needs more bands than {bits} bits")
    base, rem = divmod(bits, n_bands)
    out, off = [], 0
    for i in range(n_bands):
        w = base + (1 if i < rem else 0)
        out.append((off, w))
        off += w
    return out


# max_hamming + 1 bands over 64 bits, as a VALUES list
_SIMHASH_BAND_VALUES = ", ".join(
    f"({b}, {off}, {(1 << w) - 1})"
    for b, (off, w) in enumerate(_simhash_band_layout(6))
)

_SIMHASH_PAIRS_SQL = f"""
WITH {_LST},
{_SIMHASH_BODY},
layout(band, off, mask) AS (VALUES {_SIMHASH_BAND_VALUES}),
bands AS (SELECT doc_id, fp, band, (fp >> off) & mask AS bv FROM f, layout)
SELECT DISTINCT a.doc_id AS a, b2.doc_id AS b,
       bit_count(xor(a.fp, b2.fp))::BIGINT AS hamming
FROM bands a JOIN bands b2 ON a.band = b2.band AND a.bv = b2.bv AND a.doc_id < b2.doc_id
WHERE bit_count(xor(a.fp, b2.fp)) <= 6
"""

_LSH_JACCARD_SQL = f"""
WITH {_LST},
shd AS (SELECT DISTINCT doc_id,
          CASE WHEN len(l) >= 3 THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
               ELSE array_to_string(l, ' ') END AS sh
        FROM lst, unnest(generate_series(1, greatest(len(l)-2, 1))) AS g(i)),
x AS (SELECT doc_id, {_H32D.format(x='sh')} AS x FROM shd),
mh AS (SELECT doc_id, {_MH_COLS} FROM x GROUP BY doc_id),
bands AS ({_MH_BANDS}),
pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bands a
          JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (SELECT p.a, p.b, count(*) AS n_inter
          FROM pairs p JOIN shd sa ON sa.doc_id = p.a
          JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
          GROUP BY p.a, p.b)
SELECT p.a, p.b,
       round(coalesce(i.n_inter, 0) / (sa.n + sb.n - coalesce(i.n_inter, 0)), 4) AS jaccard
FROM pairs p LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
JOIN sz sa ON sa.doc_id = p.a JOIN sz sb ON sb.doc_id = p.b
"""


def _lex_sql(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in P.LANG_LEX[lang])


_LANGS = sorted(P.LANG_LEX)
_LANG_SCORES = ", ".join(
    f"len(list_filter(l, x -> x IN ({_lex_sql(lang)}))) AS s_{lang}" for lang in _LANGS
)
_GREATEST = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANGS) + ")"
_LANG_CASE = (
    "CASE WHEN " + _GREATEST + " = 0 THEN 'und' "
    + " ".join(f"WHEN s_{lang} = {_GREATEST} THEN '{lang}'" for lang in _LANGS[:-1])
    + f" ELSE '{_LANGS[-1]}' END"
)

# recursive reachability resolves components (min reachable id ==
# large-star/small-star's component label); docs outside the verified
# pair graph are their own singleton cluster
_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE jac AS ({_LSH_JACCARD_SQL}),
ver AS (SELECT a, b FROM jac WHERE jaccard >= 0.5),
ed AS (SELECT a AS s, b AS d FROM ver UNION ALL SELECT b AS s, a AS d FROM ver),
reach(id, r) AS (
  SELECT s, s FROM ed
  UNION
  SELECT e.d, reach.r FROM reach JOIN ed e ON e.s = reach.id
),
comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster,
       d.doc_id = coalesce(c.cluster, d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""

_SPAN_DEDUP_SQL = f"""
WITH {_LST},
sp0 AS (SELECT doc_id, i, array_to_string(l[i*10+1 : i*10+10], ' ') AS span
        FROM lst, unnest(generate_series(0, greatest(cast(floor((len(l)-1)/10.0) as int), 0))) AS gg(i)),
sp AS (SELECT * FROM sp0 WHERE span <> ''),
rk AS (SELECT doc_id, i, span,
              row_number() OVER (PARTITION BY span ORDER BY doc_id, i) AS rn FROM sp)
SELECT doc_id, count(*)::BIGINT AS n_spans,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       coalesce(string_agg(span, ' ' ORDER BY i) FILTER (WHERE rn = 1), '') AS text_kept
FROM rk GROUP BY doc_id
"""

_LANG_SQL = f"""
WITH {_LST},
s AS (SELECT doc_id, {_LANG_SCORES} FROM lst)
SELECT doc_id, {_LANG_CASE} AS pred_lang, {_GREATEST}::BIGINT AS best_score FROM s
"""

_Q_NUM = (
    "(40 * n_stop * n_chars"
    " + 3 * least(n_chars - n_toks + 1, 10 * n_toks) * n_chars"
    " + 30 * (n_chars - n_digit) * n_toks)"
)
_Q_DEN = "(100 * n_toks * n_chars)"

_QUALITY_SQL = f"""
WITH {_LST},
s AS (SELECT doc_id, len(l) AS n_toks,
        len(list_filter(l, x -> x IN ({', '.join(f"'{w}'" for w in P.STOPWORDS_10)}))) AS n_stop,
        length(text) AS n_chars,
        length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      FROM lst JOIN documents USING (doc_id))
SELECT doc_id, n_toks::BIGINT AS n_toks,
       ((20000 * n_stop + n_toks) // (2 * n_toks)) / 10000.0 AS stop_ratio,
       ((20000 * {_Q_NUM} + {_Q_DEN}) // (2 * {_Q_DEN})) / 10000.0 AS quality
FROM s
"""

_DEDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE cl AS ({_DEDUP_CLUSTERS_SQL}), ql AS ({_QUALITY_SQL})
SELECT c.doc_id, c.cluster, q.quality,
       row_number() OVER (PARTITION BY c.cluster
                          ORDER BY q.quality DESC, c.doc_id ASC) = 1 AS keep
FROM cl c JOIN ql q ON q.doc_id = c.doc_id
"""


_WINNOW_SQL = f"""
WITH {_LST},
g AS (SELECT doc_id, CASE WHEN len(l) >= {P.WINNOW_K} THEN
        [{_H32D.format(x="array_to_string(l[i:i+" + str(P.WINNOW_K - 1) + "], ' ')")}
         FOR i IN generate_series(1, len(l)-{P.WINNOW_K - 1})]
      ELSE [] END AS gs FROM lst),
f AS (SELECT doc_id, CASE WHEN len(gs) >= {P.WINNOW_W} THEN
        list_distinct([list_min(gs[j:j+{P.WINNOW_W - 1}])
                       FOR j IN generate_series(1, len(gs)-{P.WINNOW_W - 1})])
      WHEN len(gs) >= 1 THEN [list_min(gs)] ELSE [] END AS fps FROM g)
SELECT doc_id, len(fps)::BIGINT AS n_fp, list_min(fps)::BIGINT AS min_fp FROM f
"""

# PII / URL / repetition oracles — built from the SAME pattern constants
# as the Spark ops (pipeline.PII_PATTERNS / URL_PATTERN / URL_DOMAIN), so
# the two engines compile the identical RE2 ∩ Java-regex automaton.

_PII_INJECT = (
    "p AS (SELECT doc_id, text || ' reach u' || doc_id::VARCHAR || '@ex-mail.org'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' at 10.0.42.7' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text"
    " FROM documents)"
)

_PII_COUNT_COLS = ", ".join(
    f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name}"
    for name, pat in P.PII_PATTERNS
)
_PII_TOTAL = " + ".join(
    f"len(regexp_extract_all(text, '{pat}'))" for _n, pat in P.PII_PATTERNS
)
_PII_CLEAN = "text"
for _n, _pat in P.PII_PATTERNS:
    _PII_CLEAN = f"regexp_replace({_PII_CLEAN}, '{_pat}', '[PII]', 'g')"

_PII_SQL = f"""
WITH {_PII_INJECT}
SELECT doc_id, {_PII_COUNT_COLS},
       ({_PII_TOTAL})::BIGINT AS n_redacted,
       sha256({_PII_CLEAN}) AS clean_sha
FROM p
"""

_URL_INJECT = (
    "p AS (SELECT doc_id, text || ' see https://ex' || (doc_id % 4)::VARCHAR"
    " || '.org/p/' || doc_id::VARCHAR"
    " || CASE WHEN doc_id % 2 = 0 THEN ' and http://mirror.net/x' ELSE '' END AS text"
    " FROM documents)"
)

_URL_SQL = f"""
WITH {_URL_INJECT},
u AS (SELECT doc_id, regexp_extract_all(text, '{P.URL_PATTERN}') AS urls FROM p),
d AS (SELECT doc_id, urls,
        list_distinct(list_transform(urls,
          x -> regexp_extract(x, '{P.URL_DOMAIN}', 1))) AS doms FROM u)
SELECT doc_id, len(urls)::BIGINT AS n_urls, len(doms)::BIGINT AS n_domains,
       array_to_string(list_sort(doms), ',') AS domains
FROM d
"""

_REPETITION_SQL = f"""
WITH {_LST},
base AS (SELECT doc_id, len(l) AS n_toks, l FROM lst),
tc AS (SELECT doc_id, n_toks, tok, count(*) AS c
       FROM (SELECT doc_id, n_toks, unnest(l) AS tok FROM base)
       GROUP BY doc_id, n_toks, tok),
t AS (SELECT doc_id, n_toks, max(c) AS top_tok, count(*) AS n_types
      FROM tc GROUP BY doc_id, n_toks),
gr AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS gm
       FROM base, unnest(generate_series(1, len(l)-1)) AS s(i)
       WHERE len(l) >= 2),
gc AS (SELECT doc_id, gm, count(*) AS c FROM gr GROUP BY doc_id, gm),
g2 AS (SELECT doc_id, sum(c) AS n_2g, count(*) AS n_2g_types FROM gc GROUP BY doc_id)
SELECT t.doc_id, t.n_toks::BIGINT AS n_toks,
  ((20000 * n_types + n_toks) // (2 * n_toks)) / 10000.0 AS type_token_ratio,
  ((20000 * top_tok + n_toks) // (2 * n_toks)) / 10000.0 AS top_tok_frac,
  CASE WHEN coalesce(n_2g, 0) > 0
       THEN ((20000 * (n_2g - n_2g_types) + n_2g) // (2 * n_2g)) / 10000.0
       ELSE 0.0 END AS dup_2gram_frac
FROM t LEFT JOIN g2 ON g2.doc_id = t.doc_id
"""

_GRAM3_CTE = """{name} AS (SELECT DISTINCT doc_id,
   CASE WHEN len(l) >= 3 THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        ELSE array_to_string(l, ' ') END AS g
 FROM {src}, unnest(generate_series(1, greatest(len(l)-2, 1))) AS s(i))"""

_CONTAMINATION_SQL = f"""
WITH {_LST},
tr AS (SELECT doc_id, l FROM lst WHERE doc_id % 17 <> 0),
be AS (SELECT doc_id, l FROM lst WHERE doc_id % 17 = 0),
{_GRAM3_CTE.format(name='dg', src='tr')},
{_GRAM3_CTE.format(name='bg0', src='be')},
bg AS (SELECT DISTINCT g FROM bg0),
tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id),
hit AS (SELECT doc_id, count(*) AS n_contaminated FROM dg
        WHERE g IN (SELECT g FROM bg) GROUP BY doc_id)
SELECT t.doc_id, t.n_grams::BIGINT AS n_grams,
       coalesce(h.n_contaminated, 0)::BIGINT AS n_contaminated,
       ((20000 * coalesce(h.n_contaminated, 0) + t.n_grams) // (2 * t.n_grams))
         / 10000.0 AS contaminated_frac
FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
"""

_SEQ_PACK_SQL = f"""
WITH {_LST},
b AS (SELECT doc_id, len(l) AS n_toks, doc_id % 8 AS pack_group FROM lst),
c AS (SELECT doc_id, pack_group, n_toks,
        sum(n_toks) OVER (PARTITION BY pack_group ORDER BY doc_id) - n_toks AS start
      FROM b)
SELECT doc_id, pack_group::BIGINT AS pack_group, n_toks::BIGINT AS n_toks,
       (start // 256)::BIGINT AS bin_id, (start % 256)::BIGINT AS bin_offset
FROM c
"""

_SAMPLE_BP_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{lang}' THEN {r}" for lang, r in sorted(P.SAMPLE_BP.items()))
    + f" ELSE {P.SAMPLE_BP_DEFAULT} END"
)

_STRATIFIED_SQL = f"""
WITH s AS (SELECT lang,
    {_H32D.format(x="'" + P.SAMPLE_SALT + "' || doc_id::VARCHAR")} % 10000 AS h,
    {_SAMPLE_BP_CASE} AS bp
  FROM documents)
SELECT lang, count(*)::BIGINT AS n_total,
  sum(CASE WHEN h < bp THEN 1 ELSE 0 END)::BIGINT AS n_kept,
  ((20000 * sum(CASE WHEN h < bp THEN 1 ELSE 0 END) + count(*)) // (2 * count(*)))
    / 10000.0 AS kept_frac
FROM s GROUP BY lang
"""

_MULTIMODAL_SQL = """
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha, substr(text, 1, 12) AS head
FROM documents
"""


# --------------------------------------------------------------------------
# events stream table: DATE-windowed search, stats, rollups, sorts

_EVENTS_ENGINE_CACHE: dict = {}


EVENTS_STORED_COLS = ("orig_event_id", "user_id", "value", "ts")


def events_corpus(ev: DataFrame) -> DataFrame:
    """Shape the raw events table into the index corpus (shared by the
    one-shot gate build and the streaming availableNow build so the
    two are comparable row-for-row)."""
    return ev.select(
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("uid"),
        F.col("event_id").alias("orig_event_id"),
        "event_type",
        "user_id",
        "value",
        "ts",
    )


def events_config() -> IndexConfig:
    """Index settings for the events feed (shared one-shot/streaming)."""
    return IndexConfig(
        index_name="events",
        unique_id_col="uid",
        number_of_shards=4,
        default_search_fields=("event_type",),
        field_configs=(
            FieldConfig(
                "event_type",
                index_as=(IndexAs("event_type", "lcKeyword"),),
                facet_as=("event_type",),
            ),
        ),
        per_shard_stats=False,
        quantize_norms=False,
    )


def events_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Index over the events stream table (event_id, ts, user_id,
    event_type, value, props): event_type KEYWORD-indexed + faceted,
    ts / value / user_id stored for doc-values DATE ranges, stats and
    sorts — the DateStringTest / StatTest surface over a time-series
    feed instead of a document corpus."""
    eng = _EVENTS_ENGINE_CACHE.get(sf_dir)
    if eng is not None:
        return eng
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tables = build_index(
        events_corpus(ev), events_config(), stored_cols=EVENTS_STORED_COLS
    ).persist()
    eng = SearchEngine(tables)
    _EVENTS_ENGINE_CACHE[sf_dir] = eng
    return eng


def q_events_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE-period range + keyword filter, then numeric stats of the
    value column over the match set (DateStringTest period coercion —
    [2024-01-05 TO 2024-01-15] spans whole days — composed with
    StatTest numeric stats)."""
    eng = events_engine(spark, sf_dir)
    q = "event_type:purchase AND ts:[2024-01-05 TO 2024-01-15]"
    req = SearchRequest(qs=q, amount=1)
    hits = eng.search_string(q, amount=1)["totalHits"]
    stats = eng.numeric_stats(req, "value").select(
        F.round("min_v", 2).alias("min_v"),
        F.round("max_v", 2).alias("max_v"),
        F.round("sum_v", 2).alias("sum_v"),
        F.col("count_v").cast("long").alias("count_v"),
    )
    return stats.withColumn("hits", F.lit(hits).cast("long"))


def q_events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event counts via a DATE facet (facet date handling —
    DateStringTest date facets; format 'yyyy-MM-dd') over the error
    events of one week."""
    eng = events_engine(spark, sf_dir)
    req = SearchRequest(
        qs="event_type:error AND ts:[2024-01-08 TO 2024-01-14]", amount=1
    )
    return eng.facet_counts(req, "ts", top_n=7, date_format="yyyy-MM-dd")


def q_events_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 purchase events by value DESC (field sort with id
    tiebreak, SortTest semantics) from the stream table."""
    eng = events_engine(spark, sf_dir)
    req = SearchRequest((QueryClause("FILTER", q="event_type:purchase"),), amount=1)
    return eng.sort_search(
        req, sort_col="value", ascending=False, amount=10, tiebreak=("orig_event_id",)
    ).select(
        F.col("orig_event_id").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.round("value", 2).alias("value"),
    )


# --------------------------------------------------------------------------
# registry

QUERIES = {
    # --- driver CORRECTNESS window: first 50 entries. r4 rotation policy:
    # (a) the 15 gates never yet driver-verified, (b) the 21 gates last
    # driver-verified in r02, (c) 14 gates whose code paths change in r4
    # (vector/IVF, intervals, sorts, docvalues, headline). Gates rotated out
    # stay covered by CORRECTNESS_r03 + tests/test_gate_parity.py.
    "mlt_vector_topk": q_mlt_vector_topk,
    "mlt_hybrid_topk": q_mlt_hybrid_topk,
    "vector_int8_topk": q_vector_int8_topk,
    "vector_hnsw_topk": q_vector_hnsw_topk,
    # new in r4 late: filtered HNSW KNN (cogrouped accept list) —
    # takes the slot of r02-green unchanged neardup_cosine
    "vector_hnsw_filtered_topk": q_vector_hnsw_filtered_topk,
    "zulia_id_count": q_zulia_id_count,
    "zulia_id_sort_topk": q_zulia_id_sort_topk,
    "score_sort_topk": q_score_sort_topk,
    "timestamp_range_count": q_timestamp_range_count,
    "numeric_facet_coerce": q_numeric_facet_coerce,
    "events_window_stats": q_events_window_stats,
    "events_daily_rollup": q_events_daily_rollup,
    "events_sort_topk": q_events_sort_topk,
    "text_embed": q_text_embed,
    "sparse_encode": q_sparse_encode,
    "classifier_stats": q_classifier_stats,
    "dedup_keep_best": q_dedup_keep_best,
    "drill_down_multi": q_drill_down_multi,
    "numeric_set_count": q_numeric_set_count,
    "sort_topk": q_sort_topk,
    "sort_multi": q_sort_multi,
    "docvalue_range": q_docvalue_range,
    # new in r4 late: nested/SHOULD-position ranges — takes the window
    # slot of r02-green unchanged mlt_topk (below)
    "range_or_count": q_range_or_count,
    "ivf_topk": q_ivf_topk,
    "simhash_pairs": q_simhash_pairs,
    # new in r4: contamination / packing / sampling — never
    # driver-verified, so they take the slots of three r02-green
    # unchanged gates (lsh_jaccard, simhash, ngram_jaccard → below)
    "contamination": q_contamination,
    "vector_int7_topk": q_vector_int7_topk,
    "vector_bbq2_topk": q_vector_bbq2_topk,
    "facet_multivalued": q_facet_multivalued,
    "quality": q_quality,
    "winnow": q_winnow,
    # new in r4: training-data hygiene ops (PII scrub, URL stats,
    # Gopher repetition) — never driver-verified, so they take the
    # slots of three r03-green unchanged gates (minhash_lsh,
    # phrase_topk, multi_index_topk → below the window)
    "pii_scrub": q_pii_scrub,
    "clause_grammar_counts": q_clause_grammar_counts,
    "repetition": q_repetition,
    # new in r4 late: dedup clustering (CC over verified LSH pairs) —
    # takes the window slot of r02-green unchanged doc_terms (below)
    "dedup_clusters": q_dedup_clusters,
    # new in r4 late: C4-style span dedup — takes the window slot of
    # r02-green unchanged summary_terms (below; its extended surface is
    # window-covered by analysis_top_terms_summary)
    "span_dedup": q_span_dedup,
    # new in r4: the full AnalysisRequest surface (termSort/filters/
    # summaryType/tokens) — never driver-verified, so they take the
    # window slots of four r02-green gates (wildcard_count, highlight,
    # sim_tf, sim_constant → below the window, replica-tested)
    "analysis_tfidf_summary": q_analysis_tfidf_summary,
    "analysis_doc_terms_filtered": q_analysis_doc_terms_filtered,
    "analysis_tokens": q_analysis_tokens,
    "analysis_top_terms_summary": q_analysis_top_terms_summary,
    "vector_clause_topk": q_vector_clause_topk,
    "vector_should_topk": q_vector_should_topk,
    "interval_ordered_count": q_interval_ordered_count,
    "interval_within_count": q_interval_within_count,
    "interval_atleast_count": q_interval_atleast_count,
    "bm25_topk": q_bm25_topk,
    "bm25_filtered": q_bm25_filtered,
    # new in r4 late: CSV export lines (REST /query/csv) — takes the
    # window slot of r03-green unchanged qs_topk
    "query_csv_export": q_query_csv_export,
    "source_xls_roundtrip": q_source_xls_roundtrip,
    "kstem_counts": q_kstem_counts,
    # --- below the 50-slot window (driver-green in r02/r03; replica-tested) ---
    "qs_topk": q_qs_topk,
    "source_xlsx_roundtrip": q_source_xlsx_roundtrip,
    "multimodal_meta": q_multimodal_meta,
    "seq_pack": q_seq_pack,
    "stratified_sample": q_stratified_sample,
    "url_stats": q_url_stats,
    # rotated out of the 50-slot window for r4's facet_multivalued
    # (lang_id is r02-driver-green and unchanged since)
    "lang_id": q_lang_id,
    "doc_terms": q_doc_terms,
    "summary_terms": q_summary_terms,
    "mlt_topk": q_mlt_topk,
    "lsh_jaccard": q_lsh_jaccard,
    "simhash": q_simhash,
    "ngram_jaccard": q_ngram_jaccard,
    "neardup_cosine": q_neardup_cosine,
    "minhash_lsh": q_minhash_lsh,
    "phrase_topk": q_phrase_topk,
    "multi_index_topk": q_multi_index_topk,
    "wildcard_count": q_wildcard_count,
    "highlight": q_highlight,
    "sim_tf": q_sim_tf,
    "sim_constant": q_sim_constant,
    "cosine_topk": q_cosine_topk,
    "facet_path": q_facet_path,
    "stat_facet": q_stat_facet,
    "get_terms": q_get_terms,
    "and_count": q_and_count,
    "and_multifield": q_and_multifield,
    "sim_tfidf": q_sim_tfidf,
    "phrase_slop_count": q_phrase_slop_count,
    "qs_count": q_qs_count,
    "upsert_count": q_upsert_count,
    "drill_down_count": q_drill_down_count,
    "fetch_masked": q_fetch_masked,
    "highlight_tags": q_highlight_tags,
    "get_terms_fuzzy": q_get_terms_fuzzy,
    "len_meta_count": q_len_meta_count,
    "bool_count": q_bool_count,
    "bool_facet": q_bool_facet,
    "null_exists_counts": q_null_exists_counts,
    "facet_sharded": q_facet_sharded,
    "stat_facet_sharded": q_stat_facet_sharded,
    "source_jsonl_roundtrip": q_source_jsonl_roundtrip,
    "source_csv_roundtrip": q_source_csv_roundtrip,
    "qs_zl_ns_count": q_qs_zl_ns_count,
    "qs_zl_tq_count": q_qs_zl_tq_count,
    "geo_bbox_count": q_geo_bbox_count,
    "geo_dist_count": q_geo_dist_count,
    "geo_sort_topk": q_geo_sort_topk,
    "shingle_count": q_shingle_count,
    "concat_count": q_concat_count,
    "terms_set_count": q_terms_set_count,
    "facet_lang": q_facet_lang,
    "numeric_stats": q_numeric_stats,
    "dedup_exact": q_dedup_exact,
    "token_count": q_token_count,
    "score_fn": q_score_fn,
    "percentiles": q_percentiles,
    "percentiles_sketch": q_percentiles_sketch,
    "stat_facet_percentiles": q_stat_facet_percentiles,
    "stat_facet_novalue": q_stat_facet_novalue,
    "stat_facet_pct_novalue": q_stat_facet_pct_novalue,
}

_BM25_SQL = """
WITH {toks},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ({terms}) GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  {extra_join}
  {where}
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY round(s, 7) DESC, doc_id ASC LIMIT 10
"""

def _csv_cell_sql(col: str) -> str:
    """CSVUtil.quoteForCSV as DuckDB SQL: quote iff the value contains
    a comma, a space, a quote, or a newline; inner quotes doubled."""
    return (
        f"CASE WHEN contains({col}, ',') OR contains({col}, ' ') "
        f"OR contains({col}, '\"') OR contains({col}, chr(10)) "
        f"THEN '\"' || replace({col}, '\"', '\"\"') || '\"' ELSE {col} END"
    )


ORACLE_SQL = {
    # CSV export cells per appendDocument (QueryController.java:637-705):
    # string cells through quoteForCSV; doc_id was lpad'ed to the
    # 12-char uid at index time (documents_engine)
    "query_csv_export": f"""
SELECT lpad(CAST(doc_id AS VARCHAR), 12, '0') || ',' || {_csv_cell_sql('lang')}
  || ',' || CAST(n_chars AS VARCHAR) || ',' || {_csv_cell_sql('text')} AS line
FROM documents WHERE lower(lang) = 'fr'""",
    "bm25_topk": _BM25_SQL.format(
        toks=_TOKS_CTE, terms="'spark','query','merge'", extra_join="", where=""
    ),
    "bm25_filtered": _BM25_SQL.format(
        toks=_TOKS_CTE,
        terms="'window','sort'",
        extra_join="JOIN documents d ON d.doc_id = tf.doc_id",
        where="WHERE lower(d.lang) = 'en'",
    ),
    "and_count": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS hits FROM (
  SELECT doc_id FROM toks WHERE term IN ('hash','join')
  GROUP BY doc_id HAVING count(DISTINCT term) = 2
)""",
    "and_multifield": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS hits FROM documents d
WHERE (d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'en') OR lower(d.lang) = 'en')
  AND (d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'merge') OR lower(d.lang) = 'merge')""",
    "qs_topk": f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ('merge','scan','window') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
s AS (SELECT tf.doc_id, tf.term,
        ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
          * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS sc
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
p AS (SELECT doc_id,
        max(CASE WHEN term = 'merge' THEN sc END) AS sm,
        max(CASE WHEN term = 'scan' THEN sc END) AS ss,
        max(CASE WHEN term = 'window' THEN sc END) AS sw
      FROM s GROUP BY doc_id)
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id,
         (CASE WHEN sm IS NOT NULL AND ss IS NOT NULL THEN 2 * (sm + ss) ELSE 0 END)
           + coalesce(sw, 0) AS score
  FROM p
  WHERE (sm IS NOT NULL AND ss IS NOT NULL) OR sw IS NOT NULL
)
ORDER BY round(score, 7) DESC, doc_id ASC LIMIT 10""",
    "range_or_count": f"""
WITH {_TOKS_CTE}
SELECT
 (SELECT count(*) FROM documents d
   WHERE (d.n_chars > 400 OR d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'window'))
     AND d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'merge'))::BIGINT AS hits_nested,
 (SELECT count(*) FROM documents d
   WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'scan') OR d.n_chars <= 120)::BIGINT AS hits_or""",
    "qs_count": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS hits FROM documents d
WHERE ((d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'merge')
        AND d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'scan'))
       OR d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'window'))
  AND lower(d.lang) <> 'fr'""",
    "upsert_count": """
SELECT count(*) FILTER (WHERE doc_id % 10 = 0)::BIGINT AS n_upserted,
       count(*)::BIGINT AS n_docs
FROM documents""",
    "facet_path": f"""
WITH {_TOKS_CTE}
SELECT lang AS value, count(*)::BIGINT AS cnt FROM documents
WHERE doc_id IN {_MATCH_MERGE} AND source = 'src1'
GROUP BY lang ORDER BY cnt DESC, value ASC LIMIT 10""",
    "fetch_masked": """
SELECT doc_id, n_chars::BIGINT AS n_chars FROM documents WHERE doc_id IN (3, 7, 11)""",
    "len_meta_count": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS hits FROM documents
WHERE doc_id IN {_MATCH_MERGE} AND length(text) BETWEEN 150 AND 350""",
    "vector_clause_topk": f"""
WITH {_TOKS_CTE},
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'merge'),
c AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))), 6) AS c
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id IN (SELECT doc_id FROM m)
)
SELECT doc_id, round(c, 4) AS score FROM c
ORDER BY round(c, 7) DESC, doc_id ASC LIMIT 10""",
    "vector_should_topk": f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ('spark','query','merge') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))), 6) AS c
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id IN (SELECT doc_id FROM scored)
),
knn AS (SELECT doc_id, c FROM c ORDER BY round(c, 7) DESC, doc_id ASC LIMIT 10)
SELECT s.doc_id, round(s.s + coalesce(k.c, 0), 4) AS score
FROM scored s LEFT JOIN knn k USING (doc_id)
ORDER BY round(s.s + coalesce(k.c, 0), 7) DESC, s.doc_id ASC LIMIT 10""",
    "bool_count": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS hits FROM documents
WHERE doc_id IN {_MATCH_SCAN} AND n_chars > 300""",
    "bool_facet": f"""
WITH {_TOKS_CTE}
SELECT CASE WHEN n_chars > 300 THEN 'True' ELSE 'False' END AS value,
       count(*)::BIGINT AS cnt
FROM documents WHERE doc_id IN {_MATCH_SCAN}
GROUP BY 1 ORDER BY cnt DESC, value ASC LIMIT 5""",
    "null_exists_counts": """
SELECT
  (SELECT count(*) FROM documents WHERE doc_id % 5 <> 0)::BIGINT AS exists_hits,
  (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)::BIGINT AS not_exists_hits,
  (SELECT count(*) FROM documents
   WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0)::BIGINT AS nonempty_hits""",
    "interval_ordered_count": """
WITH lst AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS l FROM documents),
pt AS (SELECT doc_id, i, l[i] AS term FROM lst, unnest(generate_series(1, len(l))) AS g(i))
SELECT count(*)::BIGINT AS hits FROM (
  SELECT a.doc_id FROM pt a JOIN pt b USING (doc_id)
  WHERE a.term = 'merge' AND b.term = 'scan' AND a.i < b.i
  GROUP BY a.doc_id
)""",
    "interval_within_count": """
WITH lst AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS l FROM documents),
pt AS (SELECT doc_id, i, l[i] AS term FROM lst, unnest(generate_series(1, len(l))) AS g(i)),
-- minimal merge->scan ordered intervals: per scan end, the greatest
-- merge start before it, then drop intervals containing another
cand AS (
  SELECT b.doc_id,
         (SELECT max(a.i) FROM pt a
          WHERE a.doc_id = b.doc_id AND a.term = 'merge' AND a.i < b.i) AS s,
         b.i AS e
  FROM pt b WHERE b.term = 'scan'
),
ivs AS (SELECT doc_id, s, e FROM cand WHERE s IS NOT NULL),
miv AS (
  SELECT * FROM ivs x
  WHERE NOT EXISTS (
    SELECT 1 FROM ivs y
    WHERE y.doc_id = x.doc_id AND y.s >= x.s AND y.e <= x.e
      AND (y.s <> x.s OR y.e <> x.e))
)
SELECT count(*)::BIGINT AS hits FROM (
  SELECT DISTINCT p.doc_id FROM pt p JOIN miv m ON m.doc_id = p.doc_id
  WHERE p.term = 'sort' AND p.i BETWEEN m.s - 3 AND m.e + 3
)""",
    "interval_atleast_count": """
WITH lst AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS l FROM documents),
pt AS (SELECT doc_id, i, l[i] AS term FROM lst, unnest(generate_series(1, len(l))) AS g(i))
SELECT count(*)::BIGINT AS hits FROM (
  SELECT doc_id FROM pt WHERE term IN ('merge','scan','sort')
  GROUP BY doc_id HAVING count(DISTINCT term) >= 2
)""",
    "qs_zl_ns_count": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS hits FROM documents
WHERE doc_id IN {_MATCH_MERGE} AND n_chars IN (132, 218, 246)""",
    "qs_zl_tq_count": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS hits FROM documents
WHERE doc_id IN {_MATCH_MERGE} AND lower(lang) IN ('en', 'de')""",
    "geo_bbox_count": f"""
WITH {_TOKS_CTE},
geo AS (SELECT doc_id, ((doc_id * 37) % 180) - 89.75 AS lat,
               ((doc_id * 73) % 360) - 179.75 AS lon FROM documents)
SELECT count(*)::BIGINT AS hits FROM geo
WHERE doc_id IN {_MATCH_MERGE}
  AND lat BETWEEN -45 AND 45 AND lon BETWEEN -90 AND 90""",
    "geo_dist_count": f"""
WITH {_TOKS_CTE},
geo AS (SELECT doc_id, ((doc_id * 37) % 180) - 89.75 AS lat,
               ((doc_id * 73) % 360) - 179.75 AS lon FROM documents)
SELECT count(*)::BIGINT AS hits FROM geo
WHERE doc_id IN {_MATCH_MERGE}
  AND 2.0 * 6371008.7714 * asin(sqrt(
        pow(sin(radians(lat - 20) / 2), 2)
        + cos(radians(20)) * cos(radians(lat)) * pow(sin(radians(lon - 40) / 2), 2)
      )) <= 3000000.0""",
    "shingle_count": """
WITH lst AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS l FROM documents),
pt AS (SELECT doc_id, i, l[i] AS term FROM lst, unnest(generate_series(1, len(l))) AS g(i))
SELECT count(*)::BIGINT AS hits FROM (
  SELECT DISTINCT a.doc_id FROM pt a JOIN pt b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  WHERE a.term = 'merge' AND b.term = 'scan'
)""",
    "concat_count": """
SELECT count(*)::BIGINT AS hits FROM documents
WHERE regexp_replace(lower(text), '[^0-9a-z]+', '', 'g') LIKE '%mergemerge%'""",
    "geo_sort_topk": f"""
WITH {_TOKS_CTE},
geo AS (SELECT doc_id, ((doc_id * 37) % 180) - 89.75 AS lat,
               ((doc_id * 73) % 360) - 179.75 AS lon FROM documents),
d AS (SELECT doc_id,
        2.0 * 6371008.7714 * asin(sqrt(
          pow(sin(radians(lat - 0) / 2), 2)
          + cos(radians(0)) * cos(radians(lat)) * pow(sin(radians(lon - 0) / 2), 2)
        )) AS m
      FROM geo WHERE doc_id IN {_MATCH_MERGE})
SELECT doc_id, round(m)::BIGINT AS dist_m FROM d
ORDER BY m ASC, doc_id ASC LIMIT 10""",
    "multi_index_topk": f"""
WITH {_TOKS_CTE},
half AS (SELECT doc_id, CASE WHEN source < 'src5' THEN 0 ELSE 1 END AS h FROM documents),
dl AS (SELECT t.doc_id, h.h, count(*) AS dl FROM toks t JOIN half h USING (doc_id) GROUP BY t.doc_id, h.h),
stats AS (SELECT h, count(*) AS n_docs, avg(dl) AS avgdl FROM dl GROUP BY h),
tf AS (SELECT t.doc_id, h.h, t.term, count(*) AS tf FROM toks t JOIN half h USING (doc_id)
       WHERE t.term IN ('merge','scan') GROUP BY t.doc_id, h.h, t.term),
df AS (SELECT h, term, count(*) AS df FROM tf GROUP BY h, term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN df ON df.h = tf.h AND df.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id AND dl.h = tf.h
  JOIN stats ON stats.h = tf.h
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY round(s, 7) DESC, doc_id ASC LIMIT 10""",
    "highlight_tags": f"""
WITH {_TOKS_CTE}
SELECT doc_id,
       ((length(text) - length(regexp_replace(lower(text), '\\bmerge\\b', '', 'g'))) / 5)::BIGINT AS n_tagged,
       substr(regexp_replace(text, '\\b(merge)\\b', '<em>\\1</em>', 'gi'), 1, 80) AS head
FROM documents WHERE doc_id IN {_MATCH_MERGE}""",
    "get_terms_fuzzy": f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS ttf FROM tf
WHERE length(term) BETWEEN 4 AND 6 AND levenshtein(term, 'merge') <= 1
GROUP BY term ORDER BY term""",
    "drill_down_count": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS hits FROM documents
WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks WHERE term IN ('index','scan'))
  AND source = 'src2'""",
    "drill_down_multi": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS hits FROM documents
WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks WHERE term IN ('index','scan'))
  AND source IN ('src1','src2','src3')
  AND NOT (source = 'src2' AND lang = 'fr')""",
    "phrase_topk": f"""
WITH {_TOKS_CTE},
lst AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS l FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
       WHERE term IN ('merge','scan') GROUP BY term),
idfsum AS (SELECT sum(ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))) AS w
           FROM df CROSS JOIN stats),
ptf AS (SELECT doc_id, count(*) AS tfp
        FROM lst, unnest(generate_series(1, greatest(len(l)-1, 1))) AS g(i)
        WHERE i < len(l) AND l[i] = 'merge' AND l[i+1] = 'scan' GROUP BY doc_id),
scored AS (
  SELECT ptf.doc_id,
         idfsum.w * ptf.tfp / (ptf.tfp + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
  FROM ptf JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idfsum
)
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY round(s, 7) DESC, doc_id ASC LIMIT 10""",
    "phrase_slop_count": """
WITH lst AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS l FROM documents),
pt AS (SELECT doc_id, i, l[i] AS term FROM lst, unnest(generate_series(1, len(l))) AS g(i))
SELECT count(DISTINCT a.doc_id)::BIGINT AS hits
FROM pt a JOIN pt b ON b.doc_id = a.doc_id
WHERE a.term = 'merge' AND b.term = 'scan' AND abs((b.i - 1) - a.i) <= 2""",
    "sim_tfidf": f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ('merge','scan') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( (ln((stats.n_docs + 1) / (df.df + 1.0)) + 1.0)
              * sqrt(tf.tf) / sqrt(dl.dl) ) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS tfidf_score FROM scored
ORDER BY round(s, 7) DESC, doc_id ASC LIMIT 10""",
    "terms_set_count": """
SELECT count(*)::BIGINT AS hits FROM documents
WHERE lower(lang) IN ('es','de') AND lower(source) <> 'src0'""",
    "facet_lang": f"""
WITH {_TOKS_CTE}
SELECT lang AS value, count(*)::BIGINT AS cnt FROM documents
WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks WHERE term = 'merge')
GROUP BY lang ORDER BY cnt DESC, value ASC LIMIT 10""",
    # the tags array is DERIVED in documents_engine (not a parquet
    # column), so the oracle derives it identically, dedups within the
    # doc (list_distinct == the engine's array_distinct explode), and
    # counts per element; empty/NULL lists unnest to nothing
    "facet_multivalued": f"""
WITH {_TOKS_CTE},
tagged AS (
  SELECT doc_id,
    CASE WHEN doc_id % 13 = 0 THEN NULL
         WHEN doc_id % 11 = 0 THEN []
         WHEN doc_id % 4 = 0 THEN [source, lang, lang]
         ELSE [source, lang] END AS tags
  FROM documents
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks WHERE term = 'merge')
)
SELECT t AS value, count(*)::BIGINT AS cnt
FROM (SELECT doc_id, UNNEST(list_distinct(tags)) AS t FROM tagged)
GROUP BY t ORDER BY cnt DESC, value ASC LIMIT 10""",
    "facet_sharded": f"""
WITH {_TOKS_CTE}
SELECT lang AS value, count(*)::BIGINT AS cnt, 0::BIGINT AS max_error
FROM documents WHERE doc_id IN {_MATCH_SCAN}
GROUP BY lang ORDER BY cnt DESC, value ASC LIMIT 5""",
    "stat_facet_sharded": f"""
WITH {_TOKS_CTE}
SELECT lang AS value, sum(n_chars)::BIGINT AS sum_v,
       count(n_chars)::BIGINT AS count_v, count(n_chars)::BIGINT AS doc_count,
       count(*)::BIGINT AS all_doc_count, min(n_chars)::BIGINT AS min_v,
       max(n_chars)::BIGINT AS max_v, 0::BIGINT AS max_sum_error,
       FALSE AS has_error
FROM documents WHERE doc_id IN {_MATCH_SCAN}
GROUP BY lang ORDER BY sum_v DESC, value ASC LIMIT 5""",
    "source_jsonl_roundtrip": """
SELECT lang AS value, count(*)::BIGINT AS cnt, sum(n_chars)::BIGINT AS sum_chars,
       count(DISTINCT source)::BIGINT AS n_sources
FROM documents GROUP BY lang ORDER BY value""",
    "source_csv_roundtrip": """
SELECT lang AS value, count(*)::BIGINT AS cnt, sum(n_chars)::BIGINT AS sum_chars
FROM documents GROUP BY lang ORDER BY value""",
    "source_xlsx_roundtrip": """
SELECT lang AS value, count(*)::BIGINT AS cnt, sum(n_chars)::BIGINT AS sum_chars
FROM documents GROUP BY lang ORDER BY value""",
    "source_xls_roundtrip": """
SELECT lang AS value, count(*)::BIGINT AS cnt, sum(n_chars)::BIGINT AS sum_chars
FROM documents GROUP BY lang ORDER BY value""",
    "kstem_counts": """
SELECT sum(CASE WHEN doc_id % 4 IN (0, 1) THEN 1 ELSE 0 END)::BIGINT AS merge_hits,
       sum(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END)::BIGINT AS index_hits,
       sum(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END)::BIGINT AS table_hits
FROM documents""",
    "numeric_stats": f"""
WITH {_TOKS_CTE}
SELECT min(n_chars)::BIGINT AS min_v, max(n_chars)::BIGINT AS max_v,
       sum(n_chars)::BIGINT AS sum_v, count(n_chars)::BIGINT AS count_v,
       count(n_chars)::BIGINT AS doc_count, count(*)::BIGINT AS all_doc_count
FROM documents
WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks WHERE term = 'scan')""",
    "get_terms": f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS ttf FROM tf
WHERE term >= 'm' GROUP BY term HAVING count(*) >= 5
ORDER BY term LIMIT 20""",
    "dedup_exact": """
SELECT md5(text) AS text_hash, count(*)::BIGINT AS cnt, min(doc_id)::BIGINT AS keeper
FROM documents GROUP BY md5(text)""",
    "token_count": f"""
WITH {_TOKS_CTE}
SELECT doc_id, count(*)::BIGINT AS n_tokens, count(DISTINCT term)::BIGINT AS n_distinct
FROM toks GROUP BY doc_id""",
    "cosine_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qe)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qe, q.qe))) AS c
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, round(c, 4) AS cosine FROM c
ORDER BY round(c, 7) DESC, vec_id ASC LIMIT 10""",
    "score_fn": _SCORE_FN_SQL,
    "stat_facet": _STAT_FACET_SQL,
    "percentiles": _PERCENTILES_SQL,
    "percentiles_sketch": _PERCENTILES_SKETCH_SQL,
    "stat_facet_percentiles": _STAT_FACET_PCT_SQL,
    "stat_facet_novalue": _STAT_FACET_NOVALUE_SQL,
    "stat_facet_pct_novalue": _STAT_FACET_PCT_NOVALUE_SQL,
    "numeric_facet_coerce": _NUMERIC_FACET_COERCE_SQL,
    "sim_tf": _SIM_TF_SQL,
    "sim_constant": _SIM_CONST_SQL,
    "highlight": _HIGHLIGHT_SQL,
    "docvalue_range": _DOCVALUE_SQL,
    "numeric_set_count": _NUMERIC_SET_SQL,
    "sort_topk": _SORT_SQL,
    "sort_multi": _SORT_MULTI_SQL,
    "zulia_id_count": """
SELECT count(*)::BIGINT AS hits FROM documents WHERE doc_id IN (3, 7, 11, 19)""",
    "zulia_id_sort_topk": f"""
WITH {_TOKS_CTE}
SELECT lpad(CAST(doc_id AS VARCHAR), 12, '0') AS uid
FROM (SELECT DISTINCT doc_id FROM toks WHERE term = 'scan')
ORDER BY uid DESC LIMIT 10""",
    "score_sort_topk": f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ('spark','query','merge') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY round(s, 7) ASC, doc_id ASC LIMIT 10""",
    "timestamp_range_count": """
SELECT count(*)::BIGINT AS in_range, 0::BIGINT AS before_range FROM documents""",
    "events_window_stats": """
SELECT round(min(value), 2) AS min_v, round(max(value), 2) AS max_v,
       round(sum(value), 2) AS sum_v, count(value)::BIGINT AS count_v,
       count(*)::BIGINT AS hits
FROM events
WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <= TIMESTAMP '2024-01-15 23:59:59.999999'""",
    "events_daily_rollup": """
SELECT strftime(ts, '%Y-%m-%d') AS value, count(*)::BIGINT AS cnt
FROM events
WHERE event_type = 'error'
  AND ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND ts <= TIMESTAMP '2024-01-14 23:59:59.999999'
GROUP BY 1 ORDER BY cnt DESC, value ASC LIMIT 7""",
    "events_sort_topk": """
SELECT event_id, user_id::BIGINT AS user_id, round(value, 2) AS value
FROM events WHERE event_type = 'purchase'
ORDER BY value DESC, event_id ASC LIMIT 10""",
    "doc_terms": _DOC_TERMS_SQL,
    "wildcard_count": _WILDCARD_SQL,
    "summary_terms": _SUMMARY_SQL,
    "analysis_tfidf_summary": _ANALYSIS_TFIDF_SUMMARY_SQL,
    "analysis_doc_terms_filtered": _ANALYSIS_DOC_TERMS_F_SQL,
    "analysis_tokens": _ANALYSIS_TOKENS_SQL,
    "analysis_top_terms_summary": _ANALYSIS_TOP_TERMS_SQL,
    "mlt_topk": _MLT_SQL,
    "mlt_vector_topk": _MLT_VECTOR_SQL,
    "mlt_hybrid_topk": _MLT_HYBRID_SQL,
    "vector_int8_topk": _VECTOR_INT8_SQL,
    "vector_int7_topk": _VECTOR_INT7_SQL,
    "vector_bbq2_topk": _VECTOR_BBQ2_SQL,
    "clause_grammar_counts": _CLAUSE_GRAMMAR_SQL,
    "vector_hnsw_topk": _VECTOR_HNSW_SQL,
    "vector_hnsw_filtered_topk": _VECTOR_HNSW_FILTERED_SQL,
    "minhash_lsh": _MINHASH_SQL,
    "simhash": _SIMHASH_SQL,
    "simhash_pairs": _SIMHASH_PAIRS_SQL,
    "lsh_jaccard": _LSH_JACCARD_SQL,
    "dedup_clusters": _DEDUP_CLUSTERS_SQL,
    "dedup_keep_best": _DEDUP_KEEP_BEST_SQL,
    "span_dedup": _SPAN_DEDUP_SQL,
    "ngram_jaccard": _NGRAM_SQL,
    "neardup_cosine": _NEARDUP_SQL,
    "ivf_topk": _IVF_SQL,
    "lang_id": _LANG_SQL,
    "quality": _QUALITY_SQL,
    "winnow": _WINNOW_SQL,
    "pii_scrub": _PII_SQL,
    "url_stats": _URL_SQL,
    "repetition": _REPETITION_SQL,
    "contamination": _CONTAMINATION_SQL,
    "seq_pack": _SEQ_PACK_SQL,
    "stratified_sample": _STRATIFIED_SQL,
    "text_embed": f"""
WITH {_LST},
hs AS (SELECT doc_id, list_transform(l, t -> {_H32D.format(x='t')}) AS hs FROM lst),
raw AS (SELECT doc_id,
  [coalesce(list_sum(list_transform(hs, h ->
     CASE WHEN h % 16 = i THEN (CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END)
          ELSE 0 END)), 0)
   FOR i IN generate_series(0, 15)] AS r FROM hs),
n AS (SELECT doc_id, r,
        sqrt(list_sum(list_transform(r, x -> CAST(x*x AS DOUBLE)))) AS nrm FROM raw)
SELECT doc_id,
  round(CASE WHEN nrm = 0 THEN 0.0 ELSE r[1]/nrm END, 4) + 0 AS v0,
  round(CASE WHEN nrm = 0 THEN 0.0 ELSE r[2]/nrm END, 4) + 0 AS v1,
  round(CASE WHEN nrm = 0 THEN 0.0 ELSE r[3]/nrm END, 4) + 0 AS v2,
  round(CASE WHEN nrm = 0 THEN 0.0 ELSE r[4]/nrm END, 4) + 0 AS v3,
  len(list_filter(r, x -> x <> 0))::BIGINT AS nnz
FROM n""",
    "sparse_encode": f"""
WITH {_LST},
tall AS (SELECT doc_id, t.term FROM lst, unnest(l) AS t(term)),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tall GROUP BY doc_id, term),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tall GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
w AS (SELECT tf.doc_id, tf.term,
        round(tf.tf * ln(1 + CAST(n.n AS DOUBLE) / dfq.df), 4) AS weight
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT doc_id, term, weight,
        row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term ASC) AS rank
      FROM w)
SELECT doc_id, rank, term, weight FROM r WHERE rank <= 3""",
    "classifier_stats": """
WITH pred AS (SELECT (n_chars % 100) / 100.0 AS p1, (lang = 'en') AS label FROM documents),
c AS (SELECT
  sum(CASE WHEN p1 >= 0.5 AND label THEN 1 ELSE 0 END)::BIGINT AS tp,
  sum(CASE WHEN p1 >= 0.5 AND NOT label THEN 1 ELSE 0 END)::BIGINT AS fp,
  sum(CASE WHEN p1 < 0.5 AND NOT label THEN 1 ELSE 0 END)::BIGINT AS tn,
  sum(CASE WHEN p1 < 0.5 AND label THEN 1 ELSE 0 END)::BIGINT AS fn
  FROM pred)
SELECT tp, fp, tn, fn,
  round(tp / CAST(tp + fp AS DOUBLE), 6) AS "precision",
  round(tp / CAST(tp + fn AS DOUBLE), 6) AS recall,
  round(2 * (tp / CAST(tp + fp AS DOUBLE)) * (tp / CAST(tp + fn AS DOUBLE))
        / (tp / CAST(tp + fp AS DOUBLE) + tp / CAST(tp + fn AS DOUBLE)), 6) AS f1
FROM c""",
    "multimodal_meta": _MULTIMODAL_SQL,
}
