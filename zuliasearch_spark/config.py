"""Index configuration model.

Mirrors the shape of the reference's index settings —
``IndexSettings`` / ``FieldConfig`` / ``AnalyzerSettings``
(zulia-common/src/main/proto/zulia_index.proto:26-90,192-221,280-315)
— trimmed to what the Spark engine consumes. Documents here are rows
of a DataFrame; an "indexed field" is a (column, analyzer) pair that
feeds the postings build.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Tokenizers (zulia_index.proto:283-287)
STANDARD = "STANDARD"
KEYWORD = "KEYWORD"
WHITESPACE = "WHITESPACE"

# Filters (the full zulia_index.proto:289-309 enum + our code-aware
# CODE_SPLIT, the Spark analogue of the WordDelimiter family,
# ZuliaFieldAnalyzer.java:145-147)
LOWERCASE = "LOWERCASE"
UPPERCASE = "UPPERCASE"
STOPWORDS = "STOPWORDS"
ASCII_FOLDING = "ASCII_FOLDING"
CODE_SPLIT = "CODE_SPLIT"
KSTEM = "KSTEM"
ENGLISH_MIN_STEM = "ENGLISH_MIN_STEM"
SNOWBALL_STEM = "SNOWBALL_STEM"
ENGLISH_POSSESSIVE = "ENGLISH_POSSESSIVE"
MINHASH = "MINHASH"
TWO_TWO_SHINGLE = "TWO_TWO_SHINGLE"
THREE_THREE_SHINGLE = "THREE_THREE_SHINGLE"
FOUR_FOUR_SHINGLE = "FOUR_FOUR_SHINGLE"
FIVE_FIVE_SHINGLE = "FIVE_FIVE_SHINGLE"
BRITISH_US = "BRITISH_US"
CONCAT_ALL = "CONCAT_ALL"
CASE_PROTECTED_WORDS = "CASE_PROTECTED_WORDS"
GERMAN_NORMALIZATION = "GERMAN_NORMALIZATION"

KNOWN_FILTERS = frozenset(
    (
        LOWERCASE, UPPERCASE, STOPWORDS, ASCII_FOLDING, CODE_SPLIT,
        KSTEM, ENGLISH_MIN_STEM, SNOWBALL_STEM, ENGLISH_POSSESSIVE,
        MINHASH, TWO_TWO_SHINGLE, THREE_THREE_SHINGLE,
        FOUR_FOUR_SHINGLE, FIVE_FIVE_SHINGLE, BRITISH_US, CONCAT_ALL,
        CASE_PROTECTED_WORDS, GERMAN_NORMALIZATION,
    )
)

# Similarities (zulia_base.proto:81-86)
BM25 = "BM25"
CONSTANT = "CONSTANT"
TF = "TF"
TFIDF = "TFIDF"


@dataclass(frozen=True)
class AnalyzerSettings:
    """Analyzer chain: tokenizer + ordered filters (zulia_index.proto:280-315).

    Filters apply in declared order, exactly like
    ZuliaFieldAnalyzer.java:51-160 applies Lucene filters in order.
    """

    name: str
    tokenizer: str = STANDARD
    filters: tuple[str, ...] = ()
    similarity: str = BM25
    # HTMLStripCharFilter analogue (AnalyzerSettings.stripHTML,
    # zulia_index.proto:311): strip tags + common entities pre-tokenize
    strip_html: bool = False

    def __post_init__(self):
        # fail at config time like ZuliaFieldAnalyzer's "Unknown
        # filter type" — a typo must not silently no-op
        unknown = [f for f in self.filters if f not in KNOWN_FILTERS]
        if unknown:
            raise ValueError(f"unknown analyzer filter(s): {unknown}")
        if self.tokenizer not in (STANDARD, KEYWORD, WHITESPACE):
            raise ValueError(f"unknown tokenizer: {self.tokenizer}")


# Built-in analyzers, mirroring ServerIndexConfigData.getAnalyzerMap
# (ServerIndexConfigData.java:197-224) / DefaultAnalyzers.java:10-22.
# KSTEM is the Krovetz dictionary-driven stemmer (analysis/kstem.py;
# curated lexicon, extensible via kstem.load_lexicon).
DEFAULT_ANALYZERS: dict[str, AnalyzerSettings] = {
    "standard": AnalyzerSettings("standard", STANDARD, (LOWERCASE, STOPWORDS)),
    "standardHtml": AnalyzerSettings(
        "standardHtml", STANDARD, (LOWERCASE, STOPWORDS), strip_html=True
    ),
    "keyword": AnalyzerSettings("keyword", KEYWORD, ()),
    "lcKeyword": AnalyzerSettings("lcKeyword", KEYWORD, (LOWERCASE,)),
    "lcConcatAll": AnalyzerSettings("lcConcatAll", KEYWORD, (LOWERCASE, CONCAT_ALL)),
    "minStem": AnalyzerSettings(
        "minStem", STANDARD, (LOWERCASE, STOPWORDS, ENGLISH_MIN_STEM)
    ),
    "kstem": AnalyzerSettings("kstem", STANDARD, (LOWERCASE, STOPWORDS, KSTEM)),
    "lsh": AnalyzerSettings(
        "lsh",
        STANDARD,
        (LOWERCASE, ASCII_FOLDING, KSTEM, STOPWORDS, FIVE_FIVE_SHINGLE, MINHASH),
    ),
    "twoTwoShingle": AnalyzerSettings(
        "twoTwoShingle", STANDARD, (LOWERCASE, TWO_TWO_SHINGLE)
    ),
    "threeThreeShingle": AnalyzerSettings(
        "threeThreeShingle", STANDARD, (LOWERCASE, THREE_THREE_SHINGLE)
    ),
    "code_standard": AnalyzerSettings("code_standard", STANDARD, (CODE_SPLIT, LOWERCASE)),
    "whitespace_lc": AnalyzerSettings("whitespace_lc", WHITESPACE, (LOWERCASE,)),
    "whitespace": AnalyzerSettings("whitespace", WHITESPACE, ()),
}


@dataclass(frozen=True)
class IndexAs:
    """One indexed projection of a stored column (zulia_index.proto:318-322)."""

    indexed_field_name: str
    analyzer_name: str = "standard"


# zulia_index.proto VectorIndexingConfig.Encoding:255-262 — FLOAT32,
# INT8 (UNSIGNED_BYTE), INT7 (SEVEN_BIT), INT4 (PACKED_NIBBLE), BBQ
# (SINGLE_BIT_QUERY_NIBBLE), BBQ_2BIT (DIBIT_QUERY_NIBBLE)
VECTOR_ENCODINGS = ("FLOAT32", "INT8", "INT7", "INT4", "BBQ", "BBQ_2BIT")

# symmetric scalar-quantization level count per encoding (signed
# range ±levels): 8-bit → ±127, 7-bit → ±63 (Lucene 104's SEVEN_BIT
# keeps the top bit free so int8 dot products can't overflow an
# int32 accumulator — same reason here), 4-bit → ±7
QUANT_LEVELS = {"INT8": 127.0, "INT7": 63.0, "INT4": 7.0}


@dataclass(frozen=True)
class VectorConfig:
    """Dense-vector indexing of a stored array column
    (zulia_index.proto VectorIndexingConfig + FieldType VECTOR /
    UNIT_VECTOR).

    - ``unit``: UNIT_VECTOR semantics — query-side centroids (e.g.
      more-like-this resolved vectors) are L2-normalized before
      search, matching the reference's shouldNormalize branch
      (ZuliaIndexManager.rewriteMoreLikeThisQuery).
    - ``encoding``: on-disk representation of the indexed copy.
      FLOAT32 = raw floats (explicit opt-out of quantization); INT8 /
      INT7 / INT4 = symmetric scalar quantization to ±127/±63/±7
      levels; BBQ = 1-bit sign quantization; BBQ_2BIT = 2-bit binary
      quantization (two packed bit-planes, popcount dot products
      against a 4-bit-quantized query — Lucene's DIBIT_QUERY_NIBBLE
      shape). Quantized encodings rank an oversampled
      candidate pool with the compact form, then rescore the pool at
      full precision (Lucene's quantized-KNN oversample+rescore
      shape). The reference delegates to Lucene's per-segment
      quantile-calibrated scalar quantizer; this engine uses
      deterministic per-vector max-abs scaling — a documented
      deviation (same contract: approximate first pass, exact
      rescore).
    - ``index_type``: FLAT = exact scan over the (quantized) vectors.
      IVF = coarse k-means partitioning built at index time
      (pipeline.kmeans_centroids): each doc stores its nearest-cell
      id in a ``_zvc_`` column, queries probe only the
      ``ivf_nprobe`` cells nearest the query vector and rescore
      exactly inside them. This is the Spark-first stand-in for the
      reference's per-field graph index
      (ZuliaPerFieldKnnVectorsFormat.java; query
      ZuliaIndex.buildKnnQuery:597-615): both serve KNN from a
      build-time structure instead of scanning the corpus, the
      recall/latency dial being nprobe rather than HNSW's
      efSearch. HNSW = the reference's actual structure: a per-shard
      hierarchical graph built at index time (indexing/hnsw.py,
      Malkov & Yashunin 2016 — the paper Lucene's HnswGraphBuilder
      implements), stored as a columnar adjacency table partitioned
      by (field, shard), traversed per shard in a grouped pandas
      kernel with beam efSearch. Un-pre-filtered KNN (the injected
      MatchAll — also MoreLikeThis vector sources) serves from the
      graph; a boolean-pre-filtered VECTOR clause keeps the exact
      scan over the already-pruned match set, Lucene's
      filtered-KNN exact-fallback shape.
    """

    indexed_field_name: str
    unit: bool = False
    encoding: str = "FLOAT32"
    index_type: str = "FLAT"
    # quantized search ranks ceil(k × oversample) candidates with the
    # compact form before the full-precision rescore (Lucene's
    # quantized-KNN oversample; 3.0 mirrors its common default)
    oversample: float = 3.0
    # IVF coarse-quantization dials (index_type="IVF"): number of
    # k-means cells built at index time, and how many of the nearest
    # cells a query probes (the recall/latency dial — HNSW's
    # efSearch analogue). The effective probe count additionally
    # scales with the request's k — min(cells, max(nprobe,
    # ceil(k × probe_per_k))) — the same "more results, more search
    # effort" rule as Lucene's efSearch ≥ k: a k near the per-cell
    # occupancy saturates to probing every cell (≡ exact FLAT),
    # degrading gracefully instead of silently losing recall.
    ivf_cells: int = 8
    ivf_nprobe: int = 3
    ivf_probe_per_k: float = 0.5
    # HNSW graph dials (index_type="HNSW"; zulia_index.proto
    # VectorIndexingConfig → Lucene Lucene99HnswVectorsFormat(M,
    # efConstruction) via ZuliaPerFieldKnnVectorsFormat.java). The
    # graph is built per shard at index time (indexing/hnsw.py) and
    # queries traverse it with beam max(hnsw_ef_search, k) — Lucene's
    # efSearch ≥ k rule.
    hnsw_m: int = 16
    hnsw_ef_construction: int = 100
    hnsw_ef_search: int = 100
    # HNSW per-shard memory budget (MiB): a shard's graph is built by
    # ONE task holding that shard's full vector block plus adjacency
    # in memory (the same per-segment constraint Lucene has at flush
    # — HnswGraphBuilder keeps the segment's vectors reachable). The
    # build FAILS LOUDLY when the estimated block exceeds this budget
    # instead of OOM-killing the executor mid-job; the fix is more
    # shards (each shard ~ corpus/number_of_shards vectors), sized so
    # n_docs/shard × dim × 4 bytes stays well inside a task's share
    # of executor memory.
    hnsw_shard_budget_mb: float = 2048.0
    # INT8/INT4 scale derivation. "QUANTILE" (default, Lucene-104
    # shape): one scale per SHARD/segment from the component-magnitude
    # quantile at confidence 1 − 1/(dim+1) over a deterministic build
    # sample — outliers clamp instead of stretching every code.
    # "MAXABS": legacy per-vector max-abs symmetric scaling.
    calibration: str = "QUANTILE"

    def __post_init__(self):
        if self.encoding not in VECTOR_ENCODINGS:
            raise ValueError(
                f"Unknown vector encoding {self.encoding}; one of {VECTOR_ENCODINGS}"
            )
        if self.index_type not in ("FLAT", "IVF", "HNSW"):
            raise ValueError(f"Unknown vector index type {self.index_type}")
        if self.index_type == "HNSW" and self.hnsw_shard_budget_mb <= 0:
            raise ValueError(
                f"hnsw_shard_budget_mb must be positive (got {self.hnsw_shard_budget_mb})"
            )
        if self.index_type == "HNSW" and (
            self.hnsw_m < 2 or self.hnsw_ef_construction < 1 or self.hnsw_ef_search < 1
        ):
            raise ValueError(
                f"HNSW needs hnsw_m >= 2 and positive ef dials (got m="
                f"{self.hnsw_m}, efC={self.hnsw_ef_construction}, "
                f"efSearch={self.hnsw_ef_search})"
            )
        if self.index_type == "IVF" and (
            self.ivf_cells < 2 or not (1 <= self.ivf_nprobe <= self.ivf_cells)
        ):
            raise ValueError(
                f"IVF needs ivf_cells >= 2 and 1 <= ivf_nprobe <= ivf_cells "
                f"(got cells={self.ivf_cells}, nprobe={self.ivf_nprobe})"
            )
        if self.calibration not in ("QUANTILE", "MAXABS"):
            raise ValueError(f"Unknown quantization calibration {self.calibration}")


@dataclass(frozen=True)
class FieldConfig:
    """Per-column index config (zulia_index.proto:192-221).

    ``doc_value_skip_index``: the reference's per-field Lucene
    doc-values RANGE skip-index flag (DocValueSkipIndexTest). In this
    engine the storage equivalent — parquet row-group/page min-max
    statistics driving range-scan skipping — is ALWAYS written by the
    parquet writer, so the flag is config/policy parity only
    (None = unset; see apply_doc_value_skip_index_policy)."""

    stored_field_name: str
    index_as: tuple[IndexAs, ...] = ()
    facet_as: tuple[str, ...] = ()
    sort_as: tuple[str, ...] = ()
    doc_value_skip_index: bool | None = None
    # dense-vector projections (FieldType VECTOR/UNIT_VECTOR +
    # VectorIndexingConfig); see VectorConfig
    vector_as: tuple[VectorConfig, ...] = ()


@dataclass(frozen=True)
class IndexConfig:
    """Engine-level index settings (zulia_index.proto:26-90, trimmed).

    - ``number_of_shards``: hash partitions by djb2(uniqueId) % shards
      (ShardUtil.java:3-20).
    - ``unique_id_col``: the column holding the document uniqueId.
    - ``per_shard_stats``: Lucene computes BM25 df/avgdl per shard
      (each shard is its own IndexReader); set False for globally
      consistent scores across shards (non-reference extension).
    - ``quantize_norms``: apply Lucene SmallFloat byte4 norm
      quantization of field lengths (required for Lucene parity; set
      False for exact-dl scoring, e.g. versus a SQL oracle).
    - ``docs_per_bucket``: doc-id range per posting build group — the
      skew valve: a term's postings are built per (term, bucket) so a
      hot term ("the", "def") never lands in ONE reducer at 10^12-doc
      scale.
    - ``block_size``: docs per posting block (the delta-gap + varint
      encoding unit).
    """

    index_name: str
    unique_id_col: str
    number_of_shards: int = 1
    default_search_fields: tuple[str, ...] = ()
    field_configs: tuple[FieldConfig, ...] = ()
    analyzers: dict[str, AnalyzerSettings] = field(default_factory=dict)
    per_shard_stats: bool = True
    quantize_norms: bool = True
    docs_per_bucket: int = 1 << 17
    block_size: int = 128
    # length-meta fields (FieldIndexer.java:19-35 writes _zll_ list
    # lengths, StringFieldIndexer.java:28-38 _zcl_ char lengths):
    # when True, doc_map gains _zcl_<col> / _zll_<col> columns per
    # indexed stored column, queryable as |field| and |||field|||
    store_length_meta: bool = False
    # upsert semantics (Store replaces by uniqueId,
    # ZuliaShard.java:337-352): when set, the build keeps only the
    # row with the highest value of this column per uniqueId
    # (row_number over uid desc = 1 — SURVEY §2.1), so re-stored
    # documents shadow their older versions
    upsert_order_col: str | None = None
    # store per-posting position streams (delta+varint, same block
    # layout as docIDs) — Lucene indexes positions for analyzed text
    # by default; phrase/proximity queries need them. Costs ~1-2
    # bytes/occurrence; set False for a match-only index.
    store_positions: bool = True
    # segmented reads: partition id = segment * stride + shard; BM25
    # stats aggregate over all segments of the same true shard (all
    # Lucene segments of a shard share the reader's df/avgdl)
    segment_stride: int | None = None
    # query-result cache (shardQueryCacheSize /
    # shardQueryCacheMaxAmount, zulia_index.proto:43-44). 0 disables;
    # the reference defaults 512/256 — explicit opt-in here so
    # benchmarks measure the engine rather than the cache. Invalidated
    # by deletes; requests deeper than the max amount bypass it.
    query_cache_size: int = 0
    query_cache_max_amount: int = 256
    # field mappings (zulia_index.proto:273-277 FieldMapping;
    # FieldWildcardTest): (alias, field-or-field-patterns, includeSelf).
    # A query-side field name equal to ``alias`` expands to every
    # indexed field matching any pattern ('*' wildcards); includeSelf
    # appends the alias itself as a literal field.
    field_mappings: tuple[tuple[str, tuple[str, ...], bool], ...] = ()
    # implicit zuliaId field (ZuliaFieldConstants.ID_FIELD;
    # ShardDocumentIndexer.getIndexDocument adds
    # StringField(ID_FIELD, uniqueId) to EVERY document): when True,
    # the uniqueId column is also indexed verbatim (KEYWORD analyzer)
    # under the field name "zuliaId", so term/TERMS/zl:tq queries and
    # sorts can target the id exactly like TermQueryTest/SortTest do.
    index_id_field: bool = False
    # implicit store timestamp (ZuliaFieldConstants.TIMESTAMP_FIELD
    # "_ztsf_", a LongPoint of the Store wall clock,
    # ShardDocumentIndexer.java:82): when True, doc_map gains a
    # timestamp column "_ztsf_" stamped at build/upsert time and
    # queryable with DATE range syntax (SimpleTest.java:304-325).
    store_timestamp: bool = False
    # warming searches (zulia_index.proto:58 ``repeated bytes
    # warmingSearches``; ZuliaShard.tryWarmPrimary/warmPrimarySearches
    # ZuliaShard.java:139-267): stored search requests the engine
    # re-runs after load/refresh so the first user query hits warm
    # caches (pinToCache entries land in the pinned query-cache
    # region — CacheTest.java:51-53). Each entry is a JSON-safe dict
    # (see search.query.warming_request for the accepted keys); a
    # non-empty unique ``searchLabel`` is required, mirroring
    # CreateIndexRequestValidator.java:165-186.
    warming_searches: tuple = ()

    def __post_init__(self):
        ws = tuple(self.warming_searches or ())
        object.__setattr__(self, "warming_searches", ws)
        seen: set[str] = set()
        for w in ws:
            label = str(w.get("searchLabel", "") if isinstance(w, dict) else "")
            if not label:
                raise ValueError("A search label is required for a warming search")
            if label in seen:
                raise ValueError(
                    f"Warming search list has duplicate search label <{label}>"
                )
            seen.add(label)

    def with_warming_searches(
        self, updates=(), operation: str = "MERGE", removed_keys=()
    ) -> "IndexConfig":
        """UpdateIndex warmingSearchesOperation analogue
        (UpdateIndex.mergeWarmingSearches / replace / removedKeys,
        zulia_index.proto:143-144): returns a new config with the
        warming-search list updated under MERGE/REPLACE + removals,
        keyed by searchLabel."""
        import dataclasses

        new = update_with_action(
            self.warming_searches,
            tuple(updates),
            lambda w: str(w.get("searchLabel", "")),
            operation=operation,
            removed_keys=removed_keys,
        )
        return dataclasses.replace(self, warming_searches=tuple(new))

    def analyzer(self, name: str) -> AnalyzerSettings:
        if name in self.analyzers:
            return self.analyzers[name]
        if name in DEFAULT_ANALYZERS:
            return DEFAULT_ANALYZERS[name]
        raise KeyError(f"unknown analyzer: {name}")

    def indexed_fields(self) -> list[tuple[str, IndexAs]]:
        """[(stored_column, IndexAs)] over all field configs.

        With ``index_id_field`` the implicit ``zuliaId`` projection of
        the uniqueId column (exact KEYWORD, never analyzed) is
        appended — the reference adds it to every Lucene document
        (ShardDocumentIndexer.getIndexDocument)."""
        out = []
        for fc in self.field_configs:
            for ia in fc.index_as:
                out.append((fc.stored_field_name, ia))
        if self.index_id_field:
            out.append((self.unique_id_col, IndexAs("zuliaId", "keyword")))
        return out

    def user_indexed_field_names(self) -> tuple[str, ...]:
        """Indexed field names declared by ``field_configs`` — the
        expansion namespace for bare field PATTERNS
        (``ServerIndexConfigData.getMatchingIndexFields``:
        userIndexedFieldNames). Internal bookkeeping fields (the
        implicit zuliaId projection, ``_ztsf_`` timestamps, length
        metas) are structurally excluded, so a ``*:term`` search can
        never turn into false hits on every document (the 5.3.1
        wildcard-expansion fix, FieldWildcardTest
        internalFieldsExcludedFromWildcardExpansion)."""
        return tuple(
            dict.fromkeys(
                ia.indexed_field_name for fc in self.field_configs for ia in fc.index_as
            )
        )

    def wrap_field_names(self) -> tuple[str, ...]:
        """Queryable length-wrap names (``|f|`` char length,
        ``|||f|||`` list length) — the expansion namespace for
        wrap-shaped patterns like ``|*Title|``
        (getMatchingIndexFields: wrapIndexFieldNames). Both wraps
        exist per stored column when ``store_length_meta`` writes
        the meta columns; empty when it doesn't."""
        if not self.store_length_meta:
            return ()
        cols = tuple(dict.fromkeys(fc.stored_field_name for fc in self.field_configs))
        return tuple(f"|{c}|" for c in cols) + tuple(f"|||{c}|||" for c in cols)

    @staticmethod
    def _field_pattern_rx(pat: str):
        """``*``-only wildcard → anchored regex, everything else
        literal (getMatchingIndexFields quotes the pattern with
        \\Q..\\E and splices ``.*`` at each star — ``?``/``[]`` have
        no special meaning in reference field patterns)."""
        import re

        return re.compile("^" + ".*".join(re.escape(p) for p in pat.split("*")) + "$")

    def expand_field(self, name: str) -> tuple[str, ...]:
        """Field-name expansion, the ``getMatchingIndexFields`` /
        ``FieldTypeUtil.expandFields`` pipeline applied by
        ZuliaFlexibleQueryParser before multi-field expansion:

        1. A name containing ``*`` is a PATTERN (checked first, as in
           the reference): wrap-shaped patterns (``|*Title|``) expand
           against the length-wrap names; bare patterns against
           user-indexed field names AND field-mapping ALIASES — an
           alias the pattern matches unions in its expanded targets,
           the reference's getMatchingFields(field,
           includeAliases=true) behavior. May expand to NOTHING,
           which the parser turns into a match-no-docs node
           (ZuliaMultiFieldQueryNodeProcessor MatchNoDocsQueryNode).
           Point-typed doc-values-only fields are probed at query
           RESOLUTION time (search.parser point_pattern_fields, which
           knows the stored column types) rather than here.
        2. A field-mapping alias resolves through ``field_mappings``
           (one level — the mapping table is flat).
        3. Anything else passes through unchanged.
        """
        if "*" in name:
            wrap = len(name) > 1 and name.startswith("|") and name.endswith("|")
            rx = self._field_pattern_rx(name)
            cands = self.wrap_field_names() if wrap else self.user_indexed_field_names()
            out = [f for f in cands if rx.match(f)]
            if not wrap:
                # getMatchingIndexFields(field, includeAliases=true):
                # the pattern also matches ALIAS names, unioning in
                # each matching alias's expanded fields
                for alias, _patterns, _include_self in self.field_mappings:
                    if "*" not in alias and rx.match(alias):
                        out.extend(self.expand_field(alias))
            return tuple(sorted(dict.fromkeys(out)))
        for alias, patterns, include_self in self.field_mappings:
            if alias != name:
                continue
            indexed = self.user_indexed_field_names()
            out: list[str] = []
            for pat in patterns:
                if "*" in pat:
                    rx = self._field_pattern_rx(pat)
                    out.extend(f for f in indexed if rx.match(f))
                else:
                    out.append(pat)
            if include_self:
                out.append(alias)
            if not out:
                raise ValueError(f"field mapping {alias!r} matched no fields")
            return tuple(dict.fromkeys(out))
        return (name,)

    def vector_fields(self) -> list[tuple[str, VectorConfig]]:
        """[(stored_column, VectorConfig)] over all field configs."""
        out = []
        for fc in self.field_configs:
            for vc in fc.vector_as:
                out.append((fc.stored_field_name, vc))
        return out

    def vector_field(self, name: str) -> tuple[str, "VectorConfig"] | None:
        """(stored_column, VectorConfig) for an indexed vector field
        name, or None when the name has no vector config (legacy:
        querying a bare stored array column stays allowed and behaves
        as FLOAT32/FLAT)."""
        for col, vc in self.vector_fields():
            if vc.indexed_field_name == name:
                return col, vc
        return None

    def analyzer_for_indexed_field(self, indexed_field: str) -> AnalyzerSettings:
        for _, ia in self.indexed_fields():
            if ia.indexed_field_name == indexed_field:
                return self.analyzer(ia.analyzer_name)
        raise KeyError(f"field not indexed: {indexed_field}")

    # -- JSON round trip (index settings live next to the index data,
    #    like the reference's IndexSettings stored per index) ----------

    def to_json(self) -> str:
        import dataclasses
        import json

        d = dataclasses.asdict(self)
        return json.dumps(d, indent=2)

    @staticmethod
    def from_json(text: str) -> "IndexConfig":
        import json

        d = json.loads(text)
        # per-shard request sizing (zulia_index.proto:39-41) is
        # retired: every shard ranks its whole match set, so settings
        # files that still carry these keys load without them
        for retired in ("request_factor", "min_shard_request", "shard_tolerance"):
            d.pop(retired, None)
        d["default_search_fields"] = tuple(d.get("default_search_fields", ()))
        d["warming_searches"] = tuple(d.get("warming_searches", ()) or ())
        d["field_configs"] = tuple(
            FieldConfig(
                stored_field_name=fc["stored_field_name"],
                index_as=tuple(IndexAs(**ia) for ia in fc.get("index_as", ())),
                facet_as=tuple(fc.get("facet_as", ())),
                sort_as=tuple(fc.get("sort_as", ())),
                doc_value_skip_index=fc.get("doc_value_skip_index"),
                vector_as=tuple(VectorConfig(**vc) for vc in fc.get("vector_as", ())),
            )
            for fc in d.get("field_configs", ())
        )
        d["analyzers"] = {
            k: AnalyzerSettings(
                name=a["name"],
                tokenizer=a.get("tokenizer", STANDARD),
                filters=tuple(a.get("filters", ())),
                similarity=a.get("similarity", BM25),
                strip_html=a.get("strip_html", False),
            )
            for k, a in d.get("analyzers", {}).items()
        }
        return IndexConfig(**d)


def update_with_action(existing, updates, key, operation: str = "MERGE", removed_keys=()):
    """Keyed list-update semantics of UpdateIndexSettings.Operation
    (zulia_index.proto:93-102; ZuliaIndexManager.updateWithAction:
    1448-1485), shared by the warming-search / analyzer / field-config
    / field-mapping update surfaces:

    - MERGE: entries whose key matches an update are replaced IN
      PLACE (list order preserved); updates with new keys append in
      update order. Duplicate keys within ``updates``: first wins.
    - REPLACE: the result is just ``updates`` (first wins on
      duplicate keys), existing entries dropped.
    - ``removed_keys`` then filters the result by key.
    """
    first_wins: dict[str, object] = {}
    for u in updates:
        first_wins.setdefault(key(u), u)
    if operation == "MERGE":
        if updates:
            pending = dict(first_wins)
            out = []
            for v in existing:
                k = key(v)
                if k in pending:
                    out.append(pending.pop(k))
                else:
                    out.append(v)
            out.extend(pending.values())
        else:
            out = list(existing)
    elif operation == "REPLACE":
        out = list(first_wins.values())
    else:
        raise ValueError(f"Unknown operation type {operation!r}")
    if removed_keys:
        dead = set(removed_keys)
        out = [v for v in out if key(v) not in dead]
    return out


def apply_doc_value_skip_index_policy(
    requested: IndexConfig, existing: IndexConfig | None = None
) -> IndexConfig:
    """Resolve per-field ``doc_value_skip_index`` flags before settings
    persist — ZuliaIndexManager.applyDocValueSkipIndexPolicy
    (DocValueSkipIndexPolicyTest): any field that does not explicitly
    opt out defaults ON, whether on a brand-new index or newly added
    to an existing one; a field that already exists stays FROZEN to
    its persisted value (Lucene treats the skip index as immutable
    field schema — the IndexWriter rejects changes; our parquet
    stats are always written, so freezing is config fidelity, not a
    storage constraint)."""
    import dataclasses

    frozen: dict[str, bool] = {}
    if existing is not None:
        for fc in existing.field_configs:
            frozen[fc.stored_field_name] = bool(fc.doc_value_skip_index)
    new_fcs = []
    for fc in requested.field_configs:
        if fc.stored_field_name in frozen:
            new_fcs.append(
                dataclasses.replace(fc, doc_value_skip_index=frozen[fc.stored_field_name])
            )
        elif fc.doc_value_skip_index is None:
            new_fcs.append(dataclasses.replace(fc, doc_value_skip_index=True))
        else:
            new_fcs.append(fc)
    return dataclasses.replace(requested, field_configs=tuple(new_fcs))
