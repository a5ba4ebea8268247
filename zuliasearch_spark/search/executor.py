"""Distributed BM25 top-k query executor (scatter/gather over shards).

Query lifecycle, mirroring the reference's
(ZuliaIndex.internalQuery → ShardReader.queryShard → QueryCombiner;
SURVEY.md §3.1) re-expressed for Spark:

1. PLAN (driver): resolve the request — clause model or query
   string — into ONE boolean tree (``_resolve_request``; the
   reference composes every clause into one BooleanQuery,
   ZuliaIndex.getQuery:700-774) with (field, term) leaves; fetch the
   leaves' df/ttf from the term_stats table (a pushdown-pruned scan
   of only the query terms) and field stats (tiny, cached); compute
   per-(term, shard) idf and per-(field, shard) avgdl exactly like
   Lucene per-shard IndexReader statistics. Doc-values leaves
   (ranges, ``zl:ns`` numeric sets, geo, caller predicates) compile
   to kernel leaves holding their doc_map SQL (``DocValuesSpec``).
2. SCATTER: filter the postings table to the query terms — Catalyst
   pushes the (field, term) predicate into the parquet scan so only
   the query terms' blocks are read — then groupBy(shard)
   .applyInPandas(kernel): a per-shard document-at-a-time scoring
   kernel (decode delta-gap varint blocks, dense score accumulation,
   Lucene float32 BM25, the tree evaluated by matcher.evaluate_tree).
   When a request has doc-values leaves or no positive leaf, the scan
   is instead cogrouped by shard with one narrow doc_map frame — the
   rows passing any leaf's predicate (pushed into the parquet scan)
   plus each shard's doc 0, projected to (shard, doc_id, one flag per
   leaf) — so every shard holding docs answers, and each leaf reads
   its flags as a per-shard mask that scores 0.0. Each shard emits
   its top (start+amount) rows and its totalHits.
3. GATHER (driver): one vectorized page cut for every request —
   merge the per-shard top-k's by (score desc, shard asc, doc_id asc)
   (ZuliaPostSortingComparator semantics), sum totalHits and apply
   `start` (QueryCombiner.java:146-382). A pure negation needs no
   driver-side fix-up: every shard already evaluated its match-all
   (ZuliaIndex.java:715-717) in the kernel.

**Batch execution** (`search_many`): N queries run as ONE Spark job —
one pushdown scan over the union of all query terms, one shuffle, one
kernel invocation per shard that scores every query against the
decoded blocks (decode is shared across queries). At cluster scale
this amortizes job/scan/shuffle overhead across the query stream,
which is how a Spark engine matches a serving engine's throughput:
queries/sec, not per-query latency.

**One top-k path**: every request on every shard scores its whole
match set densely (``_dense_match``) and ranks it (``_rank_and_page``),
so totalHits is always exact, as the reference's collector counts
every hit (TopScoreDocCollectorManager(k+1, after, MAX): Lucene's
COMPLETE score mode). There is no block skipping: the kernel has
received every block of every query term over Arrow before it could
skip one, and a batch decodes each (term, shard) once for all its
requests (BENCH/NOTES.md measures the deleted block-max route).

The gather moves only O(shards × k) rows to the driver; all heavy
data stays columnar in executors.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import functions as F

from zuliasearch_spark.analysis.analyzers import analyze_query_text
from zuliasearch_spark.config import QUANT_LEVELS, IndexConfig
from zuliasearch_spark.indexing.builder import IndexTables
from zuliasearch_spark.indexing.tombstones import load_tombstone_uids, save_tombstone_uids
from zuliasearch_spark.search.intervals import doc_candidates as interval_doc_candidates
from zuliasearch_spark.search.intervals import eval_tree as eval_interval_tree
from zuliasearch_spark.search.matcher import evaluate_tree
from zuliasearch_spark.search.parser import DocValuesSpec
from zuliasearch_spark.search.parser import ExistsSpec as _ExistsSpecT
from zuliasearch_spark.search.parser import RGeo as _RGeoT
from zuliasearch_spark.search.parser import RNumericSet as _RNumericSetT
from zuliasearch_spark.search.parser import RRange as _RRangeT
from zuliasearch_spark.search.parser import (
    MUST as _MUST,
    MUST_NOT as _MUST_NOT,
    SHOULD as _SHOULD,
    RBool,
    RLeaf,
    apply_global_mm,
    parse_query,
    resolve_tree,
    tree_has_positive_leaf,
    tree_stat_keys,
)
from zuliasearch_spark.search.query import (
    DrillDown,
    IntervalSpec,
    PhraseSpec,
    ResolvedClause,
    SearchRequest,
    TermSetSpec,
    clause_q_is_plain,
    resolve_clause,
)
from zuliasearch_spark.search.scorer import (
    Bm25Params,
    bm25_avgdl,
    bm25_term_scores,
    bm25_weight,
)
from zuliasearch_spark.util.varint import segmented_cumsum, varint_decode


def _require_nonzero_query_vector(vector) -> None:
    """Query-side mirror of the store-time zero-vector rejection:
    Lucene's VectorUtil.cosine throws IllegalArgumentException for a
    zero query vector; raising driver-side gives the caller the same
    loud failure instead of an all-NULL cosine column."""
    if not any(float(x) != 0.0 for x in vector):
        raise ValueError(
            "zero-magnitude query vector: cosine similarity is undefined "
            "(Lucene VectorUtil.cosine rejects zero vectors)"
        )


KERNEL_SCHEMA = (
    "qid string, shard int, doc_id long, score double, total_hits long, "
    "blocks_decoded long, blocks_total long"
)

MATCH_SCHEMA = "shard int, doc_id long, score double"


def _resolved_clause_to_tree(rc: ResolvedClause) -> RBool | RLeaf:
    """ResolvedClause (plain-token clause model) → equivalent subtree
    with the group algebra of matcher.combine_clauses: each token GROUP
    becomes one RLeaf child (OR across its per-field subgroups;
    multi-term tokens conj under default-AND via RLeaf.conj), a
    required group is a MUST child, optional groups are SHOULD with
    the clause's min_optional as the node's mm. A clause whose text
    analyzes to no terms is an empty leaf: it matches nothing, yet
    still counts as a positive clause (no match-all fix-up)."""
    if not rc.specs:
        return RLeaf((), conj=False, boost=1.0)
    by_group: dict[int, list] = {}
    req_by_group: dict[int, bool] = {}
    for s in rc.specs:
        by_group.setdefault(s.group, []).append(s)
        req_by_group[s.group] = s.required
    children = []
    for g in sorted(by_group):
        specs = tuple(by_group[g])
        leaf = RLeaf(specs, conj=bool(req_by_group[g]), boost=1.0)
        children.append((_MUST if req_by_group[g] else _SHOULD, leaf))
    return RBool(tuple(children), mm=rc.min_optional, boost=1.0)


def _knn_pdf(shard: int, rows, scores) -> pd.DataFrame:
    """(shard, doc_id, uniqueId, cosine, score) frame for one shard's
    KNN kernel output (rows = hnsw.shard_topk result; ``scores`` the
    rows' pre-filter match scores, or one scalar)."""
    if not rows:
        return _empty_knn_pdf()
    pdf = pd.DataFrame(
        [(shard, d, u, c) for d, u, c in rows],
        columns=["shard", "doc_id", "uniqueId", "cosine"],
    )
    pdf["score"] = scores
    return pdf


def _empty_knn_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "shard": pd.Series([], dtype="int32"),
            "doc_id": pd.Series([], dtype="int64"),
            "uniqueId": pd.Series([], dtype="object"),
            "cosine": pd.Series([], dtype="float64"),
            "score": pd.Series([], dtype="float64"),
        }
    )


def _knn_dicts(rows) -> list[dict]:
    """Collected KNN rows → the ranker's [{shard, doc_id, uniqueId,
    cosine, score}]."""
    return [
        {
            "shard": int(r["shard"]),
            "doc_id": int(r["doc_id"]),
            "uniqueId": r["uniqueId"],
            "cosine": float(r["cosine"]),
            "score": float(r["score"]),
        }
        for r in rows
    ]


def _ddsketch_quantiles(buckets, gamma: float, percentiles) -> tuple[int, list]:
    """Quantiles of one merged DDSketch given as (sign, bucket, count)
    rows (sign None = a doc without a value: counted nowhere). Returns
    (value count, [value at each percentile, None when empty]). The
    walk follows the sketch's value order: the negative store
    descending by bucket (most-negative value first), zeros, then the
    positive store ascending; quantile q is the first bucket whose
    cumulative count exceeds rank q*(n-1), read at its midpoint
    ±2*gamma^i/(gamma+1)."""
    neg = sorted(((b, c) for s, b, c in buckets if s == -1), reverse=True)
    zero = sum(c for s, _, c in buckets if s == 0)
    pos = sorted((b, c) for s, b, c in buckets if s == 1)
    n = sum(c for _, c in neg) + zero + sum(c for _, c in pos)
    out = []
    for p in percentiles:
        if n == 0:
            out.append(None)
            continue
        rank = p * (n - 1)
        cum = 0
        val = None
        for b, c in neg:
            cum += c
            if cum > rank:
                val = -2.0 * gamma**b / (gamma + 1.0)
                break
        if val is None:
            cum += zero
            if cum > rank:
                val = 0.0
        if val is None:
            for b, c in pos:
                cum += c
                if cum > rank:
                    val = 2.0 * gamma**b / (gamma + 1.0)
                    break
        out.append(float(val))
    return n, out


# the postings columns PostingsStore reads (pos_bytes aside): the
# pinned copy and every kernel scan carry these and no others
_KERNEL_COLUMNS = (
    "field", "shard", "bucket", "term", "block_id", "n", "doc_bytes", "tf_bytes", "dl_bytes",
)


class PostingsStore:
    """One shard group's posting blocks: metadata + lazy varint decode.

    Blocks arrive doc-ordered per (field, term) — bucket order ==
    docID order by construction (builder docstring) — so decoding any
    subset of blocks yields ascending docIDs (each block's first
    docID is stored absolute, the rest delta-gaps).
    """

    def __init__(self, pdf: pd.DataFrame):
        pdf = pdf.sort_values(["field", "term", "bucket", "block_id"], kind="stable")
        self.n = pdf["n"].to_numpy(dtype=np.int64)
        self._doc_bytes = pdf["doc_bytes"].to_numpy()
        self._tf_bytes = pdf["tf_bytes"].to_numpy()
        self._dl_bytes = pdf["dl_bytes"].to_numpy()
        self._pos_bytes = pdf["pos_bytes"].to_numpy() if "pos_bytes" in pdf.columns else None
        self.blocks_total = len(pdf)
        self.blocks_decoded = 0
        # (field, term) -> [row_start, row_end) into the arrays above
        self._rows: dict[tuple[str, str], tuple[int, int]] = {}
        fields = pdf["field"].to_numpy()
        terms = pdf["term"].to_numpy()
        if len(pdf):
            key_change = np.ones(len(pdf), dtype=bool)
            key_change[1:] = (fields[1:] != fields[:-1]) | (terms[1:] != terms[:-1])
            starts = np.flatnonzero(key_change)
            ends = np.concatenate((starts[1:], [len(pdf)]))
            for s, e in zip(starts, ends):
                t = terms[s]
                # norms rows (term IS NULL) key as (field, None) —
                # the field-exists stream (distinct docs + lengths)
                key_term = None if t is None or (isinstance(t, float) and np.isnan(t)) else str(t)
                self._rows[(str(fields[s]), key_term)] = (int(s), int(e))
        self._full_cache: dict[tuple[str, str], tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self._pos_cache: dict[tuple[str, str], tuple] = {}

    def decode(self, key: tuple[str, str]) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
        """Decode ALL blocks of a term (cached)."""
        got = self._full_cache.get(key)
        if got is not None:
            return got
        span = self._rows.get(key)
        if span is None:
            return None
        rows = slice(span[0], span[1])
        counts = self.n[rows]
        seg_starts = np.zeros(counts.size, dtype=np.int64)
        np.cumsum(counts[:-1], out=seg_starts[1:])
        docs = segmented_cumsum(varint_decode(b"".join(self._doc_bytes[rows])), seg_starts)
        tfs = varint_decode(b"".join(self._tf_bytes[rows]))
        dls = varint_decode(b"".join(self._dl_bytes[rows]))
        self.blocks_decoded += counts.size
        out = (docs, tfs, dls)
        self._full_cache[key] = out
        return out

    def decode_with_positions(self, key: tuple[str, str]):
        """Decode a term's blocks INCLUDING the positions stream.

        Returns ``(docs, tfs, dls, pos_flat)`` where ``pos_flat``
        holds each posting's ascending positions concatenated in
        posting order (run lengths = tfs), or None if the term is
        absent; raises if the index was built without positions.
        """
        got = self._pos_cache.get(key)
        if got is not None:
            return got
        span = self._rows.get(key)
        if span is None:
            return None
        rows = np.arange(span[0], span[1], dtype=np.int64)
        docs, tfs, dls = self.decode(key)
        if self._pos_bytes is None:
            raise ValueError("index has no positions stream (store_positions=False)")
        pos_buf = b"".join(self._pos_bytes[rows])
        deltas = varint_decode(pos_buf)
        if deltas.size != int(tfs.sum()):
            raise ValueError(
                "positions stream missing or truncated — was the index "
                "built with store_positions=True?"
            )
        run_starts = np.zeros(tfs.size, dtype=np.int64)
        np.cumsum(tfs[:-1], out=run_starts[1:])
        pos_flat = segmented_cumsum(deltas, run_starts)
        out = (docs, tfs, dls, pos_flat)
        self._pos_cache[key] = out
        return out


@dataclass(frozen=True)
class _QueryPlan:
    """Everything the kernel needs for one request (pickled once)."""

    qid: str
    tree: RBool  # the request's resolved boolean tree
    per_shard_amount: int
    after_by_shard: dict[int, tuple[float, int]]
    sims: tuple[tuple[str, str], ...] = ()  # per-field similarity override


_VALID_SIMS = ("BM25", "TFIDF", "TF", "CONSTANT")

# ClassicSimilarity length norm over the SmallFloat byte4 length table:
# TFIDFSimilarity.normTable[i] = 1/sqrt(byte4ToInt(i)) as float32
# (Lucene TFIDFSimilarity; dl=0 never scores — no postings exist).
def _classic_norm_table():
    from zuliasearch_spark.util.smallfloat import LENGTH_TABLE

    lt = LENGTH_TABLE.astype(np.float64)
    with np.errstate(divide="ignore"):
        t = 1.0 / np.sqrt(lt)
    t[lt == 0] = 0.0
    return t.astype(np.float32)


_CLASSIC_NORMS = _classic_norm_table()


def _leaf_scores(sim, tfs, dls, boost, idf, avgdl, params):
    """Per-posting scores for one leaf under the selected similarity
    (ShardReader.getSimilarity:537-579): BM25 (default), TFIDF
    (Lucene ClassicSimilarity: sqrt(tf) · idf · boost / sqrt(dl),
    ShardReader.java:562-564), TF (raw freq x boost,
    analysis/similarity/TFSimilarity.java), CONSTANT (boost only,
    ConstantSimilarity.java). ``idf`` is the (bm25_idf, classic_idf)
    pair from the plan."""
    bm25_idf_v, classic_idf_v = idf
    if sim == "CONSTANT":
        return np.full(tfs.shape, np.float32(boost) if params.lucene_parity else boost, dtype=np.float64)
    if sim == "TF":
        out = tfs.astype(np.float64) * boost
        return out.astype(np.float32).astype(np.float64) if params.lucene_parity else out
    if sim == "TFIDF":
        if params.lucene_parity:
            from zuliasearch_spark.util.smallfloat import int_to_byte4

            w = np.float32(boost) * np.float32(classic_idf_v)
            norm = _CLASSIC_NORMS[int_to_byte4(dls)]
            return (np.sqrt(tfs.astype(np.float32)) * w * norm).astype(np.float32).astype(np.float64)
        return boost * classic_idf_v * np.sqrt(tfs.astype(np.float64)) / np.sqrt(dls.astype(np.float64))
    if sim != "BM25":
        # reference throws on unknown similarity (ShardReader.java:576)
        raise ValueError(f"Unknown similarity type {sim}")
    w = float(np.float32(boost) * np.float32(bm25_idf_v)) if params.lucene_parity else boost * bm25_idf_v
    return bm25_term_scores(tfs, dls, w, avgdl, params)


_POS_SHIFT = np.int64(1) << np.int64(32)  # doc*2^32 + pos keys; pos < 2^31


def _phrase_postings(store: PostingsStore, pspec: PhraseSpec):
    """(docs, phrase_freq, dls) of a phrase over one shard's postings.

    Exact phrases (slop=0, any length): each term i contributes the
    sorted key set {doc·2³² + pos − i}; the intersection's keys are
    phrase start offsets, so per-doc key counts are the phrase
    frequency — one vectorized set intersection per term, the
    columnar analogue of Lucene's ExactPhraseMatcher position walk.

    Sloppy 2-term phrases: per occurrence of the last term, the
    nearest same-doc key of the first term via searchsorted;
    match iff min |offset_b − offset_a| ≤ slop (Lucene's 2-term
    sloppy metric: "a b"~2 matches "b a", ~1 does not). Longer
    sloppy phrases are not supported (raise).
    """
    streams = []
    for t in pspec.terms:
        entry = store.decode_with_positions((pspec.field, t))
        if entry is None:
            return None
        streams.append(entry)
    k = len(pspec.terms)
    if pspec.slop == 0 or k == 1:
        common = None
        for i, (docs, tfs, dls, pos) in enumerate(streams):
            keys = np.repeat(docs, tfs) * _POS_SHIFT + (pos - i + k)
            common = keys if common is None else np.intersect1d(common, keys, assume_unique=True)
            if common.size == 0:
                break
        if common is None or common.size == 0:
            return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64))
        udocs, freqs = np.unique(common // _POS_SHIFT, return_counts=True)
    elif k == 2:
        docs_a, tf_a, _dl_a, pos_a = streams[0]
        docs_b, tf_b, _dl_b, pos_b = streams[1]
        a_keys = np.repeat(docs_a, tf_a) * _POS_SHIFT + pos_a + k  # offset 0
        b_keys = np.repeat(docs_b, tf_b) * _POS_SHIFT + (pos_b - 1) + k  # offset −1
        j = np.searchsorted(a_keys, b_keys)
        best = np.full(b_keys.size, np.iinfo(np.int64).max, dtype=np.int64)
        for jj in (j - 1, j):
            valid = (jj >= 0) & (jj < a_keys.size)
            cand = a_keys[np.clip(jj, 0, max(a_keys.size - 1, 0))]
            same_doc = (cand // _POS_SHIFT) == (b_keys // _POS_SHIFT)
            dist = np.abs(b_keys - cand)
            best = np.where(valid & same_doc, np.minimum(best, dist), best)
        occ_docs = (b_keys // _POS_SHIFT)[best <= pspec.slop]
        if occ_docs.size == 0:
            return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64))
        udocs, freqs = np.unique(occ_docs, return_counts=True)
    else:
        raise ValueError("sloppy phrases support exactly 2 terms (slop=0 for any length)")
    d0, _, dls0 = store.decode((pspec.field, pspec.terms[0]))[:3]
    dls_out = dls0[np.searchsorted(d0, udocs)]
    return udocs, freqs.astype(np.int64), dls_out


def _interval_match_doc(pos_by_term: list[np.ndarray], ordered: bool, max_gaps: int) -> bool:
    """One document's interval check (Lucene Intervals semantics,
    minimal slice): ordered = positions strictly increasing in term
    order; max_gaps ≥ 0 bounds (covering width − k) of the best
    interval."""
    k = len(pos_by_term)
    if ordered:
        if max_gaps < 0:
            # greedy earliest chain
            prev = -1
            for pos in pos_by_term:
                j = np.searchsorted(pos, prev + 1)
                if j >= pos.size:
                    return False
                prev = int(pos[j])
            return True
        # try each occurrence of the LAST term as the interval end;
        # backward-greedy maximizes the start → minimal span for that end
        for end in pos_by_term[-1][::-1]:
            nxt = int(end)
            ok = True
            for pos in pos_by_term[-2::-1]:
                j = np.searchsorted(pos, nxt) - 1
                if j < 0:
                    ok = False
                    break
                nxt = int(pos[j])
            if ok and (int(end) - nxt + 1 - k) <= max_gaps:
                return True
        return False
    # unordered: all terms present; with max_gaps, a minimal covering
    # window over one position per term must satisfy width − k ≤ gaps
    if max_gaps < 0:
        return all(p.size for p in pos_by_term)
    idx = [0] * k
    best = None
    while True:
        cur = [int(pos_by_term[i][idx[i]]) for i in range(k)]
        w = max(cur) - min(cur) + 1
        best = w if best is None else min(best, w)
        lo = int(np.argmin(cur))
        idx[lo] += 1
        if idx[lo] >= pos_by_term[lo].size:
            break
    return best is not None and (best - k) <= max_gaps


def _interval_postings_tree(store: PostingsStore, ispec: IntervalSpec):
    """(docs, dls) for a NESTED interval source (fn:within,
    fn:containing, fn:atLeast, … — intervals.eval_tree): candidate
    docs come from the tree's presence algebra (intersections for
    conjunctive sources, unions for or/atLeast, minuend-only for
    not_*), then each candidate runs the minimal-interval evaluator
    over its per-term position lists. Missing terms are empty
    streams, not failures — or()/not_*() sources tolerate absence."""
    streams = {}
    for t in ispec.terms:
        entry = store.decode_with_positions((ispec.field, t))
        if entry is not None:
            streams[t] = entry
    empty = np.empty(0, np.int64)

    def docs_of(t):
        e = streams.get(t)
        return e[0] if e is not None else empty

    cand = interval_doc_candidates(ispec.tree, docs_of)
    if cand.size == 0:
        return (empty, np.empty(0, np.int64))
    offs = {}
    for t, (docs, tfs, _dls, _pos) in streams.items():
        starts = np.zeros(tfs.size, dtype=np.int64)
        np.cumsum(tfs[:-1], out=starts[1:])
        offs[t] = starts
    out_docs: list[int] = []
    out_dls: list[int] = []
    for d in cand:
        pos_of = {}
        dl = 0
        for t, (docs, tfs, dls, pos) in streams.items():
            i = int(np.searchsorted(docs, d))
            if i < docs.size and docs[i] == d:
                st = int(offs[t][i])
                pos_of[t] = pos[st : st + int(tfs[i])]
                dl = int(dls[i])
        if pos_of and eval_interval_tree(ispec.tree, pos_of):
            out_docs.append(int(d))
            out_dls.append(dl)
    return (
        np.array(out_docs, dtype=np.int64),
        np.array(out_dls, dtype=np.int64),
    )


def _ordered_chain_docs(streams, common: np.ndarray) -> np.ndarray:
    """Vectorized greedy earliest-chain for ordered intervals without
    a gap bound: one (doc·2³² + pos) searchsorted per TERM instead of
    a Python loop per candidate DOC. Per doc the chain state is the
    last matched position; term i advances it to its smallest
    same-doc position > state, and docs whose advance fails drop out.
    Identical decision to _interval_match_doc's greedy chain — the
    work is O(k · Σ|postings| log) independent of candidate count."""
    prev = np.full(common.size, -1, dtype=np.int64)
    alive = np.ones(common.size, dtype=bool)
    for docs, tfs, _dls, pos in streams:
        keys = np.repeat(docs, tfs) * _POS_SHIFT + pos
        q = common * _POS_SHIFT + (prev + 1)
        j = np.searchsorted(keys, q)
        ok = j < keys.size
        cand = keys[np.minimum(j, max(keys.size - 1, 0))]
        ok &= (cand // _POS_SHIFT) == common
        alive &= ok
        prev = np.where(alive, cand % _POS_SHIFT, prev)
        if not alive.any():
            break
    return common[alive]


def _two_term_gap_docs(streams, common: np.ndarray, ordered: bool, max_gaps: int) -> np.ndarray:
    """Vectorized two-term interval with a gap bound, the common
    fn:maxgaps shape: per occurrence of the SECOND term, the nearest
    same-doc occurrence of the first (strictly before when ordered,
    either side when unordered) via key searchsorted — the sloppy-
    phrase pattern of _phrase_postings, minimal span per end."""
    docs_a, tf_a, _dla, pos_a = streams[0]
    docs_b, tf_b, _dlb, pos_b = streams[1]
    a_keys = np.repeat(docs_a, tf_a) * _POS_SHIFT + pos_a
    b_keys = np.repeat(docs_b, tf_b) * _POS_SHIFT + pos_b
    if a_keys.size == 0 or b_keys.size == 0:
        return np.empty(0, np.int64)
    j = np.searchsorted(a_keys, b_keys)
    big = np.iinfo(np.int64).max
    best = np.full(b_keys.size, big, dtype=np.int64)
    neighbors = (j - 1,) if ordered else (j - 1, j)
    for jj in neighbors:
        valid = (jj >= 0) & (jj < a_keys.size)
        cand = a_keys[np.clip(jj, 0, max(a_keys.size - 1, 0))]
        same_doc = (cand // _POS_SHIFT) == (b_keys // _POS_SHIFT)
        dist = np.abs(b_keys - cand)
        if ordered:
            # strict order: the a-occurrence must sit strictly before
            dist = np.where(cand < b_keys, dist, big)
        best = np.where(valid & same_doc, np.minimum(best, dist), best)
    # covering width = dist + 1; internal gaps = width − 2 = dist − 1
    occ_docs = (b_keys // _POS_SHIFT)[(best != big) & (best - 1 <= max_gaps)]
    matched = np.unique(occ_docs)
    # occurrence pairs only exist for docs holding both terms; common
    # already intersected, so matched ⊆ common by construction
    return matched


def _interval_postings(store: PostingsStore, ispec: IntervalSpec):
    """(docs, dls) of documents matching the interval function.

    The three common shapes are fully vectorized (no Python loop over
    candidate docs — interval queries over hot terms stay flat as df
    grows): unordered without gaps = the postings intersection
    itself; ordered without gaps = _ordered_chain_docs; two terms
    with a gap bound = _two_term_gap_docs. Only 3+-term gap-bounded
    intervals (rare: fn:maxgaps over a 3-term source) fall back to
    the per-doc minimal-window walk."""
    if ispec.tree is not None:
        return _interval_postings_tree(store, ispec)
    streams = []
    for t in ispec.terms:
        entry = store.decode_with_positions((ispec.field, t))
        if entry is None:
            return None
        streams.append(entry)
    common = streams[0][0]
    for docs, _, _, _ in streams[1:]:
        common = np.intersect1d(common, docs, assume_unique=True)
        if common.size == 0:
            break
    if common.size == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64))
    k = len(streams)
    if k == 1:
        # single term: any occurrence is a width-1 interval (gaps 0)
        out = common
    elif not ispec.ordered and ispec.max_gaps < 0:
        # all terms present is the whole predicate — the intersection
        out = common
    elif ispec.ordered and ispec.max_gaps < 0:
        out = _ordered_chain_docs(streams, common)
    elif k == 2:
        out = _two_term_gap_docs(streams, common, ispec.ordered, ispec.max_gaps)
    else:
        out_docs = []
        for d in common:
            pos_by_term = []
            for docs, tfs, _dls, pos in streams:
                i = int(np.searchsorted(docs, d))
                starts = np.zeros(tfs.size, dtype=np.int64)
                np.cumsum(tfs[:-1], out=starts[1:])
                pos_by_term.append(pos[starts[i] : starts[i] + int(tfs[i])])
            if _interval_match_doc(pos_by_term, ispec.ordered, ispec.max_gaps):
                out_docs.append(int(d))
        out = np.array(out_docs, dtype=np.int64)
    if out.size == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64))
    d0, _, dls0 = store.decode((ispec.field, ispec.terms[0]))[:3]
    return out, dls0[np.searchsorted(d0, out)]


def _phrase_weight(pspec: PhraseSpec, shard, idf_by_key, params):
    """(Σ bm25_idf, Σ classic_idf) over constituents — Lucene
    PhraseWeight sums the terms' idf explanations. None if any
    constituent has no postings in the shard's stat group."""
    sb = sc = 0.0
    for t in pspec.terms:
        got = idf_by_key.get((pspec.field, t, shard))
        if got is None:
            return None
        sb += got[0]
        sc += got[1]
    if params.lucene_parity:
        return (float(np.float32(sb)), float(np.float32(sc)))
    return (sb, sc)


def _dense_term_vectors(store, n, shard, idf_by_key, avgdl_by_key, params, sims=None, dv=None):
    """``dv`` maps each doc-values leaf's SQL to the shard's mask of
    flagged docs (:func:`_dv_masks`)."""
    sims = sims or {}

    def term_vectors(spec, boost: float) -> tuple[np.ndarray, np.ndarray]:
        mask = np.zeros(n, dtype=bool)
        score = np.zeros(n, dtype=np.float64)
        if isinstance(spec, DocValuesSpec):
            # doc-values leaf: the flagged docs, score 0.0
            return dv[spec.sql], score
        if isinstance(spec, _ExistsSpecT):
            # field:* — constant-score over the norms stream
            # (FieldExistsQuery semantics)
            entry = store.decode((spec.field, None))
            if entry is None:
                return mask, score
            docs = entry[0]
            mask[docs] = True
            score[docs] = np.float32(boost) if params.lucene_parity else boost
            return mask, score
        if isinstance(spec, IntervalSpec):
            got = _interval_postings(store, spec)
            if got is None:
                return mask, score
            docs, _dls = got
            mask[docs] = True
            score[docs] = np.float32(boost) if params.lucene_parity else boost
            return mask, score
        if isinstance(spec, TermSetSpec):
            # zl:tq — constant-score union of exact terms
            # (TermInSetQuery semantics)
            for t in spec.terms:
                entry = store.decode((spec.field, t))
                if entry is not None:
                    mask[entry[0]] = True
            score[mask] = np.float32(boost) if params.lucene_parity else boost
            return mask, score
        if isinstance(spec, PhraseSpec):
            got = _phrase_postings(store, spec)
            if got is None:
                return mask, score
            udocs, freqs, dls = got
            mask[udocs] = True
            w = _phrase_weight(spec, shard, idf_by_key, params)
            if w is not None and udocs.size:
                score[udocs] = _leaf_scores(
                    sims.get(spec.field, "BM25"), freqs, dls, boost, w,
                    avgdl_by_key[(spec.field, shard)], params,
                )
            return mask, score
        entry = store.decode((spec.field, spec.term))
        if entry is None:
            return mask, score
        docs, tfs, dls = entry
        mask[docs] = True
        idf = idf_by_key.get((spec.field, spec.term, shard))
        if idf is not None:
            avgdl = avgdl_by_key[(spec.field, shard)]
            score[docs] = _leaf_scores(sims.get(spec.field, "BM25"), tfs, dls, boost, idf, avgdl, params)
        return mask, score

    return term_vectors


def _leaf_specs(tree):
    """Every leaf spec of a request's tree."""
    stack = [tree]
    while stack:
        node = stack.pop()
        if isinstance(node, RBool):
            stack.extend(c for _, c in node.children)
        else:
            yield from node.specs


def _has_phrase(tree) -> bool:
    """Does the request need the positions stream?"""
    return any(isinstance(s, (PhraseSpec, IntervalSpec)) for s in _leaf_specs(tree))


def _dv_masks(dv_pdf, dv_sqls, n: int) -> dict[str, np.ndarray]:
    """One shard's doc-values frame (doc_id + one flag column per
    leaf, ``_dv<i>`` for ``dv_sqls[i]``) → {leaf SQL: mask over the
    shard's n docs}."""
    docs = dv_pdf["doc_id"].to_numpy(dtype=np.int64)
    out = {}
    for i, sql in enumerate(dv_sqls):
        mask = np.zeros(n, dtype=bool)
        mask[docs[dv_pdf[f"_dv{i}"].to_numpy(dtype=bool)]] = True
        out[sql] = mask
    return out


def _date_period(v: str) -> tuple[str, str, str, str]:
    """(start_ts, end_ts, start_date, end_date) of the period a date
    query value denotes — Zulia's DATE coercion (DateStringTest):
    ``2024`` = the year, ``2024-06`` = the month, ``2024-06-17`` = the
    day, a full timestamp = itself. '/' separators normalize to '-'."""
    import calendar
    import re as _re

    v = v.strip().replace("/", "-")
    if _re.fullmatch(r"\d{4}", v):
        return (f"{v}-01-01 00:00:00", f"{v}-12-31 23:59:59.999999",
                f"{v}-01-01", f"{v}-12-31")
    if _re.fullmatch(r"\d{4}-\d{2}", v):
        y, m = int(v[:4]), int(v[5:7])
        last = calendar.monthrange(y, m)[1]
        return (f"{v}-01 00:00:00", f"{v}-{last:02d} 23:59:59.999999",
                f"{v}-01", f"{v}-{last:02d}")
    if _re.fullmatch(r"\d{4}-\d{2}-\d{2}", v):
        return (f"{v} 00:00:00", f"{v} 23:59:59.999999", v, v)
    ts = v.replace("T", " ").rstrip("Zz")
    day = ts.split(" ")[0]
    return (ts, ts, day, day)


_NUMERIC_SET_KINDS = {
    "tinyint": ("int", -(2**31), 2**31 - 1),
    "smallint": ("int", -(2**31), 2**31 - 1),
    "int": ("int", -(2**31), 2**31 - 1),
    "bigint": ("long", -(2**63), 2**63 - 1),
    "float": ("float", None, None),
    "double": ("double", None, None),
}


def _validate_numeric_set_value(v, dt: str, fld: str) -> None:
    """zl:ns value validation, typed per the column like the
    reference's SetQueryHelper.getNumericSetQuery /
    ZuliaNumericSetQueryNode (QueryParserEdgeCaseTest
    .numericSetInvalidValueTest asserts this message shape): int/long
    columns reject fractional values and out-of-range parses; float/
    double reject non-numbers. Booleans/strings fall through to the
    literal coercion that follows."""
    kind = _NUMERIC_SET_KINDS.get(dt)
    if kind is None:
        return
    name, lo, hi = kind
    err = ValueError(
        f"Invalid value <{v}> for numeric set query on {name} field <{fld}>. "
        f"Every value must be a valid {name}"
    )
    if name in ("int", "long"):
        try:
            iv = int(str(v))
        except ValueError:
            raise err from None
        if not (lo <= iv <= hi):
            raise err
    else:
        try:
            float(str(v))
        except ValueError:
            raise err from None


def _bool_literal(v) -> str:
    """Query-side boolean coercion, matching
    ``BooleanUtil.getStringAsBooleanInt`` (zulia-util BooleanUtil.java)
    as used by ``ZuliaPointQueryNodeProcessor.java:185``: the string
    lexicon is exactly true/t/yes/y/1 and false/f/no/n/0 (case
    insensitive, trimmed); anything else maps to -1, which the
    reference turns into an IntPoint query that matches NOTHING — so
    here an unrecognized spelling becomes the SQL literal ``null``
    (``x = null`` / ``IN (null)`` never match). Known deviation: a
    RANGE bound with an unrecognized spelling is a no-match bound here
    but the literal number -1 in the reference (exotic; bool ranges
    with bad bounds)."""
    s = str(v).strip().lower()
    if s in ("true", "t", "yes", "y", "1"):
        return "true"
    if s in ("false", "f", "no", "n", "0"):
        return "false"
    return "null"


_EARTH_RADIUS_M = 6371008.7714  # Lucene GeoUtils.EARTH_MEAN_RADIUS_METERS


def _haversine_sql(fld: str, lat: float, lon: float) -> str:
    """Haversine meters between the stored ``array<double> [lat,lon]``
    column and a query point — the distance LatLonPoint.newDistanceQuery
    compares (Lucene SloppyMath.haversinMeters, mean earth radius)."""
    return (
        f"(2.0 * {_EARTH_RADIUS_M} * asin(sqrt("
        f"pow(sin(radians(`{fld}`[0] - ({lat})) / 2), 2)"
        f" + cos(radians({lat})) * cos(radians(`{fld}`[0]))"
        f" * pow(sin(radians(`{fld}`[1] - ({lon})) / 2), 2)"
        f")))"
    )


def _geo_predicate_sql(fld: str, r) -> str:
    """zl:geo → haversine ≤ km*1000; zl:geoBbox → lat/lon box with
    dateline-crossing OR when minLon > maxLon (LatLonPoint
    .newDistanceQuery / newBoxQuery semantics)."""
    if r.kind == "geo":
        lat, lon, km = r.args
        return f"({_haversine_sql(fld, lat, lon)} <= {km * 1000.0})"
    min_lat, max_lat, min_lon, max_lon = r.args
    lat_p = f"`{fld}`[0] BETWEEN {min_lat} AND {max_lat}"
    if min_lon <= max_lon:
        lon_p = f"`{fld}`[1] BETWEEN {min_lon} AND {max_lon}"
    else:  # crosses the antimeridian
        lon_p = f"(`{fld}`[1] >= {min_lon} OR `{fld}`[1] <= {max_lon})"
    return f"(({lat_p}) AND ({lon_p}))"


def _sort_after_predicate(exprs, tiebreak: tuple[str, ...], after: tuple):
    """Lexicographic strictly-after predicate for field-sort paging
    (Lucene searchAfter(FieldDoc) semantics over (sort keys…,
    tiebreak…)). ``exprs`` is [(col_expr, asc, nulls_last)]; the
    cursor values are literals, so null placement resolves at plan
    build time and the predicate stays Catalyst-pushable."""
    n_sort = len(exprs)

    def strictly_after(c, asc: bool, nulls_last: bool, a):
        if a is None:
            # after a null: with nulls last nothing follows on this
            # key; with nulls first every non-null does
            return F.lit(False) if nulls_last else c.isNotNull()
        base = (c > F.lit(a)) if asc else (c < F.lit(a))
        return (base | c.isNull()) if nulls_last else base

    conds = []
    prefix = F.lit(True)
    for i, (c, asc, mlast) in enumerate(exprs):
        conds.append(prefix & strictly_after(c, asc, mlast, after[i]))
        prefix = prefix & c.eqNullSafe(F.lit(after[i]))
    for t_i, t in enumerate(tiebreak):
        a = after[n_sort + t_i]
        conds.append(prefix & (F.col(t) > F.lit(a)))
        prefix = prefix & (F.col(t) == F.lit(a))
    pred = conds[0]
    for c in conds[1:]:
        pred = pred | c
    return pred


def _rank_and_page(idx: np.ndarray, scores: np.ndarray, after, per_shard_amount: int):
    """Sort candidate docs by (score desc, doc_id asc), apply the
    search-after cursor, and cut to per_shard_amount."""
    if after is not None:
        a_score, a_doc = after
        keep = (scores < a_score) | ((scores == a_score) & (idx > a_doc))
        idx, scores = idx[keep], scores[keep]
    order = np.lexsort((idx, -scores))[:per_shard_amount]
    return idx[order], scores[order]


def _apply_tombstones(match: np.ndarray, deleted) -> np.ndarray:
    """``match`` without the tombstoned docs (a copy: the evaluator's
    mask may be a doc-values leaf's, shared across the batch)."""
    if deleted is not None and deleted.size:
        match = match.copy()
        match[deleted[deleted < match.size]] = False
    return match


def _dense_match(plan: _QueryPlan, store, shard, n, idf_by_key, avgdl_by_key, params, deleted, dv):
    """(match mask, scores) of one request over one shard's dense doc
    space, tombstoned docs unmatched."""
    tv = _dense_term_vectors(store, n, shard, idf_by_key, avgdl_by_key, params, dict(plan.sims), dv)
    match, total = evaluate_tree(plan.tree, tv, n, params.lucene_parity)
    return _apply_tombstones(match, deleted), total


def _make_kernel(
    plans: list[_QueryPlan],
    idf_by_key: dict[tuple[str, str, int], float],
    avgdl_by_key: dict[tuple[str, int], float],
    params: Bm25Params,
    n_docs_by_shard: dict[int, int],
    tombstones: dict[int, "np.ndarray"] | None = None,
    dv_sqls: tuple[str, ...] = (),
    full_match: bool = False,
):
    """Per-shard kernel scoring EVERY request against the decoded
    blocks and the shard's doc-values flags (``dv_pdf``, None when no
    request has a doc-values leaf). Emits each request's top rows
    (KERNEL_SCHEMA) or, with ``full_match``, the one request's whole
    match set (MATCH_SCHEMA) — the input of facets and stats, which
    run doc-at-a-time over the match set in the reference
    (AggregationHandler.java:256-281). Every shard with a kernel group
    holds docs, so ``n_docs_by_shard`` has its size."""

    def kernel(key, pdf: pd.DataFrame, dv_pdf: pd.DataFrame | None) -> pd.DataFrame:
        shard = int(key[0])
        store = PostingsStore(pdf)
        n = n_docs_by_shard[shard]
        deleted = (tombstones or {}).get(shard)
        dv = _dv_masks(dv_pdf, dv_sqls, n) if dv_pdf is not None else None
        frames = []
        for plan in plans:
            match, total = _dense_match(plan, store, shard, n, idf_by_key, avgdl_by_key, params, deleted, dv)
            idx = np.flatnonzero(match)
            if full_match:
                return pd.DataFrame(
                    {"shard": np.int32(shard), "doc_id": idx.astype(np.int64), "score": total[idx]}
                )
            top, tscores = _rank_and_page(
                idx, total[idx], plan.after_by_shard.get(shard), plan.per_shard_amount
            )
            if top.size == 0:
                # still report totalHits/metrics for this shard
                top, tscores = np.array([-1], dtype=np.int64), np.array([np.nan])
            frames.append(
                pd.DataFrame(
                    {
                        "qid": plan.qid,
                        "shard": np.int32(shard),
                        "doc_id": top.astype(np.int64),
                        "score": tscores,
                        "total_hits": np.int64(idx.size),
                    }
                )
            )
        out = pd.concat(frames, ignore_index=True)
        out["blocks_decoded"] = np.int64(store.blocks_decoded)
        out["blocks_total"] = np.int64(store.blocks_total)
        return out

    return kernel


class SearchEngine:
    """Executes SearchRequests against built IndexTables."""

    def __init__(self, tables: IndexTables):
        self.tables = tables
        self.config: IndexConfig = tables.config
        self.params = Bm25Params(lucene_parity=self.config.quantize_norms)
        # field/shard stats are tiny (fields × shards): cache on the driver
        rows = tables.field_stats.collect()
        self._field_stats = {(r["field"], int(r["shard"])): (int(r["doc_count"]), int(r["sum_dl"])) for r in rows}
        self._shard_counts = {int(r["shard"]): int(r["num_docs"]) for r in tables.shard_counts.collect()}
        # term-statistics cache: df per (field, term, shard), filled
        # lazily per query batch — the driver-side analogue of the
        # reference's per-shard query cache (ShardReader.java:83-110);
        # repeat terms cost zero Spark jobs. Index tables are
        # immutable snapshots, so entries never invalidate.
        self._df_cache: dict[tuple[str, str, int], int] = {}
        self._known_terms: set[tuple[str, str]] = set()
        self._resolve_cache: dict[tuple, RBool] = {}
        self._pinned: DataFrame | None = None
        # uniqueId per (shard, doc_id), driver-resident (see _id_column)
        self._ids: dict[int, np.ndarray] | None = None
        self.last_metrics: dict[str, int] = {"blocks_decoded": 0, "blocks_total": 0}
        # tombstoned (deleted) docs per shard — masked in the kernels,
        # purged by a segment rewrite (see delete_by_unique_ids).
        # Durable when the index is parquet-backed: the uniqueId list
        # persists at <root>/tombstones.jsonl (atomic rewrite, same
        # protocol as the segment manifest) and reloads on engine
        # construction, so deletes survive restarts.
        self._tombstones: dict[int, set[int]] = {}
        self._tombstone_uids: set[str] = set()
        # HNSW graph frames per vector field, persisted shard-
        # partitioned on first use (the reader-held graph, Lucene's
        # per-segment HnswGraph kept open by the IndexReader)
        self._hnsw_frames: dict[str, DataFrame] = {}
        self._hnsw_shards: dict[str, list[int]] = {}
        # query-result cache (shardQueryCacheSize /
        # shardQueryCacheMaxAmount, zulia_index.proto:43-44): LRU over
        # frozen requests, invalidated by deletes. Off unless the
        # config sizes it (the reference defaults 512; here explicit
        # sizing opts in so benchmarks measure the engine, not the
        # cache).
        from collections import OrderedDict

        self._query_cache: "OrderedDict[tuple, dict]" = OrderedDict()
        # pinToCache region: exempt from LRU eviction (CacheTest
        # pinned searches survive cache pressure), still cleared by
        # deletes
        self._pinned_query_cache: dict[tuple, dict] = {}
        # Caffeine-style per-cache stats (zulia_base.proto CacheStats
        # :117-124; ZuliaShard.getShardCacheStats): each cache counts
        # its OWN lookups — pinned is consulted first, so a general
        # hit still records one pinned miss, exactly like two stacked
        # Caffeine caches. Evictions = LRU pops only (explicit
        # invalidation is not an eviction in Caffeine stats).
        self._cache_stats = {
            "pinned": {"hitCount": 0, "missCount": 0, "evictionCount": 0, "totalLoadTime": 0},
            "general": {"hitCount": 0, "missCount": 0, "evictionCount": 0, "totalLoadTime": 0},
        }
        persisted = load_tombstone_uids(getattr(tables, "root_path", None))
        if persisted:
            self._tombstone_uids = set(persisted)
            self._mark_tombstones(persisted)
        self._mark_superseded()

    def _mark_superseded(self) -> None:
        """Mask copies replaced by a later Store in a segmented index
        (segments.commit_batch_segment): each superseded record
        ``(uid, below)`` kills the copies of ``uid`` living in
        segments < ``below`` — the older (pid, doc_id) pairs join the
        in-memory live-docs holes but are NEVER persisted as uid
        tombstones (that would kill the replacement too). Lucene gets
        this for free from updateDocument's delete-then-add."""
        root = getattr(self.tables, "root_path", None)
        stride = self.config.segment_stride
        if not root or not stride:
            return
        from zuliasearch_spark.indexing.segments import read_superseded

        recs = read_superseded(root)
        if not recs:
            return
        spark = self.tables.doc_map.sparkSession
        rec_df = spark.createDataFrame(
            [(r["uid"], int(r["below"])) for r in recs], "uniqueId string, below int"
        )
        rows = (
            self.tables.doc_map.join(F.broadcast(rec_df), "uniqueId")
            .filter((F.col("shard") / stride).cast("int") < F.col("below"))
            .select("shard", "doc_id")
            .distinct()
            .collect()
        )
        for r in rows:
            self._tombstones.setdefault(int(r["shard"]), set()).add(int(r["doc_id"]))

    # -- planning ---------------------------------------------------------

    def _analyze(self, field: str, text: str) -> list[str]:
        return analyze_query_text(text, self.config.analyzer_for_indexed_field(field))

    def _effective_sims(self, req: SearchRequest, fields) -> tuple[tuple[str, str], ...]:
        """Per-field similarity for this request: analyzer default
        (AnalyzerSettings.similarity, zulia_index.proto:313) merged
        with the request's FieldSimilarity overrides, like
        ShardReader.getSimilarity:537-579. Only non-BM25 entries are
        kept: BM25 is the kernel's default, so every all-BM25 request
        plans alike. Unknown names raise, as the reference does."""
        overrides = dict(req.similarities)
        out: dict[str, str] = {}
        for f in fields:
            if f in out:
                continue
            sim = overrides.get(f)
            if sim is None:
                try:
                    sim = self.config.analyzer_for_indexed_field(f).similarity
                except KeyError:
                    sim = "BM25"
            if sim not in _VALID_SIMS:
                raise ValueError(f"Unknown similarity type {sim}")
            if sim != "BM25":
                out[f] = sim
        return tuple(sorted(out.items()))

    def _resolve_request(self, req: SearchRequest) -> RBool:
        """The request's one resolved boolean tree, cached per request
        text. A query string parses into it; a clause-model request
        composes its clauses into it (:meth:`_clauses_to_tree`, the
        reference's getQuery composition, ZuliaIndex.getQuery:700-774),
        whatever its clause text — plain tokens and query-string
        grammar alike. Doc-values leaves become kernel leaves
        (:meth:`_compile_docvalues`)."""
        if req.qs is None:
            key = ("clauses", req.clauses, req.qf, req.default_op, req.mm)
        else:
            key = ("qs", req.qs, req.qf, req.default_op, req.mm)
        tree = self._resolve_cache.get(key)
        if tree is None:
            if req.qs is None:
                tree = self._clauses_to_tree(req)
            else:
                fields = tuple(req.qf) or self.config.default_search_fields
                tree = self._resolve_qs_tree(req.qs, fields, req.default_op, req.mm)
            tree = self._compile_docvalues(tree)
            if len(self._resolve_cache) < 4096:
                self._resolve_cache[key] = tree
        return tree

    def _compile_docvalues(self, node):
        """Copy of a resolved tree whose RRange / RNumericSet / RGeo
        nodes are kernel leaves: each becomes an RLeaf holding one
        :class:`DocValuesSpec` with the node's doc_map SQL, so one
        evaluator (matcher.evaluate_tree) handles every boolean shape
        — Lucene's BooleanQuery takes IndexOrDocValuesQuery clauses
        anywhere (SetQueryHelper.java:45-106)."""
        if isinstance(node, RBool):
            return RBool(
                tuple((o, self._compile_docvalues(c)) for o, c in node.children),
                node.mm,
                node.boost,
            )
        if isinstance(node, (_RRangeT, _RNumericSetT, _RGeoT)):
            sql = self._range_predicate(node)
            return RLeaf((DocValuesSpec(sql),), conj=False, boost=1.0)
        return node

    def _resolve_qs_tree(self, qs: str, fields, default_op: str, mm: int):
        """Parse + resolve one query string into an RBool tree."""
        root = parse_query(qs, default_op)
        if mm:
            # global min-should-match: wrap + force-OR rewrite of
            # implicit default-AND occurs BEFORE resolution
            # (ZuliaGlobalMinMatchProcessor +
            # ZuliaMinMatchOrHandlingProcessor)
            apply_global_mm(root, mm)
        return resolve_tree(
            root,
            self._analyze,
            tuple(fields),
            lambda f, rx: self.expand_terms(f, rx),
            lambda f, t, e: self.expand_fuzzy(f, t, max_edits=e),
            default_op,
            expand_field=self.config.expand_field,
            date_fields=self._date_fields(),
            all_fields=tuple(
                dict.fromkeys(ia.indexed_field_name for _, ia in self.config.indexed_fields())
            ),
            configured_fields=frozenset(
                fc.stored_field_name for fc in self.config.field_configs
            ),
        )

    def _clauses_to_tree(self, req: SearchRequest) -> RBool:
        """Clause model → one resolved boolean tree (the reference's
        getQuery composition, ZuliaIndex.getQuery:700-774: each
        clause's q parsed by the full grammar, added to a root
        BooleanQuery with its occur). Plain-token text and ``terms``
        sets skip the parse (:func:`resolve_clause`, grammar-identical
        — :func:`clause_q_is_plain`). Occur map: SCORE_MUST→MUST,
        SCORE_SHOULD→SHOULD, FILTER/TERMS→MUST with scores zeroed
        (Lucene FILTER occur contributes no score — boost 0.0 on the
        subtree root), FILTER_NOT/TERMS_NOT→MUST_NOT."""
        from zuliasearch_spark.search.query import (
            FILTER as _FILTER_T,
            SCORE_SHOULD as _SHOULD_T,
            TERMS as _TERMS_T,
        )

        children = []
        for c in req.clauses:
            if c.q is not None and not clause_q_is_plain(c.q):
                fields = tuple(c.qf) or self.config.default_search_fields
                sub = self._resolve_qs_tree(c.q, fields, c.default_op, c.mm)
            else:
                rc = resolve_clause(
                    c, self._analyze, self.config.default_search_fields,
                    expand=self.config.expand_field,
                )
                sub = _resolved_clause_to_tree(rc)
            if c.type in (_FILTER_T, _TERMS_T) or c.negative:
                sub.boost = 0.0  # filter occur: match only, no score
            else:
                sub.boost = sub.boost * c.boost
            occur = (
                _MUST_NOT if c.negative
                else (_SHOULD if c.type == _SHOULD_T else _MUST)
            )
            children.append((occur, sub))
        return RBool(tuple(children), mm=0, boost=1.0)

    def _date_fields(self) -> frozenset[str]:
        """Stored date/timestamp and numeric columns that are NOT
        text-indexed (cached): bare terms on these resolve to point
        ranges — DATE period coercion and the numeric point-query
        coercion (``year:2020`` → exact-value range, Zulia
        ZuliaPointQueryNodeProcessor / NumericFacetConversionTest).
        Indexed fields keep postings-term semantics."""
        got = getattr(self, "_date_fields_cache", None)
        if got is None:
            indexed = {ia.indexed_field_name for _, ia in self.config.indexed_fields()}
            point_types = (
                "date", "timestamp", "timestamp_ntz",
                "int", "bigint", "smallint", "tinyint", "float", "double", "decimal",
                "boolean",
            )
            got = frozenset(
                f
                for f, t in self.tables.doc_map.dtypes
                if t in point_types and f not in indexed
            )
            self._date_fields_cache = got
        return got

    def _collect_term_stats(self, specs: set[tuple[str, str]]) -> dict[tuple[str, str, int], int]:
        """df per (field, term, shard) for the query leaves (pruned
        scan of only terms not already cached)."""
        specs = {(f, t) for f, t in specs if t is not None}  # exists keys need no df
        missing = specs - self._known_terms
        if missing:
            cond = self._specs_condition(missing)
            for r in self.tables.term_stats.filter(cond).collect():
                self._df_cache[(r["field"], r["term"], int(r["shard"]))] = int(r["df"])
            self._known_terms |= missing
        return self._df_cache

    @staticmethod
    def _specs_condition(specs: set[tuple[str, str]]):
        """Postings-scan predicate for the query's stat keys. A key
        with term None selects the field's NORMS rows (term IS NULL)
        — the field-exists stream."""
        by_field: dict[str, list[str]] = {}
        exists_fields: list[str] = []
        for f, t in specs:
            if t is None:
                exists_fields.append(f)
            else:
                by_field.setdefault(f, []).append(t)
        cond = None
        for f, terms in by_field.items():
            c = (F.col("field") == f) & F.col("term").isin(terms)
            cond = c if cond is None else (cond | c)
        for f in exists_fields:
            c = (F.col("field") == f) & F.col("term").isNull()
            cond = c if cond is None else (cond | c)
        return cond

    def pin(self) -> "SearchEngine":
        """Pin the postings RESIDENT in executor memory, hash-
        partitioned by shard — the steady-state serving topology —
        and load the driver-side uniqueId column (:meth:`_id_column`).

        Without pinning, every query batch re-decodes the postings
        parquet and re-shuffles the matching blocks to their shard
        group: per-batch cost proportional to index size, not result
        size. Pinned, (a) batches filter the in-memory columnar cache
        (no parquet scan), and (b) the cached plan's
        HashPartitioning("shard") already satisfies
        ``groupBy("shard")``'s ClusteredDistribution, so Catalyst
        elides the per-batch exchange — each batch is one map-side
        pass over resident co-located partitions, the Spark analogue
        of Lucene keeping segments open in a searcher
        (ShardReadManager.java reader leases). At cluster scale the
        pinned partitions live on their executors and queries route
        to them with NO data movement; scaling out adds partitions
        without touching the plan.

        The resident copy holds only the columns the kernel reads
        (:data:`_KERNEL_COLUMNS`). It drops the pos_bytes stream — the
        largest per-posting payload, read only by phrase/interval
        queries, which transparently fall back to the parquet scan
        path — and each block's first/last doc and tf/dl sums.

        Pinned, a postings-class ``search()`` or ``search_many()`` is
        ONE Spark job (the kernel); a request naming a term the engine
        has not seen yet adds one term-stats job, and a call with
        doc-values leaves adds the shuffle map stage of its doc_map
        side (doc_map is not resident). The uniqueIds of the
        hits come from the driver-side id column, which costs about one
        Python string per indexed doc of driver memory."""
        self.unpin()  # re-pinning must release the previous resident copy
        base = self.tables.postings.select(*_KERNEL_COLUMNS)
        # sortWithinPartitions clusters the cached batches by term so
        # the in-memory columnar cache's per-batch min/max stats prune
        # query filters like the parquet scan prunes row groups —
        # repartition alone interleaves terms and defeats batch
        # pruning (measured ~17% on the bench query set at 100k docs;
        # the gap widens with index size). Partition-preserving, so
        # the ClusteredDistribution elision below still applies.
        pinned = (
            base.repartition(len(self._shards()), "shard")
            .sortWithinPartitions("field", "term")
            .persist()
        )
        # the id column loads in its own small job, concurrent with
        # the cache build, so pin() pays for the longer of the two
        with ThreadPoolExecutor(1) as pool:
            ids = pool.submit(inheritable_thread_target(self._id_column))
            pinned.count()  # materialize the cache before serving
            self._pinned = pinned
            ids.result()
        # warming searches run after the resident copy is live, the
        # analogue of ZuliaShard.tryWarmPrimary after reader refresh
        # (ZuliaShard.java:148-170): pre-populates the query-result
        # cache (pinToCache entries in the pinned region) so the
        # first user query is warm
        if self.config.warming_searches:
            self.warm_searches()
        return self

    def unpin(self) -> None:
        if self._pinned is not None:
            self._pinned.unpersist()
            self._pinned = None
        self._ids = None

    def _id_column(self) -> dict[int, np.ndarray]:
        """uniqueId per (shard, doc_id) on the driver: one object array
        per shard, indexed by the dense doc_id — the reader a Zulia
        shard already holds open to read a hit's id. Loaded by one
        ``doc_map`` read on first use (:meth:`pin` loads it up front)
        and valid for the engine's life: the uniqueId at a (shard,
        doc_id) never changes for an IndexTables — deletes only add
        tombstones, and a refreshed index is a new engine."""
        if self._ids is None:
            pdf = (
                self.tables.doc_map.select("shard", "doc_id", "uniqueId")
                .toPandas()
                .sort_values(["shard", "doc_id"])
            )
            ids: dict[int, np.ndarray] = {}
            for shard, g in pdf.groupby("shard", sort=False):
                doc_ids = g["doc_id"].to_numpy()
                if not np.array_equal(doc_ids, np.arange(len(doc_ids))):
                    raise ValueError(
                        f"doc_map doc_ids of shard {int(shard)} are not dense "
                        f"0..{len(doc_ids) - 1}; cannot index uniqueIds by doc_id"
                    )
                ids[int(shard)] = np.array(g["uniqueId"].tolist(), dtype=object)
            self._ids = ids
        return self._ids

    def _postings_scan(self, cond, need_positions: bool):
        """Pruned postings scan for a query batch, PROJECTED to the
        columns :class:`PostingsStore` reads, so the parquet scan and
        the per-shard shuffle carry nothing else (column pruning
        reaches the scan's ReadSchema). The positions stream is the
        largest per-posting payload and only phrase queries read it;
        term-only batches leave it out. When the index is pinned
        (:meth:`pin`), term-only batches filter the resident
        shard-partitioned cache instead — no parquet scan and no
        shuffle."""
        if self._pinned is not None and not need_positions:
            return self._pinned.filter(cond)
        cols = _KERNEL_COLUMNS
        if need_positions and "pos_bytes" in self.tables.postings.columns:
            cols = (*cols, "pos_bytes")
        return self.tables.postings.filter(cond).select(*cols)

    def _shards(self) -> list[int]:
        return sorted(self._shard_counts)

    def _stat_peers(self, shard: int) -> list[int]:
        """Partitions whose statistics pool with ``shard``: itself
        (per-shard mode), all segments of its true shard (segmented
        reads, config.segment_stride), or every partition (global)."""
        if not self.config.per_shard_stats:
            return self._shards()
        stride = self.config.segment_stride
        if stride:
            return [p for p in self._shards() if p % stride == shard % stride]
        return [shard]

    def _stats_for(self, field: str, shard: int) -> tuple[int, int]:
        """(doc_count, sum_dl) summed over the shard's stat peers."""
        peers = self._stat_peers(shard)
        dc = sum(self._field_stats.get((field, p), (0, 0))[0] for p in peers)
        sd = sum(self._field_stats.get((field, p), (0, 0))[1] for p in peers)
        return dc, sd

    def _plan(self, specs: set[tuple[str, str]]):
        """Per-(term, shard) idf + per-(field, shard) avgdl + scan
        predicate (always false without specs: a doc-values-only call
        reads no postings)."""
        if not specs:
            return {}, {}, F.lit(False)
        df_by_key = self._collect_term_stats(specs)
        shards = self._shards()

        idf_by_key: dict[tuple[str, str, int], tuple[float, float]] = {}
        avgdl_by_key: dict[tuple[str, int], float] = {}
        for f in {f for f, _ in specs}:
            for s in shards:
                doc_count, sum_dl = self._stats_for(f, s)
                if doc_count > 0:
                    avgdl_by_key[(f, s)] = bm25_avgdl(sum_dl, doc_count, self.params)
        for f, t in specs:
            if t is None:
                continue  # exists leaves score constant: no idf
            for s in shards:
                df = sum(df_by_key.get((f, t, p), 0) for p in self._stat_peers(s))
                doc_count, _ = self._stats_for(f, s)
                if df > 0 and doc_count > 0:
                    # bm25_weight with boost=1 → pure idf; boost folds in-kernel.
                    # classic idf = ln((N+1)/(df+1)) + 1 (Lucene
                    # ClassicSimilarity.idf) for TFIDF similarity.
                    classic = float(np.log((doc_count + 1) / (df + 1.0)) + 1.0)
                    if self.params.lucene_parity:
                        classic = float(np.float32(classic))
                    idf_by_key[(f, t, s)] = (
                        bm25_weight(doc_count, df, 1.0, self.params),
                        classic,
                    )

        return idf_by_key, avgdl_by_key, self._specs_condition(specs)

    # -- search -----------------------------------------------------------

    def search(self, req: SearchRequest, fetch: str = "ids") -> dict:
        """One request. Query-result cache semantics follow the
        reference (CacheTest.java; ZuliaShard query cache):
        ``req.realtime`` bypasses the cache both ways (realtime
        searches must see uncommitted changes), ``req.pin_to_cache``
        stores the entry in a pinned region exempt from LRU eviction,
        and results report ``fullyCached`` so callers can observe
        cache behavior like SearchResult.getFullyCached()."""
        import copy
        import dataclasses

        cache_n = self.config.query_cache_size
        cacheable = (
            not req.realtime
            and cache_n > 0
            and req.amount + req.start <= self.config.query_cache_max_amount
        )
        # the cache key excludes searchLabel / pinToCache / realtime:
        # CacheTest.searchTest issues the warming search WITHOUT its
        # label or pin flag and still gets fullyCached=true with
        # shardsPinned=1 — identity is the query, not its metadata
        key = (
            dataclasses.replace(req, pin_to_cache=False, realtime=False, search_label=""),
            fetch,
        )
        if cacheable:
            pinned_hit = self._pinned_query_cache.get(key)
            hit = pinned_hit
            stats = self._cache_stats
            if pinned_hit is not None:
                stats["pinned"]["hitCount"] += 1
            else:
                stats["pinned"]["missCount"] += 1
            if hit is None:
                hit = self._query_cache.get(key)
                if hit is not None:
                    self._query_cache.move_to_end(key)
                    stats["general"]["hitCount"] += 1
                else:
                    stats["general"]["missCount"] += 1
            if hit is not None:
                # SearchResult.getFullyCached/getShardsCached/
                # getShardsPinned/getShardsQueried (CacheTest
                # searchTest assertions): the whole-result cache is
                # the single-shard-group analogue — a hit means every
                # shard was served cached
                out = copy.deepcopy(hit)
                out["fullyCached"] = True
                out["shardsCached"] = self.config.number_of_shards
                out["shardsPinned"] = (
                    self.config.number_of_shards if pinned_hit is not None else 0
                )
                out["shardsQueried"] = self.config.number_of_shards
                return out
        import time as _time

        t0 = _time.perf_counter_ns()
        out = self.search_many({"q": req}, fetch=fetch)["q"]
        load_ns = _time.perf_counter_ns() - t0
        out["fullyCached"] = False
        out["shardsCached"] = 0
        out["shardsPinned"] = 0
        out["shardsQueried"] = self.config.number_of_shards
        if cacheable:
            if req.pin_to_cache:
                self._pinned_query_cache[key] = copy.deepcopy(out)
                self._cache_stats["pinned"]["totalLoadTime"] += load_ns
            else:
                self._query_cache[key] = copy.deepcopy(out)
                self._cache_stats["general"]["totalLoadTime"] += load_ns
                while len(self._query_cache) > cache_n:
                    self._query_cache.popitem(last=False)
                    self._cache_stats["general"]["evictionCount"] += 1
        return out

    def shard_cache_stats(self) -> dict:
        """``ShardCacheStats`` (zulia_base.proto:111-124): the query
        caches' Caffeine-style counters for the stats surface
        (StatsController / GetNodes). One shard-group entry with
        ``primary=True`` — replicas are architecture-N/A here.
        ``estimatedSize`` = live entries, ``resultSize`` = cached
        top-k rows, ``totalLoadTime`` in nanoseconds like Caffeine."""

        def one(counters: dict, store: dict) -> dict:
            return {
                "estimatedSize": len(store),
                "resultSize": sum(len(v.get("topk", ())) for v in store.values()),
                **counters,
            }

        return {
            "primary": True,
            "pinnedCache": one(self._cache_stats["pinned"], self._pinned_query_cache),
            "generalCache": one(self._cache_stats["general"], self._query_cache),
        }

    def warm_searches(self) -> list[dict]:
        """Run the config's stored warming searches through the
        normal search path (ZuliaShard.warmPrimarySearches:206-267;
        triggered after load/refresh like tryWarmPrimary:148-170 —
        here :meth:`pin` is the load/refresh analogue and calls this).
        pinToCache entries land in the pinned query-cache region
        (CacheTest.java:51-53), so the first user query that repeats
        a warming search reports fullyCached. A failing warming
        search is logged-and-skipped, never fatal (the reference
        catches per search). Returns [{label, ok, error}]."""
        from .query import warming_request

        out = []
        for entry in self.config.warming_searches:
            req = warming_request(entry)
            try:
                self.search(req)
                out.append({"label": req.search_label, "ok": True, "error": None})
            except Exception as e:  # noqa: BLE001 — warming must not break serving
                out.append({"label": req.search_label, "ok": False, "error": str(e)})
        return out

    def search_many(self, reqs: dict[str, SearchRequest], fetch: str = "ids") -> dict[str, dict]:
        """Execute many requests in ONE kernel action (module
        docstring), doc-values-bearing and purely negative requests
        included. Each shard ranks a request's whole match set, so
        every shard is asked for the full ``start + amount`` rows and
        the merged page is exact without a retry."""
        return self._search_resolved({qid: (r, self._resolve_request(r)) for qid, r in reqs.items()}, fetch)

    def _search_resolved(self, entries: dict, fetch: str = "ids") -> dict[str, dict]:
        """:meth:`search_many` over requests already resolved:
        ``entries`` maps qid → (request, tree)."""
        shards = self._shards()
        reqs = {qid: e[0] for qid, e in entries.items()}
        qplans = [
            _QueryPlan(
                qid=qid,
                tree=tree,
                per_shard_amount=req.start + req.amount,
                after_by_shard={
                    s: a
                    for s in shards
                    if (a := (req.last_result.after_for(s) if req.last_result else None))
                },
                sims=self._effective_sims(req, {f for f, _ in tree_stat_keys(tree)}),
            )
            for qid, (req, tree) in entries.items()
        ]

        frame = self._kernel_frame(qplans)
        if frame is None:
            return {qid: {"totalHits": 0, "topk": []} for qid in reqs}
        import time as _time

        _t0 = _time.perf_counter()
        pdf = frame.toPandas()
        _t_job = _time.perf_counter()

        # vectorized gather (QueryCombiner semantics in pandas C):
        # rank rows per qid by (score desc, shard asc, doc_id asc)
        per_shard_df = pdf.drop_duplicates(["shard"])
        self.last_metrics = {
            "blocks_decoded": int(per_shard_df["blocks_decoded"].sum()),
            "blocks_total": int(per_shard_df["blocks_total"].sum()),
            "job_ms": int((_t_job - _t0) * 1000),
        }
        th_map = pdf.drop_duplicates(["qid", "shard"]).groupby("qid")["total_hits"].sum().to_dict()
        hits = pdf[pdf["doc_id"] >= 0].sort_values(
            ["qid", "score", "shard", "doc_id"], ascending=[True, False, True, True], kind="stable"
        )
        hits = hits.assign(rank=hits.groupby("qid").cumcount())

        # the page cut — ONE pandas pass for the whole batch, no
        # per-qid filtering of the big frame (that loop was
        # O(queries × rows) and a constant ~1 s of driver time that
        # throttled batch q/s)
        start_map = {qid: r.start for qid, r in reqs.items()}
        lim_map = {qid: r.start + r.amount for qid, r in reqs.items()}
        qcol = hits["qid"]
        page = hits[
            (hits["rank"] >= qcol.map(start_map)) & (hits["rank"] < qcol.map(lim_map))
        ]
        results = {qid: {"totalHits": int(th_map.get(qid, 0)), "topk": []} for qid in reqs}
        for row in page.itertuples(index=False):
            results[row.qid]["topk"].append(
                {"shard": int(row.shard), "doc_id": int(row.doc_id), "score": float(row.score)}
            )

        self.last_metrics["gather_ms"] = int((_time.perf_counter() - _t_job) * 1000)
        if fetch != "none" and len(page):
            ids = self._id_column()
            for res in results.values():
                for t in res["topk"]:
                    t["uniqueId"] = ids[t["shard"]][t["doc_id"]]
        return results

    def _kernel_frame(self, plans: list[_QueryPlan], full_match: bool = False):
        """The one kernel action behind every search entry point, as a
        lazy frame (None when no request can match anything: none
        reads postings or doc values, and each has a positive leaf).

        The postings scan of the plans' terms is grouped by shard — a
        pinned index is already shard-partitioned, so that is no
        shuffle. When some request has a doc-values leaf or no positive
        leaf, the scan is cogrouped by shard with ONE narrow doc_map
        frame: the rows passing any leaf's predicate (the bare OR
        reaches the parquet scan as PushedFilters) plus each shard's
        doc 0, projected to (shard, doc_id, one null-safe flag per
        leaf). Doc 0 gives every shard holding docs a kernel group, so
        a pure negation matches all of a shard where its terms have no
        postings (the reference's MatchAll fix-up,
        ZuliaIndex.java:715-717, applied by ``evaluate_tree``)."""
        keys: set = set()
        dv_sqls: set[str] = set()
        for p in plans:
            keys |= tree_stat_keys(p.tree)
            dv_sqls.update(s.sql for s in _leaf_specs(p.tree) if isinstance(s, DocValuesSpec))
        every_shard = bool(dv_sqls) or not all(tree_has_positive_leaf(p.tree) for p in plans)
        if not keys and not every_shard:
            return None
        dv_sqls = tuple(sorted(dv_sqls))
        idf_by_key, avgdl_by_key, cond = self._plan(keys)
        kernel = _make_kernel(
            plans, idf_by_key, avgdl_by_key, self.params, self._shard_counts,
            self._tombstone_arrays(), dv_sqls, full_match,
        )
        scan = self._postings_scan(cond, any(_has_phrase(p.tree) for p in plans))
        schema = MATCH_SCHEMA if full_match else KERNEL_SCHEMA
        if not every_shard:
            return scan.groupBy("shard").applyInPandas(
                lambda key, pdf: kernel(key, pdf, None), schema
            )
        flags = [
            F.coalesce(F.expr(sql), F.lit(False)).alias(f"_dv{i}")
            for i, sql in enumerate(dv_sqls)
        ]
        dv = (
            self.tables.doc_map.filter(" OR ".join(f"({sql})" for sql in (*dv_sqls, "doc_id = 0")))
            .select("shard", "doc_id", *flags)
        )
        return scan.groupBy("shard").cogroup(dv.groupBy("shard")).applyInPandas(kernel, schema)

    def search_string(
        self,
        q: str,
        amount: int = 10,
        start: int = 0,
        qf: tuple[str, ...] = (),
        default_op: str = "OR",
        mm: int = 0,
        similarities: tuple[tuple[str, str], ...] = (),
    ) -> dict:
        """Search with the Zulia query-string syntax (search.parser).

        Every leaf runs in the sharded postings kernel; doc-values
        leaves (``field:[a TO b]``, ``field>=v``, ``zl:ns``, geo) read
        their per-shard masks from a Catalyst-pushed doc_map predicate
        (:meth:`_kernel_frame`), anywhere in the boolean tree.
        """
        req = SearchRequest(
            qs=q, qf=tuple(qf), default_op=default_op, mm=mm,
            amount=amount, start=start, similarities=tuple(similarities),
        )
        return self.search(req)

    def _range_predicate(self, r) -> str:
        """One RRange / RNumericSet / RGeo node → one SQL predicate
        over doc_map columns (numeric when the column is numeric, else
        string compare). Field-mapping aliases OR their expanded
        targets.

        The predicate is BARE: WHERE treats NULL as false, and bare
        comparisons reach the parquet scan as PushedFilters
        (row-group/page min-max skipping; a coalesce() wrapper makes
        the whole filter opaque to pushdown and forces a full doc_map
        scan — verified in tests/test_plan_pushdown.py). Negation is
        not compiled here: the kernel applies MUST_NOT to the leaf's
        mask, and a doc WITHOUT the field is never flagged, so it is
        kept — Lucene MUST_NOT semantics."""
        dtypes = dict(self.tables.doc_map.dtypes)
        # lenient = pattern-expanded field list spanning types: a
        # field the value can't parse for (or that isn't stored)
        # matches nothing instead of failing the query
        lenient = getattr(r, "lenient", False)
        alts = []
        for fld in r.fields:
            try:
                alts.append(self._range_alt_sql(fld, r, dtypes))
            except (ValueError, KeyError):
                if not lenient:
                    raise
                alts.append("(1=0)")
        return "(" + " OR ".join(alts) + ")"

    def _range_alt_sql(self, fld: str, r, dtypes: dict) -> str:
        """One field's SQL alternative for a range/set/geo leaf.
        Raises ValueError when the field isn't stored or a bound
        doesn't parse for its type (the caller decides whether that
        fails the query or, for lenient pattern expansions, just
        contributes no hits)."""
        numeric_types = ("int", "bigint", "float", "double", "smallint", "tinyint", "decimal")
        if fld not in dtypes:
            raise ValueError(f"range field {fld!r} is not a stored column")
        if isinstance(r, _RGeoT):
            return f"({_geo_predicate_sql(fld, r)})"
        dt = dtypes[fld]
        if dt.startswith("array<"):
            # multivalued doc-values: a range/set matches when
            # ANY value satisfies it (Lucene SortedNumeric /
            # SortedSet range semantics; NullEmptyTest
            # |comments|:0). NULL elements never match.
            elem = dt[6:-1]
            e_num = elem in numeric_types
            e_bool = elem == "boolean"

            def elit(v):
                if e_bool:
                    return _bool_literal(v)
                if e_num:
                    float(v)
                    return v
                return "'" + str(v).replace("'", "''") + "'"

            sub = []
            if isinstance(r, _RNumericSetT):
                for v in r.values:
                    _validate_numeric_set_value(v, elem, fld)
                vals = ", ".join(elit(v) for v in r.values)
                sub.append(f"x IN ({vals})")
            else:
                if r.lo is not None:
                    sub.append(f"x {'>=' if r.incl_lo else '>'} {elit(r.lo)}")
                if r.hi is not None:
                    sub.append(f"x {'<=' if r.incl_hi else '<'} {elit(r.hi)}")
            if sub:
                return f"exists(`{fld}`, x -> {' AND '.join(sub)})"
            return "(1=1)"
        numeric = dt in numeric_types
        is_bool = dt == "boolean"

        def lit(v):
            if is_bool:
                # every accepted spelling of a boolean queries
                # as the same value (BooleanFormatTest
                # everyFormatQueriesAsTheSameValue)
                return _bool_literal(v)
            if numeric:
                float(v)  # validates
                return v
            return "'" + str(v).replace("'", "''") + "'"

        if isinstance(r, _RNumericSetT):
            for v in r.values:
                _validate_numeric_set_value(v, dt, fld)
            vals = ", ".join(lit(v) for v in r.values)
            return f"`{fld}` IN ({vals})"
        sub = []
        if dt in ("date", "timestamp", "timestamp_ntz"):
            # DATE coercion: each bound denotes a PERIOD —
            # inclusive bounds use the far edge of the period,
            # exclusive bounds the near edge (DateStringTest:
            # added:[2022-02-01 TO 2024-06-17T23:59:59Z]).
            # Bounds are shape-validated driver-side so a value that
            # can't be a date fails HERE (ValueError — lenient
            # pattern expansions turn it into a no-match) instead of
            # as an ANSI cast error inside the scan.
            for b in (r.lo, r.hi):
                if b is not None and not re.fullmatch(
                    r"\d{4}(-\d{2}(-\d{2}([T ].+)?)?)?",
                    b.strip().replace("/", "-"),
                ):
                    raise ValueError(
                        f"value {b!r} is not a date/timestamp for range field {fld!r}"
                    )
            is_date = dt == "date"
            if r.lo is not None:
                s, e, sd, ed = _date_period(r.lo)
                lo = (sd if r.incl_lo else ed) if is_date else (s if r.incl_lo else e)
                sub.append(f"`{fld}` {'>=' if r.incl_lo else '>'} '{lo}'")
            if r.hi is not None:
                s, e, sd, ed = _date_period(r.hi)
                hi = (ed if r.incl_hi else sd) if is_date else (e if r.incl_hi else s)
                sub.append(f"`{fld}` {'<=' if r.incl_hi else '<'} '{hi}'")
        else:
            if r.lo is not None:
                sub.append(f"`{fld}` {'>=' if r.incl_lo else '>'} {lit(r.lo)}")
            if r.hi is not None:
                sub.append(f"`{fld}` {'<=' if r.incl_hi else '<'} {lit(r.hi)}")
        return "(" + " AND ".join(sub) + ")" if sub else "(1=1)"

    def match_ids(self, req: SearchRequest):
        """DataFrame of ALL matching (shard, doc_id, score) rows.

        The entry point for aggregations: facets/stats join this match
        set against doc_map, the Spark equivalent of the reference's
        doc-at-a-time facet/stat pass over the intersected iterators
        (AggregationHandler.java:256-281). It is the kernel action of
        :meth:`search` emitting the whole match set, so doc-values
        leaves compose anywhere in the query. A purely negative
        request matches every live doc its negations leave, as in the
        reference (ZuliaIndex.java:715-717).
        """
        tree = self._resolve_request(req)
        plan = _QueryPlan(
            qid="q",
            tree=tree,
            per_shard_amount=0,
            after_by_shard={},
            sims=self._effective_sims(req, {f for f, _ in tree_stat_keys(tree)}),
        )
        frame = self._kernel_frame([plan], full_match=True)
        if frame is None:
            raise ValueError("empty query")
        return frame

    @staticmethod
    def _facet_top_n(top_n: int) -> int | None:
        """maxFacets semantics (QueryRequestValidator.java:70-71;
        FacetTopNEdgeCaseTest ``setTopN(-1)``): 0 takes the reference
        default of 10; a negative topN returns ALL labels (None = no
        cut). Result size is always min(topN, label cardinality) and
        any topN yields a prefix of the full descending-count,
        label-ascending order — the reference asserts that
        cross-path (PQ vs collect-and-sort) consistency; here both
        "paths" are the same groupBy, so it holds by construction."""
        if top_n == 0:
            return 10
        return None if top_n < 0 else top_n

    def _facet_hits_guard(self, matches, max_total_hits: int = 0, max_shard_hits: int = 0):
        """The reference's facet/stat cost guard SKIPS, never
        truncates (ShardReader.java:331-338; QueryCombiner.java:
        190-206; GeneralFeaturesTest.conditionalFacetsTest): a shard
        whose hit count exceeds the shard limit (maxShardHitsForFacet,
        falling back to maxTotalHitsForFacet when 0) contributes no
        facet group, and when GLOBAL totalHits exceeds
        maxTotalHitsForFacet the whole facet is dropped — the client
        sees null, not counts over a sample. Returns
        ``(contributing_matches | None, skipped)``.

        The per-shard hit counts cost one partial-aggregate job only
        when a guard is armed (the reference reads shardTotalHits off
        the search it already ran; here match_ids is lazy, and a
        guarded request exists precisely to avoid the bigger facet
        job, so the small count is the cheap branch)."""
        if not max_total_hits and not max_shard_hits:
            return matches, False
        per = matches.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt")).collect()
        total = sum(r["cnt"] for r in per)
        if max_total_hits and total > max_total_hits:
            return None, True
        shard_limit = max_shard_hits or max_total_hits
        if shard_limit:
            ok = [int(r["shard"]) for r in per if r["cnt"] <= shard_limit]
            if not ok:
                return None, True
            if len(ok) < len(per):
                matches = matches.where(F.col("shard").isin(ok))
        return matches, False

    def _require_stored(self, *fields: str) -> None:
        """Reject facet/stat fields that doc_map does not store, before
        any Spark job runs — otherwise Spark's UNRESOLVED_COLUMN
        surfaces from deep inside the plan. A dotted name passes when
        its root column is stored (nested struct access)."""
        cols = self.tables.doc_map.columns
        for f in fields:
            if f not in cols and f.split(".", 1)[0] not in cols:
                stored = sorted(
                    c for c in cols if c not in ("shard", "doc_id") and not c.startswith("_z")
                )
                raise ValueError(f"field {f!r} is not stored; stored fields: {stored}")

    def _facet_scalar(self, df, facet_field: str):
        """Multivalued facet fields count once per DISTINCT value per
        doc (Lucene SortedSetDocValues ordinal semantics — FacetTest
        facets List-valued fields per element, a repeated value inside
        one doc counts once): explode array facet columns to one row
        per (doc, value) before any facet grouping. Scalar columns
        pass through untouched."""
        if dict(self.tables.doc_map.dtypes).get(facet_field, "").startswith("array"):
            return (
                df.withColumn("_zfv_", F.explode(F.array_distinct(F.col(facet_field))))
                .drop(facet_field)
                .withColumnRenamed("_zfv_", facet_field)
            )
        return df

    def facet_counts(
        self,
        req: SearchRequest,
        facet_field: str,
        top_n: int = 10,
        max_total_hits: int = 0,
        max_shard_hits: int = 0,
        date_format: str | None = None,
    ):
        """Exact top-N facet counts over the match set.

        The reference merges per-shard partial facet counts with error
        bounds (FacetCombiner.java:41-144); a global Spark groupBy is
        exact, so maxError/possibleMissing are always zero here.
        Ties broken by value ascending (deterministic).

        ``max_total_hits`` / ``max_shard_hits`` arm the
        maxTotalHitsForFacet / maxShardHitsForFacet cost guard
        (skip-not-truncate — see _facet_hits_guard); returns None
        when the facet is skipped, mirroring the reference client's
        null facet group.
        """
        self._require_stored(facet_field)
        matches = self.match_ids(req).select("shard", "doc_id")
        matches, skipped = self._facet_hits_guard(matches, max_total_hits, max_shard_hits)
        if skipped:
            return None
        joined = self._facet_scalar(
            matches.join(self.tables.doc_map, ["shard", "doc_id"], "inner"), facet_field
        )
        # FacetAs.DateHandling (zulia_index.proto DATE_YYYY_MM_DD /
        # DATE_YYYYMMDD): date/timestamp facet values format to the
        # configured label before counting
        if date_format:
            val = F.date_format(F.col(facet_field), date_format)
        elif dict(self.tables.doc_map.dtypes).get(facet_field) == "boolean":
            # BOOL facets label as "True"/"False" (BooleanFormatTest
            # facetsAgreeWithQueries); nulls stay uncounted
            c = F.col(facet_field)
            val = F.when(c, "True").when(~c, "False")
        else:
            val = F.col(facet_field)
        out = (
            joined.groupBy(val.alias("value"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("value"))
        )
        cut = self._facet_top_n(top_n)
        return out if cut is None else out.limit(cut)

    def facet_counts_sharded(
        self,
        req: SearchRequest,
        facet_field: str,
        top_n: int = 10,
        shard_facets: int = 40,
        max_total_hits: int = 0,
        max_shard_hits: int = 0,
    ):
        """Per-shard top-N facet merge with error bounds — the
        reference's distributed facet protocol (FacetCombiner.java:
        41-144; CountRequest shardFacets zulia_query.proto:135-146).
        Each shard reports only its own top ``shard_facets`` labels;
        the combiner sums them, bounds each label's undercount
        (maxError = Σ min-returned-count of shards that did NOT report
        it), and flags labels that might be missing entirely.
        ``shard_facets=-1`` reports full per-shard lists (exact merge,
        maxError 0); ``shard_facets=0`` takes the reference default of
        10 × top_n per shard (QueryRequestValidator.java:50-56).
        `facet_counts` stays the exact global groupBy; this surface
        exists for protocol parity and for callers that cap per-shard
        work.

        Scale shape: `groupBy(shard, value)` partial-aggregates
        map-side; the per-shard cut is a window WITHIN the shard
        partition (no second shuffle); only shards × shard_facets rows
        reach the driver for the combiner walk.

        Returns ``(df, flags)``: df rows (value, cnt, max_error) in
        (count desc, value asc) order cut to top_n; flags carries
        possibleMissing / maxValuePossibleMissing.
        """
        from pyspark.sql import Window

        self._require_stored(facet_field)
        if shard_facets == 0:
            if top_n <= 0:
                raise ValueError("shard_facets=0 (reference default 10*top_n) needs top_n > 0")
            shard_facets = 10 * top_n
        matches = self.match_ids(req).select("shard", "doc_id")
        matches, skipped = self._facet_hits_guard(matches, max_total_hits, max_shard_hits)
        if skipped:
            return None, None
        j = self._facet_scalar(
            matches.join(self.tables.doc_map, ["shard", "doc_id"]), facet_field
        )
        per = j.groupBy("shard", F.col(facet_field).alias("value")).agg(
            F.count(F.lit(1)).alias("cnt")
        ).where(F.col("value").isNotNull())
        if shard_facets > 0:
            w = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("value"))
            per = (
                per.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= shard_facets)
                .drop("_rn")
            )
        rows = per.collect()
        by_shard: dict[int, list[tuple[str, int]]] = {s: [] for s in self._shard_counts}
        for r in rows:
            by_shard.setdefault(int(r["shard"]), []).append((str(r["value"]), int(r["cnt"])))
        counts: dict[str, int] = {}
        shards_returned: dict[str, set[int]] = {}
        full_results: set[int] = set()
        min_for_shard: dict[int, int] = {}
        for s, lst in by_shard.items():
            lst.sort(key=lambda t: (-t[1], t[0]))
            for v, c in lst:
                counts[v] = counts.get(v, 0) + c
                shards_returned.setdefault(v, set()).add(s)
            if len(lst) < shard_facets or shard_facets == -1:
                full_results.add(s)
                min_for_shard[s] = 0
            elif lst:
                min_for_shard[s] = lst[-1][1]
        n_shards = len(by_shard)
        max_value_possible_missing = sum(min_for_shard.values())
        compute_error = top_n > 0 and shard_facets > 0 and n_shards > 1
        compute_possible_missing = compute_error and max_value_possible_missing != 0
        out = []
        min_count_returned = 0
        n_out = 0
        for v, c in sorted(counts.items(), key=lambda t: (-t[1], t[0])):
            reported = shards_returned.get(v, set()) | full_results
            max_error = 0
            if compute_error:
                max_error = sum(
                    m for s, m in min_for_shard.items() if s not in reported
                )
            n_out += 1
            if top_n > 0 and n_out > top_n:
                if compute_possible_missing:
                    max_value_possible_missing = max(
                        max_value_possible_missing, c + max_error
                    )
                    continue
                break
            out.append((v, c, max_error))
            min_count_returned = c
        flags = {"possibleMissing": False, "maxValuePossibleMissing": 0}
        if counts and max_value_possible_missing > min_count_returned:
            flags = {
                "possibleMissing": True,
                "maxValuePossibleMissing": max_value_possible_missing,
            }
        spark = self.tables.doc_map.sparkSession
        df = spark.createDataFrame(
            out or [], schema="value string, cnt bigint, max_error bigint"
        )
        return df, flags

    def stat_facets_sharded(
        self,
        req: SearchRequest,
        facet_field: str,
        stat_field: str,
        top_n: int = 10,
        shard_facets: int = 0,
        max_total_hits: int = 0,
        max_shard_hits: int = 0,
    ):
        """Distributed stat-facet merge with per-label sum-error
        bounds — the reference's StatCombiner (StatCombiner.java;
        StatCombinerTest): each shard reports only its top
        ``shard_facets`` labels BY SUM; the combiner adds
        sums/counts, combines min/max, bounds each label's sum
        undercount (maxSumError = Σ min-returned-sum of shards that
        did NOT report it) and flags it ``has_error``.
        ``shard_facets=-1`` reports full per-shard lists (exact
        merge, error 0); 0 takes the reference default of 10 × top_n
        (QueryRequestValidator.java:50-56). `stat_facets` stays the
        exact global groupBy; this surface exists for protocol
        parity and for callers that cap per-shard work.

        Scale shape: identical to `facet_counts_sharded` —
        `groupBy(shard, value)` partial-aggregates map-side, the
        per-shard cut is a window WITHIN the shard partition (no
        second shuffle), and only shards × shard_facets rows reach
        the driver for the combiner walk.
        """
        from pyspark.sql import Window

        self._require_stored(facet_field, stat_field)
        if shard_facets == 0:
            if top_n <= 0:
                raise ValueError(
                    "shard_facets=0 (reference default 10*top_n) needs top_n > 0"
                )
            shard_facets = 10 * top_n
        matches = self.match_ids(req).select("shard", "doc_id")
        matches, skipped = self._facet_hits_guard(matches, max_total_hits, max_shard_hits)
        if skipped:
            return None
        j = self._facet_scalar(
            matches.join(self.tables.doc_map, ["shard", "doc_id"]), facet_field
        )
        c = F.col(stat_field).cast("double")
        per = (
            j.where(F.col(facet_field).isNotNull())
            .groupBy("shard", F.col(facet_field).alias("value"))
            .agg(
                F.sum(c).alias("sum_v"),
                F.count(c).alias("count_v"),
                F.min(c).alias("min_v"),
                F.max(c).alias("max_v"),
                F.count(F.lit(1)).alias("all_doc_count"),
            )
        )
        if shard_facets > 0:
            w = Window.partitionBy("shard").orderBy(
                F.desc_nulls_last("sum_v"), F.asc("value")
            )
            per = (
                per.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= shard_facets)
                .drop("_rn")
            )
        rows = per.collect()
        by_shard: dict[int, list] = {s: [] for s in self._shard_counts}
        for r in rows:
            by_shard.setdefault(int(r["shard"]), []).append(r)
        agg: dict[str, dict] = {}
        shards_returned: dict[str, set[int]] = {}
        full_results: set[int] = set()
        min_sum_for_shard: dict[int, float] = {}
        for s, lst in by_shard.items():
            lst.sort(key=lambda r: (-(r["sum_v"] if r["sum_v"] is not None else float("-inf")), r["value"]))
            for r in lst:
                v = str(r["value"])
                e = agg.setdefault(
                    v,
                    {"sum_v": None, "count_v": 0, "min_v": None, "max_v": None,
                     "all_doc_count": 0},
                )
                if r["sum_v"] is not None:
                    e["sum_v"] = (e["sum_v"] or 0.0) + float(r["sum_v"])
                e["count_v"] += int(r["count_v"])
                for k, pick in (("min_v", min), ("max_v", max)):
                    if r[k] is not None:
                        e[k] = float(r[k]) if e[k] is None else pick(e[k], float(r[k]))
                e["all_doc_count"] += int(r["all_doc_count"])
                shards_returned.setdefault(v, set()).add(s)
            if len(lst) < shard_facets or shard_facets == -1:
                full_results.add(s)
                min_sum_for_shard[s] = 0.0
            elif lst:
                min_sum_for_shard[s] = float(lst[-1]["sum_v"] or 0.0)
        compute_error = shard_facets > 0 and len(by_shard) > 1
        out = []
        for v, e in agg.items():
            reported = shards_returned.get(v, set()) | full_results
            missing = [s for s in min_sum_for_shard if s not in reported]
            max_sum_error = (
                float(sum(min_sum_for_shard[s] for s in missing)) if compute_error else 0.0
            )
            out.append(
                (v, e["sum_v"], e["count_v"], e["count_v"], e["all_doc_count"],
                 e["min_v"], e["max_v"], max_sum_error,
                 bool(compute_error and missing))
            )
        out.sort(key=lambda t: (-(t[1] if t[1] is not None else float("-inf")), t[0]))
        cut = self._facet_top_n(top_n)
        if cut is not None:
            out = out[:cut]
        spark = self.tables.doc_map.sparkSession
        return spark.createDataFrame(
            out or [],
            schema=(
                "value string, sum_v double, count_v bigint, doc_count bigint, "
                "all_doc_count bigint, min_v double, max_v double, "
                "max_sum_error double, has_error boolean"
            ),
        )

    def facet_path_counts(
        self,
        req: SearchRequest,
        facet_field: str,
        path: tuple[str, ...] = (),
        top_n: int = 10,
        separator: str = "/",
        max_total_hits: int = 0,
        max_shard_hits: int = 0,
    ):
        """Hierarchical facet counts: top-N CHILDREN of ``path``.

        The reference splits facet values into path components and
        counts per taxonomy child (ShardDocumentIndexer
        .generateFacetLabels:480-577 facetPathSplitter; query side
        getTopChildren). Here the path algebra is Spark array
        expressions over the stored column — no taxonomy sidecar
        index is needed because Parquet+codegen make the split
        free at scan time. A doc counts ONCE per distinct child
        (handleListsUniqueValues semantics), including multi-valued
        (array) facet columns.
        """
        self._require_stored(facet_field)
        matches = self.match_ids(req).select("shard", "doc_id")
        matches, skipped = self._facet_hits_guard(matches, max_total_hits, max_shard_hits)
        if skipped:
            return None
        j = matches.join(self.tables.doc_map, ["shard", "doc_id"])
        col = F.col(facet_field)
        if dict(self.tables.doc_map.dtypes).get(facet_field, "").startswith("array"):
            col = F.explode(col)
        parts = F.split(col, separator)
        j = j.select("shard", "doc_id", parts.alias("parts"))
        depth = len(path)
        if depth:
            want = F.array(*[F.lit(p) for p in path])
            j = j.filter(
                (F.size("parts") > depth) & (F.slice("parts", 1, depth) == want)
            )
        else:
            j = j.filter(F.size("parts") > 0)
        child = F.col("parts")[depth]
        out = (
            j.select("shard", "doc_id", child.alias("value"))
            .distinct()  # one count per doc per distinct child
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("value"))
        )
        cut = self._facet_top_n(top_n)
        return out if cut is None else out.limit(cut)

    def drill_down_predicate(
        self, facet_field: str, path: tuple[str, ...], separator: str = "/"
    ) -> str:
        """SQL predicate matching docs whose facet value has ``path``
        as a component prefix — the reference's drill-down term on
        the $facets field (ZuliaIndex.java:723-761; hierarchical dims
        index every ancestor prefix). Compose with search_docvalues
        for drill-down + scored search."""
        esc = [p.replace("'", "''") for p in path]
        arr = "array(" + ", ".join(f"'{p}'" for p in esc) + ")"
        return (
            f"size(split(`{facet_field}`, '{separator}')) >= {len(path)} AND "
            f"slice(split(`{facet_field}`, '{separator}'), 1, {len(path)}) = {arr}"
        )

    def drill_downs_predicate(
        self, drilldowns: Sequence[DrillDown], separator: str = "/"
    ) -> str:
        """Combined SQL predicate for a full drill-down list
        (ZuliaIndex.getQuery:726-758). Per DrillDown: OR builds SHOULD
        clauses over the values with ``setMinimumNumberShouldMatch(mm)``
        semantics (mm=0 on a pure-SHOULD boolean requires >=1; mm
        greater than the clause count matches nothing, Lucene's
        BooleanQuery rewrite); AND requires every value (and any mm>0
        with zero SHOULD clauses also matches nothing). Each group is
        attached FILTER, or MUST_NOT when ``exclude`` — in predicate
        algebra NOT(group) over all docs, so the reference's
        all-negative MatchAll fix-up (:754-756) is implicit. Value
        predicates are coalesced to false so docs without the facet
        column match excludes (Lucene MUST_NOT only rejects docs that
        HAVE the term)."""
        parts: list[str] = []
        for dd in drilldowns:
            terms = [
                f"coalesce(({self.drill_down_predicate(dd.label, tuple(v), separator)}), false)"
                for v in dd.values
            ]
            if dd.operator == "OR":
                need = max(1, dd.mm)
                if need > len(terms):
                    inner = "false"
                elif need == 1:
                    inner = "(" + " OR ".join(terms) + ")"
                else:
                    hits = " + ".join(f"(CASE WHEN {t} THEN 1 ELSE 0 END)" for t in terms)
                    inner = f"(({hits}) >= {need})"
            else:  # AND: every value MUST; mm>0 with no SHOULD = no match
                inner = "false" if dd.mm > 0 else "(" + " AND ".join(terms) + ")"
            parts.append(f"(NOT {inner})" if dd.exclude else inner)
        return " AND ".join(parts) if parts else "true"

    def numeric_stats(
        self,
        req: SearchRequest,
        stat_field: str,
        max_total_hits: int = 0,
        max_shard_hits: int = 0,
    ):
        """min/max/sum + the reference's three counts over the match
        set (Stats.java:20-100; StatFacetNoValueTest semantics):
        ``count_v`` = values seen (multivalued fields count every
        element), ``doc_count`` = docs with ≥1 value, ``all_doc_count``
        = every matched doc whether or not it has the field. Scalar
        and array<numeric> stat columns both work — arrays aggregate
        element-wise without an explode. StatRequest carries the same
        maxTotalHitsForFacet guard as facets (skip → None)."""
        matches = self.match_ids(req).select("shard", "doc_id")
        matches, skipped = self._facet_hits_guard(matches, max_total_hits, max_shard_hits)
        if skipped:
            return None
        joined = matches.join(self.tables.doc_map, ["shard", "doc_id"], "inner")
        c = F.col(stat_field)
        dtype = dict(self.tables.doc_map.dtypes).get(stat_field, "")
        if dtype.startswith("array"):
            has = c.isNotNull() & (F.size(c) > 0)
            return joined.agg(
                F.min(F.array_min(c)).alias("min_v"),
                F.max(F.array_max(c)).alias("max_v"),
                F.sum(
                    F.aggregate(
                        F.coalesce(c, F.array()),
                        F.lit(0.0),
                        lambda acc, x: acc + x.cast("double"),
                    )
                ).alias("sum_v"),
                F.sum(F.when(c.isNotNull(), F.size(c)).otherwise(0)).alias("count_v"),
                F.sum(has.cast("long")).alias("doc_count"),
                F.count(F.lit(1)).alias("all_doc_count"),
            )
        return joined.agg(
            F.min(c).alias("min_v"),
            F.max(c).alias("max_v"),
            F.sum(c).alias("sum_v"),
            F.count(c).alias("count_v"),
            F.count(c).alias("doc_count"),
            F.count(F.lit(1)).alias("all_doc_count"),
        )

    def get_terms(
        self,
        field: str,
        start_term: str | None = None,
        end_term: str | None = None,
        min_doc_freq: int = 0,
        min_term_freq: int = 0,
        term_filter_regex: str | None = None,
        include_terms: tuple[str, ...] = (),
        fuzzy_term: tuple[str, int] | None = None,
        amount: int = 0,
    ):
        """Term dictionary enumeration (GetTerms, ShardTermsHandler.java:47-204).

        Per-shard df/ttf are summed across shards, filtered by range /
        regex / minDocFreq / minTermFreq, ordered by term — the Spark
        plan is exactly the reference's seek + merge federation
        (GetTermsRequestFederator) as one groupBy. ``include_terms``
        restricts to exact point lookups (GetTermsRequest.includeTerm)
        and ``fuzzy_term=(term, max_edits)`` enumerates the dictionary
        within edit distance (FuzzyTerm, ShardTermsHandler.java:95-120)
        — the length band prunes the scan before levenshtein runs.
        """
        df = self.tables.term_stats.filter(F.col("field") == field)
        if start_term is not None:
            df = df.filter(F.col("term") >= start_term)
        if end_term is not None:
            df = df.filter(F.col("term") < end_term)
        if term_filter_regex:
            df = df.filter(F.col("term").rlike(term_filter_regex))
        if include_terms:
            df = df.filter(F.col("term").isin(list(include_terms)))
        if fuzzy_term is not None:
            t, edits = fuzzy_term
            df = df.filter(F.length("term").between(len(t) - edits, len(t) + edits))
            df = df.filter(F.levenshtein(F.col("term"), F.lit(t)) <= edits)
        out = df.groupBy("term").agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
        if min_doc_freq > 0:
            out = out.filter(F.col("df") >= min_doc_freq)
        if min_term_freq > 0:
            out = out.filter(F.col("ttf") >= min_term_freq)
        out = out.orderBy("term")
        return out.limit(amount) if amount else out

    def fetch(
        self,
        unique_ids,
        fetch_type: str = "FULL",
        document_fields: tuple[str, ...] = (),
        document_masked_fields: tuple[str, ...] = (),
    ):
        """Fetch/BatchFetch with result shaping (zulia_service
        .proto:158-209; FetchType + documentFields/documentMaskedFields
        :71-73; projection/masking ResultHelper semantics):

        - ``NONE``  → ids only (uniqueId, shard, doc_id)
        - ``META``  → ids + metadata (content_sha256)
        - ``FULL``  → all stored fields, optionally projected to
          ``document_fields`` and then stripped of
          ``document_masked_fields`` (masking wins on overlap)

        Returns a DataFrame; the id set is broadcast against doc_map
        (point lookups stay O(ids), not O(corpus)).
        """
        spark = self.tables.doc_map.sparkSession
        ids_df = spark.createDataFrame([(str(u),) for u in unique_ids], "uniqueId string")
        # LIVE docs only: the reference fetches through an id
        # TermQuery on the IndexSearcher, so a deleted uniqueId
        # fetches nothing (liveDocs)
        j = self._live_doc_map().join(F.broadcast(ids_df), "uniqueId")
        meta_cols = ["uniqueId", "shard", "doc_id"]
        all_cols = self.tables.doc_map.columns
        ft = fetch_type.upper()
        if ft == "NONE":
            return j.select(*meta_cols)
        if ft == "META":
            extra = [c for c in ("content_sha256",) if c in all_cols]
            return j.select(*meta_cols, *extra)
        if ft != "FULL":
            raise ValueError(f"unknown fetch type {fetch_type}")
        # internal engine columns (_zcl_/_zll_ length meta, _zvq_/_zvs_/
        # _zvn_ quantized vectors, _ztsf_ store timestamp) are never
        # part of the stored document — the reference keeps them as
        # separate Lucene fields outside the _zsdf_ stored doc — so
        # FULL returns user fields only unless one is named explicitly
        cols = [c for c in all_cols if c not in meta_cols and not c.startswith("_z")]
        if document_fields:
            cols = [c for c in all_cols if c in document_fields and c not in meta_cols]
        if document_masked_fields:
            cols = [c for c in cols if c not in document_masked_fields]
        return j.select(*meta_cols, *cols)

    def search_docvalues(self, req: SearchRequest, predicate: str, amount: int = 10) -> dict:
        """Search with a doc-values predicate over stored columns.

        The reference's IndexOrDocValuesQuery path (SetQueryHelper.java:
        45-106; numeric ranges ZuliaPointRangeQueryNodeBuilder): range/
        set predicates on non-inverted fields evaluate against doc
        values instead of postings. Here the request's tree gains one
        MUST doc-values leaf holding ``predicate`` (it adds no score)
        and runs as :meth:`search` does — one kernel action, so
        ``start``, ``last_result``, tombstones and the result shape
        behave exactly as on any other request.
        """
        import dataclasses

        tree = self._resolve_request(req)
        must = (_MUST, RLeaf((DocValuesSpec(predicate),), conj=False, boost=1.0))
        if tree_has_positive_leaf(tree):
            tree = RBool(((_MUST, tree), must))
        else:
            # pure negation: its match-all fix-up applies at the root
            tree = RBool((*tree.children, must), tree.mm, tree.boost)
        req = dataclasses.replace(req, amount=amount)
        return self._search_resolved({"q": (req, tree)})["q"]

    def search_numeric_set(
        self,
        req: SearchRequest,
        field: str,
        values,
        negate: bool = False,
        amount: int = 10,
    ) -> dict:
        """NUMERIC_SET / NUMERIC_SET_NOT typed clause
        (zulia_query.proto:39-51 QueryType; SetQueryHelper
        .getNumericSetQuery:24-89): ``field ∈ {values}`` as a
        filter-occur clause over doc values, composed with the
        request's boolean clauses. NUMERIC_SET_NOT follows Lucene
        MUST_NOT semantics: docs WITHOUT the field are not excluded
        (SQL NOT IN alone would drop NULLs, so they are re-admitted
        explicitly)."""
        vals = ", ".join(repr(v) for v in values)
        if negate:
            pred = f"(`{field}` IS NULL OR `{field}` NOT IN ({vals}))"
        else:
            pred = f"`{field}` IN ({vals})"
        return self.search_docvalues(req, pred, amount=amount)

    def search_vector(
        self,
        req: SearchRequest,
        vector,
        vector_field: str,
        k: int = 10,
        should: bool = False,
        amount: int | None = None,
    ) -> dict:
        """VECTOR / VECTOR_SHOULD clause composed with the boolean
        query (handleVectorQuery, ZuliaIndex.java:566-615): the
        request's match set is the KNN pre-filter of the one KNN
        ranker (:meth:`_knn_top_rows`), and:

        - ``should=False`` (VECTOR): only the top-k docs by cosine
          remain matched; each scores bm25 + cosine;
        - ``should=True`` (VECTOR_SHOULD): matching is unchanged; the
          k ranked rows are collected and broadcast-joined onto the
          match set, adding their cosine to its scores.

        A request with no clauses and no query string has no
        pre-filter (the reference injects MatchAll, :693-695): the
        ranker takes every live doc, and :meth:`match_ids` answers the
        empty request with every live doc.
        """
        amount = amount or k
        _require_nonzero_query_vector(vector)
        matches = self.match_ids(req)
        filtered = bool(req.clauses) or req.qs is not None
        knn = self._knn_top_rows(
            vector, vector_field, k, allowed=matches if filtered else None
        )
        if not should:
            out = [
                {
                    "shard": r["shard"],
                    "doc_id": r["doc_id"],
                    "uniqueId": r["uniqueId"],
                    "score": r["score"] + r["cosine"],
                }
                for r in knn
            ]
            out.sort(key=lambda t: (-t["score"], t["shard"], t["doc_id"]))
            return {"totalHits": len(out), "topk": out[:amount]}
        # SHOULD-occur KNN (ZuliaIndex.java:802-805 composes the knn
        # query as a BooleanClause.Occur.SHOULD inside one Lucene
        # query): the merged ranking is ordered + limited IN-PLAN — no
        # driver-side collect of the match set, so a broad boolean
        # pre-filter stays distributed (TakeOrderedAndProject does the
        # global top-amount). Two actions read it (totalHits, the
        # page), so the narrow 4-column frame is persisted once rather
        # than running the kernel per action.
        knn_df = self.tables.doc_map.sparkSession.createDataFrame(
            [(r["shard"], r["doc_id"], r["cosine"]) for r in knn],
            "shard int, doc_id long, _knn double",
        )
        merged = (
            matches.join(
                self.tables.doc_map.select("shard", "doc_id", "uniqueId"),
                ["shard", "doc_id"],
            )
            .join(F.broadcast(knn_df), ["shard", "doc_id"], "left")
            .select(
                "shard",
                "doc_id",
                "uniqueId",
                (F.col("score") + F.coalesce(F.col("_knn"), F.lit(0.0))).alias("score"),
            )
            .persist()
        )
        try:
            total = merged.count()
            rows = (
                merged.orderBy(F.desc("score"), F.asc("shard"), F.asc("doc_id"))
                .limit(amount)
                .collect()
            )
        finally:
            merged.unpersist()
        out = [
            {
                "shard": int(r["shard"]),
                "doc_id": int(r["doc_id"]),
                "uniqueId": r["uniqueId"],
                "score": float(r["score"]),
            }
            for r in rows
        ]
        return {"totalHits": total, "topk": out}

    def _sort_key_expr(self, col: str):
        """Resolve a sort field name to its column expression,
        including the implicit sort fields of the reference
        (SortTest zuliaSort/lengthSort; ServerIndexConfigData.java:
        140-149 registers them):

        - ``zuliaScore`` → the query score (Sort(SCORE_FIELD))
        - ``zuliaId`` → the uniqueId string (ID_SORT_FIELD)
        - ``|||field|||`` / ``|field|`` → list-length / char-length
          meta values (Sort("|||stringList|||")); an unknown base
          field raises, like the reference's sort validation
          (SortTest lengthSort asserts |||madeUp||| throws)
        """
        if col == "zuliaScore":
            return F.col("zuliaScore")
        if col == "zuliaId":
            return F.col("uniqueId")
        from zuliasearch_spark.search.parser import _meta_field

        meta = _meta_field(col)
        dm = self.tables.doc_map.columns
        if meta != col:
            # length-meta sort: stored meta column when the index
            # wrote one, else computed on the fly from the stored col
            if meta in dm:
                return F.col(meta)
            base = col.strip("|")
            if base not in dm:
                raise ValueError(
                    f"cannot sort on {col!r}: field {base!r} is not stored"
                )
            dt = dict(self.tables.doc_map.dtypes)[base]
            if col.startswith("|||"):
                return F.size(base) if dt.startswith("array") else F.when(
                    F.col(base).isNull(), None
                ).otherwise(F.lit(1))
            return (
                F.transform(F.col(base), lambda x: F.length(x))
                if dt.startswith("array")
                else F.length(F.col(base).cast("string"))
            )
        if col not in dm:
            raise ValueError(f"cannot sort on unknown field {col!r}")
        return F.col(col)

    def sort_search(
        self,
        req: SearchRequest,
        sort_col: str | None = None,
        ascending: bool = True,
        amount: int = 10,
        tiebreak: tuple[str, ...] = ("shard", "doc_id"),
        missing_last: bool = True,
        sort_keys: tuple[tuple, ...] | None = None,
        after: tuple | None = None,
    ):
        """Field-sorted results (SortTest semantics, ShardReader
        .buildSortFromSortRequest:605-697): typed sort on stored
        columns with missingLast + deterministic tiebreak — Catalyst
        TakeOrderedAndProject does the distributed top-k.

        ``sort_keys`` is the multi-key form (the reference's repeated
        FieldSort list): tuples ``(col, ascending, missing_last[,
        selector])`` applied in order. ``selector`` — "MIN" | "MAX" —
        picks the sort value out of a multivalued (array) stored
        column, Lucene's SortedNumericSelector/SortedSetSelector
        semantics for multivalued fields.

        ``after`` is the field-sort searchAfter cursor (the
        reference's LastResult sortValues → Lucene
        searchAfter(FieldDoc), ZuliaIndex.java:1034-1104;
        ShardReader.java:289-307): the previous page's last row as
        ``(sort values…, tiebreak values…)`` — build it with
        :meth:`sort_cursor`. It compiles to a lexicographic
        strictly-after predicate FILTERED BEFORE the top-k, so deep
        pages prune in-scan instead of re-sorting everything Spark
        already returned."""
        if sort_keys is None:
            if sort_col is None:
                raise ValueError("sort_search needs sort_col or sort_keys")
            sort_keys = ((sort_col, ascending, missing_last),)
        needs_score = any(spec[0] == "zuliaScore" for spec in sort_keys)
        matches = self.match_ids(req).select(
            "shard", "doc_id", *( [F.col("score").alias("zuliaScore")] if needs_score else [] )
        )
        j = matches.join(self.tables.doc_map, ["shard", "doc_id"])
        keys = []
        exprs = []  # (col_expr, asc, nulls_last) per sort key
        for spec in sort_keys:
            col, asc, mlast = spec[0], spec[1], spec[2]
            selector = spec[3] if len(spec) > 3 else None
            c = self._sort_key_expr(col)
            if selector is not None:
                sel = selector.upper()
                if sel == "MIN":
                    c = F.array_min(c)
                elif sel == "MAX":
                    c = F.array_max(c)
                else:
                    raise ValueError(f"unknown multivalued selector {selector!r}")
            exprs.append((c, asc, mlast))
            if asc:
                keys.append(c.asc_nulls_last() if mlast else c.asc_nulls_first())
            else:
                keys.append(c.desc_nulls_last() if mlast else c.desc_nulls_first())
        if after is not None:
            expect = len(sort_keys) + len(tiebreak)
            if len(after) != expect:
                raise ValueError(
                    f"after cursor needs {expect} values (sort keys + tiebreak)"
                )
            j = j.filter(_sort_after_predicate(exprs, tiebreak, tuple(after)))
        return j.orderBy(*keys, *[F.asc(t) for t in tiebreak]).limit(amount)

    @staticmethod
    def sort_cursor(row, sort_keys, tiebreak: tuple[str, ...] = ("shard", "doc_id")):
        """Build the ``after`` cursor for :meth:`sort_search` from the
        previous page's last Row — the LastResult.sortValues
        equivalent (zulia_query.proto LastResult; selectors re-apply
        so the cursor holds the COMPARED value, like Lucene FieldDoc
        .fields)."""
        from zuliasearch_spark.search.parser import _meta_field

        vals = []
        for spec in sort_keys:
            col = spec[0]
            if col == "zuliaId":
                v = row["uniqueId"]
            elif _meta_field(col) != col:
                # length-meta cursor value: recompute from whichever
                # column the page carried (meta column or stored col)
                meta = _meta_field(col)
                if meta in row.__fields__:
                    v = row[meta]
                else:
                    base = row[col.strip("|")]
                    if base is None:
                        v = None
                    elif col.startswith("|||"):
                        v = len(base) if isinstance(base, (list, tuple)) else 1
                    elif isinstance(base, (list, tuple)):
                        v = [len(str(x)) for x in base]
                    else:
                        v = len(str(base))
            else:
                v = row[col]
            selector = spec[3] if len(spec) > 3 else None
            if selector is not None and v is not None:
                v = min(v) if selector.upper() == "MIN" else max(v)
            vals.append(v)
        return tuple(vals) + tuple(row[t] for t in tiebreak)

    def geo_sort(
        self,
        req: SearchRequest,
        geo_field: str,
        lat: float,
        lon: float,
        amount: int = 10,
        ascending: bool = True,
        tiebreak: tuple[str, ...] = ("shard", "doc_id"),
    ):
        """Distance sort from a query point (geodist sort,
        ShardReader.buildSortFromSortRequest geo branch :618-640 →
        LatLonDocValuesField.newDistanceSort): haversine meters over
        the stored [lat, lon] doc-values column, Catalyst
        TakeOrderedAndProject for the distributed top-k. Docs without
        the field sort last."""
        matches = self.match_ids(req).select("shard", "doc_id")
        j = matches.join(self.tables.doc_map, ["shard", "doc_id"])
        dist = F.expr(_haversine_sql(geo_field, lat, lon))
        j = j.withColumn("geo_dist_m", F.round(dist, 3))
        key = (
            F.col("geo_dist_m").asc_nulls_last()
            if ascending
            else F.col("geo_dist_m").desc_nulls_last()
        )
        return j.orderBy(key, *[F.asc(t) for t in tiebreak]).limit(amount)

    def search_score_function(self, req: SearchRequest, expr: str, amount: int = 10):
        """Score-function search (handleScoreFunction:837-903): an
        arithmetic expression over `score` and numeric doc-value
        columns re-ranks the match set — the reference compiles the
        expression with Lucene's JavascriptCompiler; Catalyst's
        `F.expr` is the same sandboxed scalar language for free.

        ``geodist(field, lat, lon)`` terms are rewritten to the
        haversine SQL in KILOMETERS, mirroring the reference's
        pre-processing of geodist() into GeoDistanceValuesSource
        bindings divided by 1000 (ZuliaIndex.java:841-864)."""
        import re as _re

        def _geodist_sub(m: "._re.Match") -> str:
            fld = m.group(1).strip()
            lat = float(m.group(2))
            lon = float(m.group(3))
            return f"({_haversine_sql(fld, lat, lon)} / 1000.0)"

        expr = _re.sub(
            r"geodist\(\s*([A-Za-z_][\w.]*)\s*,\s*(-?[\d.]+)\s*,\s*(-?[\d.]+)\s*\)",
            _geodist_sub,
            expr,
        )
        matches = self.match_ids(req)
        j = matches.join(self.tables.doc_map, ["shard", "doc_id"])
        return (
            j.withColumn("fscore", F.expr(expr))
            .orderBy(F.desc("fscore"), F.asc("shard"), F.asc("doc_id"))
            .limit(amount)
        )

    def stat_facets(
        self,
        req: SearchRequest,
        facet_field: str,
        stat_field: str,
        top_n: int = 10,
        max_total_hits: int = 0,
        max_shard_hits: int = 0,
    ):
        """Numeric stats per facet value over the match set
        (stat facets, zulia_query.proto:112-121; accumulation
        MapStatOrdinalStorage.java) — top-N facets by sum.

        Carries the reference's three counts (Stats.java:20-100;
        StatFacetNoValueTest): ``count_v`` = values seen, ``doc_count``
        = docs with ≥1 value, ``all_doc_count`` = every matched doc
        carrying the facet label — so a label whose docs have NO stat
        values still appears, with count_v/doc_count 0 and null
        min/max/sum (it ranks after valued labels, nulls-last). Array
        stat columns aggregate element-wise without an explode.
        Honors the maxTotalHits/maxShardHits skip guard (→ None)."""
        self._require_stored(facet_field, stat_field)
        matches = self.match_ids(req).select("shard", "doc_id")
        matches, skipped = self._facet_hits_guard(matches, max_total_hits, max_shard_hits)
        if skipped:
            return None
        j = self._facet_scalar(
            matches.join(self.tables.doc_map, ["shard", "doc_id"]), facet_field
        )
        c = F.col(stat_field)
        dtype = dict(self.tables.doc_map.dtypes).get(stat_field, "")
        if dtype.startswith("array"):
            has = c.isNotNull() & (F.size(c) > 0)
            aggs = [
                F.min(F.array_min(c)).alias("min_v"),
                F.max(F.array_max(c)).alias("max_v"),
                F.sum(
                    F.when(
                        has,
                        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double")),
                    )
                ).alias("sum_v"),
                F.sum(F.when(c.isNotNull(), F.size(c)).otherwise(0)).alias("count_v"),
                F.sum(has.cast("long")).alias("doc_count"),
                F.count(F.lit(1)).alias("all_doc_count"),
            ]
        else:
            aggs = [
                F.min(c).alias("min_v"),
                F.max(c).alias("max_v"),
                F.sum(c).alias("sum_v"),
                F.count(c).alias("count_v"),
                F.count(c).alias("doc_count"),
                F.count(F.lit(1)).alias("all_doc_count"),
            ]
        out = (
            j.where(F.col(facet_field).isNotNull())
            .groupBy(F.col(facet_field).alias("value"))
            .agg(*aggs)
            .orderBy(F.desc_nulls_last("sum_v"), F.asc("value"))
        )
        cut = self._facet_top_n(top_n)
        return out if cut is None else out.limit(cut)

    def percentile_stats(self, req: SearchRequest, stat_field: str, percentiles=(0.25, 0.5, 0.75, 0.95)):
        """Exact percentiles over the match set. The reference sketches
        these with DDSketch (relative error, Stats.java:20-28,
        StatCombiner.java:183-223); a Spark groupBy computes them
        EXACTLY in one pass, so the sketch's error budget is moot —
        use percentile_approx only when a single column exceeds
        executor memory."""
        matches = self.match_ids(req).select("shard", "doc_id")
        j = matches.join(self.tables.doc_map, ["shard", "doc_id"])
        aggs = [
            F.expr(f"percentile({stat_field}, {p})").alias(f"p{int(p * 100)}") for p in percentiles
        ]
        return j.agg(*aggs)

    def percentile_sketch_stats(
        self,
        req: SearchRequest,
        stat_field: str,
        percentiles=(0.25, 0.5, 0.75, 0.95),
        precision: float = 0.01,
    ):
        """DDSketch percentiles over the match set — the reference's
        actual algorithm (Stats.java:20-28 `DDSketches.unboundedDense
        (precision)`, StatCombiner.java:183-223 merge +
        `getValueAtQuantile`). A DDSketch is log-bucket counts at
        relative accuracy alpha: bucket(v) = ceil(ln|v| / ln(gamma)),
        gamma = (1+alpha)/(1-alpha); quantile q reads the first bucket
        whose cumulative count exceeds rank q*(n-1) and returns the
        bucket midpoint 2*gamma^i/(gamma+1) (relative error <= alpha).

        Scale shape: per-partition bucketing is pure codegen
        (`F.ceil(F.log(...))`), the shard-sketch merge the reference
        does pairwise is one `groupBy(sign, bucket).count()` — partial
        map-side combine then a tiny shuffle of O(log(range)/alpha)
        rows. Only the merged bucket counts (a few thousand rows at
        any data size) reach the driver for the quantile walk, unlike
        `percentile_stats`' exact aggregate which buffers every value.
        """
        import math

        from pyspark.sql import Row

        gamma = (1.0 + precision) / (1.0 - precision)
        lg = math.log(gamma)
        matches = self.match_ids(req).select("shard", "doc_id")
        v = F.col(stat_field).cast("double")
        j = (
            matches.join(self.tables.doc_map, ["shard", "doc_id"])
            .select(v.alias("v"))
            .where(F.col("v").isNotNull())
        )
        sign = F.when(F.col("v") > 0, 1).when(F.col("v") < 0, -1).otherwise(0)
        bucket = F.when(
            F.col("v") != 0,
            F.ceil(F.log(F.abs(F.col("v"))) / F.lit(lg)).cast("long"),
        ).otherwise(F.lit(0))
        rows = (
            j.select(sign.alias("sign"), bucket.alias("bucket"))
            .groupBy("sign", "bucket")
            .count()
            .collect()
        )
        _, vals = _ddsketch_quantiles(
            [(r["sign"], r["bucket"], r["count"]) for r in rows], gamma, percentiles
        )
        out = {f"p{int(p * 100)}": v for p, v in zip(percentiles, vals)}
        spark = self.tables.doc_map.sparkSession
        schema = ", ".join(f"{k} double" for k in out)
        return spark.createDataFrame([Row(**out)], schema=schema)

    def stat_facet_percentiles(
        self,
        req: SearchRequest,
        facet_field: str,
        stat_field: str,
        percentiles=(0.5,),
        precision: float = 0.01,
        top_n: int = 10,
    ):
        """DDSketch percentiles PER FACET VALUE — the reference's stat
        facet with percentiles (StatRequest percentiles + facet field,
        zulia_query.proto:112-121; per-ordinal sketches merged in
        StatCombiner.java:183-223). Same log-bucket math as
        `percentile_sketch_stats`, grouped by facet: ONE
        `groupBy(facet, sign, bucket)` shuffle, then a per-facet
        quantile walk over the tiny bucket histogram. Facets ranked by
        value count descending (MapStatOrdinalStorage top-N by
        requested sort), ties by label.

        A facet label whose docs carry NO stat values still appears
        (StatFacetNoValueTest: docCount 0, allDocCount > 0, no
        percentiles → null percentile columns): null-v rows group
        under a null sign/bucket, contributing to ``all_doc_count``
        only. An empty shard contributes nothing rather than a
        default-instance sketch — the gamma=0 merge crash
        StatFacetNoValueTest reproduces in the reference cannot occur
        here because the merge is the groupBy itself."""
        import math

        gamma = (1.0 + precision) / (1.0 - precision)
        lg = math.log(gamma)
        matches = self.match_ids(req).select("shard", "doc_id")
        j = self._facet_scalar(
            matches.join(self.tables.doc_map, ["shard", "doc_id"]), facet_field
        )
        v = F.col(stat_field).cast("double")
        j = j.select(F.col(facet_field).alias("facet"), v.alias("v")).where(
            F.col("facet").isNotNull()
        )
        has = F.col("v").isNotNull()
        sign = F.when(~has, F.lit(None).cast("int")).when(F.col("v") > 0, 1).when(
            F.col("v") < 0, -1
        ).otherwise(0)
        bucket = F.when(
            has & (F.col("v") != 0),
            F.ceil(F.log(F.abs(F.col("v"))) / F.lit(lg)).cast("long"),
        ).when(has, F.lit(0)).otherwise(F.lit(None).cast("long"))
        rows = (
            j.select("facet", sign.alias("sign"), bucket.alias("bucket"))
            .groupBy("facet", "sign", "bucket")
            .count()
            .collect()
        )
        by_facet: dict[str, list] = {}
        for r in rows:
            by_facet.setdefault(str(r["facet"]), []).append(
                (None if r["sign"] is None else int(r["sign"]),
                 None if r["bucket"] is None else int(r["bucket"]),
                 int(r["count"]))
            )
        out_rows = []
        for facet, ent in by_facet.items():
            n, vals = _ddsketch_quantiles(ent, gamma, percentiles)
            out_rows.append((facet, n, sum(c for _, _, c in ent), *vals))
        out_rows.sort(key=lambda t: (-t[1], t[0]))
        cut = self._facet_top_n(top_n)
        if cut is not None:
            out_rows = out_rows[:cut]
        spark = self.tables.doc_map.sparkSession
        pcols = ", ".join(f"p{int(p * 100)} double" for p in percentiles)
        return spark.createDataFrame(
            out_rows or [],
            schema=f"value string, count_v bigint, all_doc_count bigint, {pcols}",
        )

    # ---- query-time analysis (AnalysisRequest surface) ----------------
    #
    # zulia_query.proto:260-286 AnalysisRequest: field, tokens, docTerms,
    # summaryTerms, topN, termSort (TFIDF|TF|ABC), min/maxWordLen,
    # min/maxShardFreq(Perc), analyzerOverride, summaryType
    # (ALL_TERMS_TOP_N | TOP_TERMS_TOP_N). Evaluated by
    # AnalysisHandler.java:44-209 per shard and merged by
    # QueryCombiner.java:208-235 (docFreq/score/termFreq summed across
    # shards, then one getTopTerms cut).

    def _analysis_stat_group(self):
        """Shard → stat-pool group column, the same pooling rule as
        BM25's ``_stat_peers``: per-shard (reference semantics),
        segmented (segment_stride), or one global pool when
        ``per_shard_stats=False`` (the SQL-oracle-checkable mode)."""
        if not self.config.per_shard_stats:
            return F.lit(0)
        stride = self.config.segment_stride
        if stride:
            return F.col("shard") % stride
        return F.col("shard")

    def _analysis_num_docs(self) -> dict[int, int]:
        """Live numDocs per stat group (DocFreq.java:29 uses
        shardReader.numDocs(), which excludes deletions)."""
        live = self.get_number_of_docs()
        if not self.config.per_shard_stats:
            return {0: sum(live.values())}
        stride = self.config.segment_stride
        out: dict[int, int] = {}
        for s, n in live.items():
            g = s % stride if stride else s
            out[g] = out.get(g, 0) + n
        return out

    @staticmethod
    def _group_map_expr(mapping: dict[int, int]):
        """CASE expression mapping stat_group → a per-group constant
        (thresholds / numDocs). Groups are few (≤ shards), so this
        stays whole-stage-codegen — no UDF, no join."""
        expr = F.lit(None).cast("long")
        for g, v in mapping.items():
            expr = F.when(F.col("stat_group") == g, F.lit(int(v))).otherwise(expr)
        return expr

    def _analysis_term_frame(
        self,
        req: SearchRequest,
        docs_df,
        join_on: list[str],
        text_col: str,
        id_col: str | None,
        analyzer_name: str,
        field: str,
        min_word_len: int = 0,
        max_word_len: int = 0,
        min_shard_freq: int = 0,
        max_shard_freq: int = 0,
        min_shard_freq_perc: float = 0.0,
        max_shard_freq_perc: float = 0.0,
        need_df: bool = False,
    ):
        """Filtered per-(doc, term) tf frame over the match set —
        the shared core of docTerms / summaryTerms
        (AnalysisHandler.handleDocument:117-167).

        Returns ``(frame, ndocs)``: columns (shard, stat_group, _aid,
        term, tf [, df]) where ``_aid`` is the caller's id column (or
        the internal doc_id), plus the live numDocs per stat group.
        Filter order mirrors the reference: word-length skips first
        (:128-137), then shard doc-freq bounds (:139-152) with
        percentage thresholds resolved to round(numDocs·perc)
        (DocFreq.getNumDocsForPercent) and absolute counts overriding
        percentages (AnalysisHandler ctor :70-84). docFreq itself is
        Lucene ``IndexReader.docFreq`` — the term_stats table as
        written, deletes NOT subtracted — while numDocs is live."""
        import pyarrow as pa

        from zuliasearch_spark.analysis.analyzers import term_freqs as _tfs

        settings = self.config.analyzer(analyzer_name)
        matched = self.match_ids(req).select("shard", "doc_id")
        # project doc_map to the join keys only: wide stored columns
        # (incl. a stored copy of the text) must not reach this join,
        # and duplicate column names with docs_df would be ambiguous
        dm = self.tables.doc_map.select("shard", "doc_id", *join_on)
        j = matched.join(dm, ["shard", "doc_id"]).join(docs_df, join_on)
        aid = id_col or "doc_id"

        def tok(batches):
            for rb in batches:
                names = rb.schema.names
                shards = rb.column(names.index("shard")).to_numpy(zero_copy_only=False)
                ids = rb.column(names.index(aid)).to_numpy(zero_copy_only=False)
                doc_idx, term_arr, tf, _dl = _tfs(rb.column(names.index(text_col)), settings)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(shards[doc_idx].astype("int32"), type=pa.int32()),
                        pa.array(ids[doc_idx].astype("int64"), type=pa.int64()),
                        term_arr.cast(pa.string()) if term_arr.type != pa.string() else term_arr,
                        pa.array(tf.astype("int64"), type=pa.int64()),
                    ],
                    names=["shard", "_aid", "term", "tf"],
                )

        cols = ["shard", aid, text_col] if aid != "doc_id" else ["shard", "doc_id", text_col]
        frame = j.select(*cols).mapInArrow(tok, "shard int, _aid long, term string, tf long")
        if min_word_len > 0:
            frame = frame.filter(F.length("term") >= min_word_len)
        if max_word_len > 0:
            frame = frame.filter(F.length("term") <= max_word_len)
        frame = frame.withColumn("stat_group", self._analysis_stat_group())
        ndocs = self._analysis_num_docs()

        lo = {
            g: (min_shard_freq or (int(round(n * min_shard_freq_perc)) if min_shard_freq_perc else 0))
            for g, n in ndocs.items()
        }
        hi = {
            g: (max_shard_freq or (int(round(n * max_shard_freq_perc)) if max_shard_freq_perc else 0))
            for g, n in ndocs.items()
        }
        freq_filter = any(lo.values()) or any(hi.values())
        if need_df or freq_filter:
            dfreq = (
                self.tables.term_stats.filter(F.col("field") == field)
                .withColumn("stat_group", self._analysis_stat_group())
                .groupBy("stat_group", "term")
                .agg(F.sum("df").alias("df"))
            )
            frame = frame.join(dfreq, ["stat_group", "term"], "left").withColumn(
                "df", F.coalesce(F.col("df"), F.lit(0))
            )
            if any(lo.values()):
                frame = frame.filter(F.col("df") >= self._group_map_expr(lo))
            if any(hi.values()):
                # a 0 threshold means "no bound" (proto default)
                cap = self._group_map_expr({g: v if v else (1 << 62) for g, v in hi.items()})
                frame = frame.filter(F.col("df") <= cap)
        return frame, ndocs

    @staticmethod
    def _analysis_order(term_sort: str):
        """ORDER BY for a TermSort (TermFreq.getTopTerms:73-97): TF →
        termFreq desc, TFIDF → score desc, ABC → value ascending.
        Reference ties are comparator-0 (arbitrary); we break by term
        ascending for determinism (documented deviation)."""
        if term_sort == "TF":
            return (F.desc("tf"), F.asc("term"))
        if term_sort == "TFIDF":
            return (F.desc("score"), F.asc("term"))
        if term_sort == "ABC":
            return (F.asc("term"),)
        raise ValueError(f"unknown termSort {term_sort!r}")

    def _analysis_score(self, tf_col, ndocs: dict[int, int]):
        """ClassicSimilarity tf·idf as float32 math (DocFreq
        .getScoreForTerm:43-45: ``tf(termFreq) · idf(docFreq,
        numDocs)``; both return Java floats, so each factor is rounded
        to float32 before the product)."""
        nd = self._group_map_expr(ndocs)
        idf = (F.log((nd + F.lit(1)).cast("double") / (F.col("df") + F.lit(1)).cast("double")) + F.lit(1.0)).cast("float")
        return (F.sqrt(tf_col.cast("double")).cast("float") * idf).cast("float").cast("double")

    def analysis_tokens(
        self,
        req: SearchRequest,
        docs_df,
        join_on: list[str],
        text_col: str,
        id_col: str,
        analyzer_name: str,
    ):
        """Raw ordered token stream per matched doc (AnalysisRequest
        .tokens, AnalysisHandler.java:124-126: every emitted token in
        document order, BEFORE the word-length / shard-freq filters).
        Returns (id, pos, token) with pos the emitted index."""
        import pyarrow as pa

        from zuliasearch_spark.analysis.analyzers import analyze_series as _an

        settings = self.config.analyzer(analyzer_name)
        matched = self.match_ids(req).select("shard", "doc_id")
        dm = self.tables.doc_map.select("shard", "doc_id", *join_on)
        j = matched.join(dm, ["shard", "doc_id"]).join(docs_df, join_on)

        def tok(batches):
            for rb in batches:
                names = rb.schema.names
                ids = rb.column(names.index(id_col)).to_numpy(zero_copy_only=False)
                texts = rb.column(names.index(text_col)).to_pandas()
                doc_idx, terms = _an(texts, settings)
                if len(doc_idx) == 0:
                    continue
                # within-doc position: arange minus each run's start
                # (doc_idx ascends in document order)
                starts = np.flatnonzero(np.diff(doc_idx, prepend=-1))
                run_start = np.zeros(len(doc_idx), dtype=np.int64)
                run_start[starts] = starts
                run_start = np.maximum.accumulate(run_start)
                pos = np.arange(len(doc_idx), dtype=np.int64) - run_start
                term_arr = terms if isinstance(terms, pa.Array) else pa.array(terms, type=pa.string())
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids[doc_idx].astype("int64"), type=pa.int64()),
                        pa.array(pos, type=pa.int64()),
                        term_arr.cast(pa.string()) if term_arr.type != pa.string() else term_arr,
                    ],
                    names=[id_col, "pos", "token"],
                )

        return j.select(id_col, text_col).mapInArrow(
            tok, f"{id_col} long, pos long, token string"
        )

    def analysis_summary(
        self,
        req: SearchRequest,
        docs_df,
        join_on: list[str],
        text_col: str,
        analyzer_name: str,
        top_n: int = 10,
        *,
        field: str | None = None,
        term_sort: str = "TFIDF",
        summary_type: str = "ALL_TERMS_TOP_N",
        min_word_len: int = 0,
        max_word_len: int = 0,
        min_shard_freq: int = 0,
        max_shard_freq: int = 0,
        min_shard_freq_perc: float = 0.0,
        max_shard_freq_perc: float = 0.0,
    ):
        """Query-time term summary over the match set (AnalysisRequest
        .summaryTerms, AnalysisHandler.java:44-209): RE-ANALYZE matched
        docs' text — exactly like the reference — then rank by
        ``termSort``.

        ALL_TERMS_TOP_N (proto default) accumulates every filtered
        token into the per-stat-group summary (:157-159);
        TOP_TERMS_TOP_N accumulates only each doc's topN terms
        (:169-177). Each group's TFIDF score is ClassicSimilarity
        sqrt(tf)·idf over the group's summed tf (TermFreq.getTopTerms
        :55-70 re-scores at shard-result time); the cross-shard merge
        then SUMS termFreq, docFreq and score per term and applies one
        final topN cut (QueryCombiner.java:208-235). topN == 0 returns
        all terms (TermFreq.getTopTerms:88-96).

        Output: (term, term_freq, doc_freq, score) in termSort order.
        """
        field = field or text_col
        frame, ndocs = self._analysis_term_frame(
            req, docs_df, join_on, text_col, None, analyzer_name, field,
            min_word_len, max_word_len, min_shard_freq, max_shard_freq,
            min_shard_freq_perc, max_shard_freq_perc, need_df=True,
        )
        if summary_type == "TOP_TERMS_TOP_N":
            from pyspark.sql import Window

            frame = frame.withColumn("score", self._analysis_score(F.col("tf"), ndocs))
            # (shard, _aid) is the document key — the internal doc_id is
            # only unique within a shard
            w = Window.partitionBy("shard", "_aid").orderBy(*self._analysis_order(term_sort))
            frame = (
                frame.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= top_n)
                .drop("_rn", "score")
            )
        elif summary_type != "ALL_TERMS_TOP_N":
            raise ValueError(f"unknown summaryType {summary_type!r}")
        per_group = frame.groupBy("stat_group", "term").agg(
            F.sum("tf").alias("tf"), F.first("df").alias("df")
        )
        per_group = per_group.withColumn("score", self._analysis_score(F.col("tf"), ndocs))
        merged = per_group.groupBy("term").agg(
            F.sum("tf").alias("tf"),
            F.sum("df").alias("doc_freq"),
            F.sum("score").alias("score"),
        )
        out = merged.orderBy(*self._analysis_order(term_sort)).select(
            "term",
            F.col("tf").alias("term_freq"),
            "doc_freq",
            F.when(F.lit(term_sort == "TFIDF"), F.col("score")).otherwise(F.lit(0.0)).alias("score"),
        )
        return out.limit(top_n) if top_n > 0 else out

    def analysis_doc_terms(
        self,
        req: SearchRequest,
        docs_df,
        join_on: list[str],
        text_col: str,
        id_col: str,
        analyzer_name: str,
        top_n: int = 10,
        *,
        field: str | None = None,
        term_sort: str = "TFIDF",
        min_word_len: int = 0,
        max_word_len: int = 0,
        min_shard_freq: int = 0,
        max_shard_freq: int = 0,
        min_shard_freq_perc: float = 0.0,
        max_shard_freq_perc: float = 0.0,
    ):
        """Per-document top-N terms over the match set (AnalysisRequest
        .docTerms, AnalysisHandler.java:169-174: the reference
        re-analyzes each result doc's stored text and returns its own
        term vector ranked by ``termSort``, one list PER doc — versus
        :meth:`analysis_summary`'s corpus-level ranking). TFIDF scores
        each doc-term as ClassicSimilarity sqrt(doc tf)·idf with the
        stat group's docFreq/numDocs (TermFreq.getTopTerms:55-70). The
        window partitions by doc, so its state is bounded by one
        document's vocabulary regardless of corpus size.

        Output: (id, term, tf, df, score), topN rows per doc."""
        from pyspark.sql import Window

        field = field or text_col
        frame, ndocs = self._analysis_term_frame(
            req, docs_df, join_on, text_col, id_col, analyzer_name, field,
            min_word_len, max_word_len, min_shard_freq, max_shard_freq,
            min_shard_freq_perc, max_shard_freq_perc,
            need_df=True,
        )
        frame = frame.withColumn(
            "score",
            F.when(F.lit(term_sort == "TFIDF"), self._analysis_score(F.col("tf"), ndocs)).otherwise(F.lit(0.0)),
        )
        w = Window.partitionBy("shard", "_aid").orderBy(*self._analysis_order(term_sort))
        out = (
            frame.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_n)
            .select(F.col("_aid").alias(id_col), "term", "tf", "df", "score")
        )
        return out

    def _tombstone_arrays(self) -> dict[int, np.ndarray] | None:
        if not self._tombstones:
            return None
        return {s: np.fromiter(sorted(d), dtype=np.int64) for s, d in self._tombstones.items()}

    def _live_doc_map(self):
        """doc_map minus tombstoned docs — the Lucene liveDocs mask
        for paths that bypass the postings kernels (raw KNN, fetch,
        export): they must not resurface deletes the way
        IndexReader.numDocs/liveDocs never would. Zero cost when
        nothing is deleted; otherwise a broadcast anti-join of the
        (shard, doc_id) tombstone set (already driver-resident, like
        Lucene's live-docs bitset; optimize() purges it)."""
        if not self._tombstones:
            return self.tables.doc_map
        spark = self.tables.doc_map.sparkSession
        pairs = [(int(s), int(d)) for s, ds in self._tombstones.items() for d in ds]
        dead = spark.createDataFrame(pairs, "shard int, doc_id bigint")
        return self.tables.doc_map.join(
            F.broadcast(dead), ["shard", "doc_id"], "left_anti"
        )

    def get_field_names(self) -> list[str]:
        """Enumerate indexed fields (GetFieldNames,
        ShardReader.java:142-185)."""
        rows = self.tables.postings.select("field").distinct().collect()
        return sorted(r["field"] for r in rows)

    def get_number_of_docs(self) -> dict[int, int]:
        """Per-shard LIVE doc counts (GetNumberOfDocs,
        zulia_service.proto:278-293): the reference counts through
        IndexReader.numDocs(), which excludes deletions, so tombstoned
        docs are subtracted here too."""
        return {
            s: n - len(self._tombstones.get(s, ()))
            for s, n in self._shard_counts.items()
        }

    def _mark_tombstones(self, ids: list[str]) -> int:
        """Resolve uniqueIds → (shard, doc_id) and mark them deleted.
        Returns the number of NEWLY deleted docs."""
        spark = self.tables.doc_map.sparkSession
        ids_df = spark.createDataFrame([(u,) for u in ids], "uniqueId string")
        rows = (
            self.tables.doc_map.join(F.broadcast(ids_df), "uniqueId")
            .select("shard", "doc_id")
            .collect()
        )
        marked = 0
        for r in rows:
            s = self._tombstones.setdefault(int(r["shard"]), set())
            if int(r["doc_id"]) not in s:
                s.add(int(r["doc_id"]))
                marked += 1
        return marked

    def delete_by_unique_ids(self, unique_ids) -> int:
        """Tombstone deletes (Delete/BatchDelete,
        zulia_service.proto:117-156). Lucene marks deletions in a
        per-segment live-docs bitset purged at merge; here the
        tombstone set masks the kernel's match vector — postings stay
        immutable until an optimize() rewrite physically purges them.
        Parquet-backed indexes persist the ids durably. Returns #docs
        marked (newly deleted only)."""
        ids = [str(u) for u in unique_ids]
        if not ids:
            return 0
        marked = self._mark_tombstones(ids)
        self._query_cache.clear()  # results may change under deletes
        self._pinned_query_cache.clear()
        new_uids = set(ids) - self._tombstone_uids
        if new_uids:
            self._tombstone_uids |= new_uids
            save_tombstone_uids(getattr(self.tables, "root_path", None), self._tombstone_uids)
        return marked

    def expand_fuzzy(self, field: str, term: str, max_edits: int = 2, max_terms: int = 50) -> tuple[str, ...]:
        """Fuzzy term expansion (term~2, ZuliaSyntaxParser.jj:170;
        FuzzyTerm enumeration ShardTermsHandler.java): edit-distance
        scan of the dictionary with Spark's built-in levenshtein —
        the length band prunes the scan before the distance runs."""
        lo, hi = len(term) - max_edits, len(term) + max_edits
        rows = (
            self.tables.term_stats.filter(
                (F.col("field") == field) & F.length("term").between(lo, hi)
            )
            .select("term")
            .distinct()
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(term)))
            .filter(F.col("dist") <= max_edits)
            .orderBy("dist", "term")
            .limit(max_terms)
            .collect()
        )
        return tuple(r["term"] for r in rows)

    def expand_terms(self, field: str, regex: str, max_terms: int = 1024) -> tuple[str, ...]:
        """Wildcard/regex term expansion against the dictionary
        (ZuliaSyntaxParser wild*card / /regex/ terms → TermInSet):
        rewrite to an explicit TERMS set via get_terms.

        The cap mirrors Lucene's 1024 boolean-clause limit (its
        constant-score wildcard rewrite is uncapped, but every
        expanded term here becomes a scoring kernel leaf). Exceeding
        it RAISES like Lucene's TooManyClauses — the r4 default of 50
        silently dropped matches once a dictionary grew past it
        (caught by the sf0.1 gate replica)."""
        rows = self.get_terms(
            field, term_filter_regex=regex, amount=max_terms + 1
        ).collect()
        if len(rows) > max_terms:
            raise ValueError(
                f"wildcard/regex expansion on {field!r} matches more than "
                f"{max_terms} dictionary terms (Lucene TooManyClauses); "
                f"narrow the pattern or raise max_terms"
            )
        return tuple(r["term"] for r in rows)

    def _stored_column_for(self, indexed_field: str) -> str:
        """Indexed field name → the stored column it projects
        (IndexAs.indexedFieldName → FieldConfig.storedFieldName)."""
        for col, ia in self.config.indexed_fields():
            if ia.indexed_field_name == indexed_field:
                return col
        return indexed_field

    def _knn_top_rows(self, vector, vector_field: str, k: int, allowed=None) -> list[dict]:
        """The one KNN ranker: top-k docs by cosine against a stored
        vector column (KnnFloatVectorQuery). ``allowed`` is the
        boolean pre-filter's match frame (shard, doc_id, score), the
        query's filter as in ZuliaIndex.handleVectorQuery:566-615; None
        ranks every live doc (the injected MatchAll).

        The scan pool is ``allowed`` joined to doc_map, or the live
        doc_map. IVF fields probe their nearest cells and quantized
        encodings oversample before the exact rescore, over either
        pool. The cosine runs as codegen array expressions in-plan;
        only the k result rows reach the driver. HNSW-configured
        fields serve from the per-shard graphs (_hnsw_top_rows)
        instead of scanning. Returns [{shard, doc_id, uniqueId,
        cosine, score}] sorted by cosine desc, (shard, doc_id) asc on
        ties; ``score`` is the row's match score (0.0 without a
        filter)."""
        _require_nonzero_query_vector(vector)
        vf = self.config.vector_field(vector_field)
        if (
            vf is not None
            and vf[1].index_type == "HNSW"
            and self.tables.vector_graphs is not None
        ):
            return self._hnsw_top_rows(vector, vector_field, k, allowed)
        col = vf[0] if vf is not None else vector_field
        qlit = F.array(*[F.lit(float(x)) for x in vector])
        emb = F.col(col)

        def dot(a, b):
            return F.aggregate(
                F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        # nullif guard: legacy tables built before the zero-vector
        # ingest guard can hold zero rows — they rank NULL (sorted
        # last) instead of raising an ANSI divide-by-zero
        cos = dot(emb, qlit) / F.nullif(
            F.sqrt(dot(emb, emb)) * F.sqrt(dot(qlit, qlit)), F.lit(0.0)
        )
        if allowed is None:
            # LIVE docs only: Lucene KNN consults liveDocs, so deleted
            # docs neither surface nor consume top-k slots
            base = self._live_doc_map().withColumn("score", F.lit(0.0))
        else:
            base = allowed.join(self.tables.doc_map, ["shard", "doc_id"])
        base = base.filter(emb.isNotNull())
        vc = vf[1] if vf is not None else None
        if vc is not None and vc.index_type == "IVF":
            base = self._ivf_probe_filter(base, vc, vector, k)
        if vc is not None and vc.encoding != "FLOAT32":
            base = self._quantized_candidates(base, col, vc, vector, k)
        rows = (
            base.select(
                "shard", "doc_id", "uniqueId", F.round(cos, 6).alias("cosine"), "score"
            )
            .orderBy(F.desc("cosine"), F.asc("shard"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return _knn_dicts(rows)

    def _hnsw_top_rows(
        self, vector, vector_field: str, k: int, allowed=None
    ) -> list[dict]:
        """:meth:`_knn_top_rows` for an HNSW field, served from the
        per-shard graphs (VectorConfig index_type="HNSW"; the
        reference's ZuliaIndex.buildKnnQuery:597-615 over Lucene's
        per-segment graph). One grouped-pandas job traverses every
        shard's graph concurrently — beam max(efSearch, k) per shard,
        Lucene's per-leaf KNN then a top-k merge — and only shards × k
        candidate rows leave the kernels; the global cut is a
        TakeOrderedAndProject over those.

        One kernel serves every call; only its graph loader differs.
        When the index is parquet-backed the job's input is a
        one-row-per-shard SKELETON and each task loads its own
        ``vector_graphs/field=…/shard=…`` partition worker-side
        (pyarrow), cached across queries keyed by the partition's
        mtime — a query stream pays graph decode once per (worker,
        shard), like Lucene holding the graph reader open. In-memory
        indexes ship the grouped graph rows through Arrow each query
        (decode still cached by graph_id).

        liveDocs parity: tombstoned docs route during traversal but
        are never collected, and the beam widens by the shard's dead
        count (hnsw.shard_topk) so deletes cannot starve k.

        Filtered KNN: ``allowed`` (the pre-filter's match frame) is
        COGROUPED with the graph — each task receives its own shard's
        accept list and match scores as an Arrow batch (the
        distributed analogue of Lucene handing the filter bitset to
        the per-leaf searcher; AbstractKnnVectorQuery), so the filter
        never collects to the driver no matter how broad it is, and
        each collected row carries its match score. Inside the kernel
        hnsw.shard_topk applies Lucene's cost rule: small filters
        scan exactly; larger ones traverse the graph under a visited
        budget of |allowed| with exact fallback. Unfiltered calls
        pass no accept list, as :meth:`_kernel_frame` passes no
        doc-values frame."""
        import os as _os

        vc = self.config.vector_field(vector_field)[1]
        name = vc.indexed_field_name
        graphs = self.tables.vector_graphs
        if graphs is None:
            raise ValueError(
                f"vector field {name!r} is configured index_type='HNSW' but the "
                f"index has no graph table — rebuild with this config"
            )
        ef = max(vc.hnsw_ef_search, k)
        dead = {s: sorted(ids) for s, ids in self._tombstones.items() if ids}
        q = [float(x) for x in vector]
        root = getattr(self.tables, "root_path", None)
        gdir = _os.path.join(root, "vector_graphs", f"field={name}") if root else None
        if gdir is not None and _os.path.isdir(gdir):
            shards = self._hnsw_shards.get(name)
            if shards is None:
                shards = sorted(
                    int(d.split("=", 1)[1])
                    for d in _os.listdir(gdir)
                    if d.startswith("shard=")
                )
                self._hnsw_shards[name] = shards
            graph = graphs.sparkSession.createDataFrame([(s,) for s in shards], "shard int")

            def load(shard, pdf):
                import os

                from zuliasearch_spark.indexing.hnsw import decode_graph_parquet

                part = os.path.join(gdir, f"shard={shard}")
                return decode_graph_parquet(part, cache_key=(part, os.path.getmtime(part)))

        else:
            graph = self._hnsw_frames.get(name)
            if graph is None:
                graph = (
                    graphs.filter(F.col("field") == name)
                    .repartition("shard")
                    .persist()
                )
                self._hnsw_frames[name] = graph

            def load(shard, pdf):
                from zuliasearch_spark.indexing.hnsw import decode_graph

                return decode_graph(pdf, cache_key=(str(pdf["graph_id"].iloc[0]), shard))

        def make_kernel(load):
            def kernel(key, pdf, accept):
                from zuliasearch_spark.indexing.hnsw import shard_topk

                shard = int(key[0])
                if pdf.empty or (accept is not None and accept.empty):
                    return _empty_knn_pdf()
                rows = shard_topk(
                    load(shard, pdf), q, ef, k,
                    dead_ids=dead.get(shard),
                    allowed_ids=None if accept is None else accept["doc_id"].to_numpy(),
                )
                if accept is None:
                    return _knn_pdf(shard, rows, 0.0)
                score = accept.set_index("doc_id")["score"]
                return _knn_pdf(shard, rows, score.reindex([d for d, _, _ in rows]).to_numpy())

            return kernel

        kernel = make_kernel(load)
        out_schema = "shard int, doc_id long, uniqueId string, cosine double, score double"
        if allowed is None:
            cand = graph.groupBy("shard").applyInPandas(
                lambda key, pdf: kernel(key, pdf, None), out_schema
            )
        else:
            cand = (
                graph.groupBy("shard")
                .cogroup(allowed.select("shard", "doc_id", "score").groupBy("shard"))
                .applyInPandas(kernel, out_schema)
            )
        rows = (
            cand.orderBy(F.desc("cosine"), F.asc("shard"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return _knn_dicts(rows)

    def _ivf_probe_filter(self, base, vc, vector, k: int):
        """IVF probe: keep only rows in the cells whose trained
        centroids are nearest the query vector (VectorConfig
        index_type="IVF"; the reference's analogue is serving KNN from
        the per-field index structure, ZuliaIndex.buildKnnQuery:
        597-615, rather than scanning the corpus). Cell choice is a
        tiny driver-side argsort over the centroid matrix; the filter
        itself is a plain IN predicate on the build-time ``_zvc_``
        column, so a parquet-backed index prunes row groups (doc_map
        is cell-sorted by write_index) and the cosine rescore touches
        ~probes/cells of the corpus instead of all of it.

        The probe count scales with k — min(cells, max(ivf_nprobe,
        ceil(k × ivf_probe_per_k))) — Lucene's efSearch ≥ k rule: when
        k approaches per-cell occupancy, probing saturates to every
        cell, which is exactly the FLAT scan (graceful degradation
        instead of silent recall loss)."""
        import math as _math

        name = vc.indexed_field_name
        cents = (self.tables.vector_centroids or {}).get(name)
        if cents is None:
            raise ValueError(
                f"vector field {name!r} is configured index_type='IVF' but the "
                f"index has no trained centroids — rebuild with this config"
            )
        if f"_zvc_{name}" not in base.columns:
            raise ValueError(
                f"vector field {name!r} is configured index_type='IVF' but the "
                f"index has no _zvc_{name} column — rebuild with this config"
            )
        c = np.asarray(cents, dtype=np.float64)
        n_probe = min(
            len(c), max(vc.ivf_nprobe, int(_math.ceil(k * vc.ivf_probe_per_k)))
        )
        if n_probe >= len(c):
            return base  # every cell probed — the filter is a no-op
        v = np.asarray(list(vector), dtype=np.float64)
        nv = np.linalg.norm(v)
        if nv > 0:
            v = v / nv
        order = np.argsort(-(c @ v), kind="stable")[:n_probe]
        return base.filter(F.col(f"_zvc_{name}").isin([int(i) for i in order]))

    def _quantized_candidates(self, base, col: str, vc, vector, k: int):
        """First pass of quantized KNN (VectorIndexingConfig encodings
        INT8/INT4/BBQ; Lucene's quantized formats oversample then
        rescore at full precision): rank ``base`` by the approximate
        similarity computed from the compact columns built by
        _add_vector_encodings, keep the top ceil(k × oversample) rows
        as the rescore pool. The cut is a TakeOrderedAndProject over
        the quantized columns only — the float column is read when
        the caller rescores the pool, so the scan stays narrow."""
        import math as _math

        name = vc.indexed_field_name
        qcol = F.col(f"_zvq_{name}")
        if f"_zvq_{name}" not in base.columns:
            raise ValueError(
                f"vector field {name!r} is configured {vc.encoding} but the "
                f"index has no _zvq_{name} column — rebuild with this config"
            )
        n_cand = max(k, int(_math.ceil(k * vc.oversample)))
        v = np.asarray(list(vector), dtype=np.float64)
        if vc.encoding == "BBQ_2BIT":
            # asymmetric popcount scoring (Lucene DIBIT_QUERY_NIBBLE):
            # doc codes C∈{0..3} live in two bit-planes, the query is
            # 4-bit-quantized to Q∈{0..15} as four bit-planes, and
            #   Σ C·Q = Σ_{i<2, j<4} 2^{i+j}·popcount(d_i & q_j)
            # dequantized dot ≈ s_doc·s_q·Σ(C−1.5)(Q−7.5), expanded
            # into the popcount sum plus ΣC/ΣQ correction terms —
            # every term a codegen bit_count aggregate, ranked before
            # the full-precision rescore
            dim = v.size
            s_q = float(np.abs(v).max()) / 7.5 if v.size else 0.0
            qcodes = (
                np.clip(np.round(v / s_q + 7.5), 0, 15).astype(np.int64)
                if s_q > 0
                else np.zeros(dim, dtype=np.int64)
            )
            sum_q = float(qcodes.sum())

            def pack_plane(bits: np.ndarray) -> list[int]:
                words = []
                for c0 in range(0, bits.size, 64):
                    acc = 0
                    for b in bits[c0 : c0 + 64]:
                        acc = (acc << 1) | int(b)
                    if acc >= 1 << 63:
                        acc -= 1 << 64
                    words.append(acc)
                return words

            def popcount_dot(dcol, words: list[int]):
                qlit = F.array(*[F.lit(w).cast("long") for w in words])
                return F.aggregate(
                    F.zip_with(dcol, qlit, lambda a, b: F.bit_count(a.bitwiseAND(b))),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x.cast("long"),
                )

            planes_q = [pack_plane((qcodes >> j) & 1) for j in range(4)]
            d_planes = [qcol, F.col(f"_zvqh_{name}")]
            sum_cq = None
            for i, dcol in enumerate(d_planes):
                for j, words in enumerate(planes_q):
                    t = popcount_dot(dcol, words).cast("double") * F.lit(
                        float(1 << (i + j))
                    )
                    sum_cq = t if sum_cq is None else sum_cq + t
            pc = lambda c: F.aggregate(  # noqa: E731 — popcount of a plane
                c, F.lit(0).cast("long"), lambda a, w: a + F.bit_count(w).cast("long")
            )
            sum_c = (
                F.lit(2.0) * pc(d_planes[1]).cast("double")
                + pc(d_planes[0]).cast("double")
            )
            dot_codes = (
                sum_cq
                - F.lit(7.5) * sum_c
                - F.lit(1.5 * sum_q)
                + F.lit(1.5 * 7.5 * dim)
            )
            dn = F.col(f"_zvn_{name}")
            s_doc = F.col(f"_zvs_{name}")
            approx = F.when(
                (dn > 0) & F.lit(s_q > 0), s_doc * dot_codes / dn
            ).otherwise(F.lit(-2.0))
        elif vc.encoding == "BBQ":
            words = []
            for c0 in range(0, v.size, 64):
                acc = 0
                for x in v[c0 : c0 + 64]:
                    acc = (acc << 1) | (1 if x >= 0 else 0)
                if acc >= 1 << 63:
                    acc -= 1 << 64
                words.append(acc)
            qlit = F.array(*[F.lit(w).cast("long") for w in words])
            ham = F.aggregate(
                F.zip_with(qcol, qlit, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x.cast("long"),
            )
            approx = (F.size(F.col(col)) - F.lit(2) * ham).cast("double")
        elif getattr(vc, "calibration", "MAXABS") == "QUANTILE":
            # Symmetric quantization: the index quantized docs with the
            # per-shard calibrated scale (_zvs_ is one constant per
            # shard, builder._calibrate_quantization), so the QUERY
            # must be quantized with the SAME scale — clipping at the
            # same ±levels — or the two sides carry mismatched rounding
            # distortion and the approximate ranking degrades. The
            # query codes are a per-row transform of a literal array;
            # within a shard the scale is constant so whole-stage
            # codegen folds it.
            levels = QUANT_LEVELS[vc.encoding]
            s = F.col(f"_zvs_{name}")
            vlit = F.array(*[F.lit(float(x)) for x in v])
            qq = F.transform(
                vlit,
                lambda x: F.when(
                    s > 0,
                    F.least(
                        F.greatest(F.round(x / s), F.lit(-levels)), F.lit(levels)
                    ),
                ).otherwise(F.lit(0.0)),
            )
            dotq = F.aggregate(
                F.zip_with(qcol, qq, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            qn = F.sqrt(
                F.aggregate(qq, F.lit(0.0), lambda acc, x: acc + x * x)
            )
            dn = F.col(f"_zvn_{name}")
            approx = F.when((dn > 0) & (qn > 0), dotq / (dn * qn)).otherwise(
                F.lit(-2.0)
            )
        else:
            levels = QUANT_LEVELS[vc.encoding]
            maxabs = float(np.abs(v).max()) if v.size else 0.0
            qv = (
                np.round(v / (maxabs / levels)).astype(np.int64)
                if maxabs > 0
                else np.zeros(v.size, dtype=np.int64)
            )
            qnorm = float(np.sqrt((qv * qv).sum()))
            qlit = F.array(*[F.lit(int(x)) for x in qv])
            dotq = F.aggregate(
                F.zip_with(
                    qcol, qlit, lambda a, b: a.cast("double") * b.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            dn = F.col(f"_zvn_{name}")
            approx = F.when(
                (dn > 0) & F.lit(qnorm > 0), dotq / (dn * F.lit(qnorm or 1.0))
            ).otherwise(F.lit(-2.0))
        return (
            base.withColumn("_approx", approx)
            .orderBy(F.desc("_approx"), F.asc("shard"), F.asc("doc_id"))
            .limit(n_cand)
            .drop("_approx")
        )

    def _mlt_select_terms(
        self,
        field: str,
        texts,
        min_term_freq: int,
        min_doc_freq: int,
        max_doc_freq: int,
        max_doc_freq_pct: int,
        max_query_terms: int,
        min_word_len: int,
        max_word_len: int,
        max_num_tokens_parsed: int,
    ) -> tuple[list[str], list[float]]:
        """Per-field Lucene-MoreLikeThis term selection
        (MoreLikeThisLazyQuery.rewrite → MoreLikeThis.like(field,
        readers)): tf counted across ALL source texts (each text reads
        at most maxNumTokensParsed tokens, Lucene's per-reader cap),
        tokens filtered by word length, then df-bounded (an absolute
        maxDocFreq wins over the percentage; the pct cap floors at 1
        so a tiny index does not drop every term; pct ≥ 100 disables
        the guard) and ranked by tf·idf desc, term asc, top
        maxQueryTerms. Returns (terms, boosts) where boosts mirror
        mlt.setBoost(true): each term's selection score over the best
        score. idf is our BM25 idf (the reference uses Lucene classic
        idf here; selection order can differ on corner ties)."""
        from collections import Counter

        from zuliasearch_spark.search.scorer import bm25_idf

        tf: Counter = Counter()
        for text in texts:
            toks = self._analyze(field, text)[:max_num_tokens_parsed]
            tf.update(
                t
                for t in toks
                if len(t) >= min_word_len
                and (max_word_len <= 0 or len(t) <= max_word_len)
            )
        cands = sorted(t for t, c in tf.items() if c >= min_term_freq)
        if not cands:
            return [], []
        df_by_key = self._collect_term_stats({(field, t) for t in cands})
        shards = self._shards()
        # MLT term selection uses COLLECTION-global stats (the
        # reference resolves MLT on the federated index view,
        # ZuliaIndexManager.java:501-530)
        n_docs = sum(self._field_stats.get((field, s), (0, 0))[0] for s in shards)
        if max_doc_freq > 0:
            df_cap = max_doc_freq
        elif 0 < max_doc_freq_pct < 100:
            df_cap = max(1, max_doc_freq_pct * n_docs // 100)
        else:
            df_cap = n_docs
        scored = []
        for t in cands:
            df = sum(df_by_key.get((field, t, s), 0) for s in shards)
            if df < min_doc_freq or df > df_cap:
                continue
            scored.append((round(tf[t] * bm25_idf(n_docs, df), 7), t))
        scored.sort(key=lambda x: (-x[0], x[1]))
        scored = scored[:max_query_terms]
        if not scored:
            return [], []
        best = scored[0][0]
        terms = [t for _, t in scored]
        boosts = [(s / best) if best > 0 else 1.0 for s, _ in scored]
        return terms, boosts

    def more_like_this(
        self,
        text: str | None = None,
        field: str | None = None,
        amount: int = 10,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        max_doc_freq_pct: int = 25,
        max_query_terms: int = 25,
        *,
        like_texts=(),
        fields=(),
        document_ids=(),
        include_source_docs: bool = False,
        max_doc_freq: int = 0,
        min_word_len: int = 0,
        max_word_len: int = 0,
        max_num_tokens_parsed: int = 5000,
        mm: int = 0,
        vector_field: str | None = None,
        like_vectors=(),
        vector_top_n: int = 0,
        text_weight: float = 1.0,
        vector_weight: float = 1.0,
    ) -> dict:
        """MORE_LIKE_THIS (MoreLikeThisParams zulia_query.proto:13-33;
        resolution ZuliaIndexManager.rewriteMoreLikeThisQuery:677-790;
        shard query ZuliaIndex.handleMoreLikeThisQuery:617-673;
        behavior ShardedVectorTest.mltVectorTest).

        Sources: ``like_texts`` (raw text) and/or ``document_ids``
        (stored docs — their lexical field values extend the texts,
        their vectors extend ``like_vectors``). All resolved vectors
        are averaged into one centroid, L2-normalized when the vector
        field's config is UNIT_VECTOR. Source docs are excluded from
        results unless ``include_source_docs`` (the reference wraps
        the MLT query with MUST_NOT id terms).

        Query shapes:

        - lexical only: per-field derived-term OR queries (terms
          boosted by selection score / best score, Lucene
          mlt.setBoost(true)), fields combined as SHOULD, ``mm``
          applied to each field's term disjunction.
        - pure vector: KNN top ``vector_top_n`` (default 100,
          QueryRequestValidator:38-39) by cosine; totalHits is capped
          at vector_top_n across shards (QueryCombiner.java:260-266 —
          ShardedVectorTest asserts 3, not shards×3).
        - hybrid: lexical SHOULD + vector SHOULD, weighted by
          ``text_weight`` / ``vector_weight`` (applied only when > 0
          and ≠ 1, ZuliaIndex.applyWeight); NOT capped at vector_top_n
          because lexical matches extend beyond the KNN pool
          (ShardedVectorTest "hybrid MLT is not capped").

        The hybrid merge stays in-plan: the lexical match set is a
        distributed frame, the ≤vector_top_n KNN rows broadcast-join
        onto it; driver state is O(amount + vector_top_n)."""
        from zuliasearch_spark.search.query import QueryClause

        if text is not None:
            like_texts = (*like_texts, text)
        if field is not None and field not in fields:
            fields = (*fields, field)
        fields = tuple(fields)
        texts = list(like_texts)
        vectors = [list(map(float, v)) for v in like_vectors]
        document_ids = tuple(str(d) for d in document_ids)
        if vector_top_n < 0:
            raise ValueError(
                f"More-like-this vectorTopN must be >= 0, got {vector_top_n}"
            )

        vec_col = None
        if vector_field is not None:
            vf = self.config.vector_field(vector_field)
            vec_col = vf[0] if vf is not None else vector_field

        if document_ids:
            text_cols = {f: self._stored_column_for(f) for f in fields}
            want = list(dict.fromkeys(text_cols.values()))
            if vec_col is not None:
                want.append(vec_col)
            dm_cols = set(self.tables.doc_map.columns)
            missing = [c for c in want if c not in dm_cols]
            if missing:
                raise ValueError(
                    f"More-like-this documentId sources need stored columns {missing}"
                )
            rows = {
                r["uniqueId"]: r
                # LIVE docs only: a deleted MLT source id seeds
                # nothing, like the reference's id search finding
                # no document
                for r in self._live_doc_map().filter(
                    F.col("uniqueId").isin(list(document_ids))
                )
                .select("uniqueId", *dict.fromkeys(want))
                .collect()
            }
            for doc_id in document_ids:
                r = rows.get(doc_id)
                if r is None:
                    raise ValueError(
                        f"More-like-this source document <{doc_id}> not found"
                    )
                for f in fields:
                    v = r[text_cols[f]]
                    if isinstance(v, (list, tuple)):
                        texts.extend(str(x) for x in v if x is not None)
                    elif v is not None:
                        texts.append(str(v))
                if vec_col is not None and r[vec_col] is not None:
                    vectors.append([float(x) for x in r[vec_col]])

        has_lexical = bool(fields) and bool(texts)
        has_vector = vector_field is not None and bool(vectors)
        if not has_lexical and not has_vector:
            raise ValueError(
                "More-like-this query must have either text fields with like "
                "text, or a vector field with vectors"
            )

        centroid = None
        if has_vector:
            dim = len(vectors[0])
            for v in vectors:
                if len(v) != dim:
                    raise ValueError(
                        f"More-like-this vector dimension mismatch: got {len(v)}, expected {dim}"
                    )
            centroid = [sum(v[i] for v in vectors) / len(vectors) for i in range(dim)]
            vf = self.config.vector_field(vector_field)
            if vf is not None and vf[1].unit:
                norm = sum(x * x for x in centroid) ** 0.5
                if norm > 0:
                    centroid = [x / norm for x in centroid]
            if vector_top_n == 0:
                vector_top_n = 100  # QueryRequestValidator.java:38-39

        exclude: set[str] = set() if include_source_docs else set(document_ids)

        clauses = []
        terms_by_field: dict[str, list[str]] = {}
        if has_lexical:
            for f in fields:
                terms, boosts = self._mlt_select_terms(
                    f, texts, min_term_freq, min_doc_freq, max_doc_freq,
                    max_doc_freq_pct, max_query_terms, min_word_len,
                    max_word_len, max_num_tokens_parsed,
                )
                terms_by_field[f] = terms
                if terms:
                    clauses.append(
                        QueryClause(
                            "SCORE_SHOULD", qf=(f,), terms=tuple(terms),
                            term_boosts=tuple(boosts), mm=mm,
                        )
                    )
            if not clauses and not has_vector:
                return {
                    "totalHits": 0, "topk": [], "terms": [], "termsByField": terms_by_field,
                }

        all_terms = [t for f in fields for t in terms_by_field.get(f, ())]

        # ---- pure lexical ------------------------------------------------
        if not has_vector:
            req = SearchRequest(tuple(clauses), amount=amount)
            tree = self._resolve_request(req)
            if exclude:
                # the reference's MUST_NOT id terms: one doc-values
                # leaf over uniqueId, so totalHits stays exact
                ids = ", ".join(
                    "'" + u.replace("\\", "\\\\").replace("'", "\\'") + "'"
                    for u in sorted(exclude)
                )
                leaf = RLeaf((DocValuesSpec(f"uniqueId IN ({ids})"),), conj=False, boost=1.0)
                tree = RBool(((_MUST, tree), (_MUST_NOT, leaf)))
            res = self._search_resolved({"q": (req, tree)})["q"]
            res["terms"] = all_terms
            res["termsByField"] = terms_by_field
            return res

        weight_applies = lambda w: w > 0 and w != 1.0  # noqa: E731 — ZuliaIndex.applyWeight

        # ---- pure vector -------------------------------------------------
        if not clauses:
            rows = self._knn_top_rows(centroid, vector_field, vector_top_n)
            rows = [r for r in rows if r["uniqueId"] not in exclude]
            topk = [
                {
                    "shard": r["shard"], "doc_id": r["doc_id"],
                    "uniqueId": r["uniqueId"], "score": r["cosine"],
                }
                for r in rows
            ]
            return {
                "totalHits": len(topk), "topk": topk[:amount],
                "terms": all_terms, "termsByField": terms_by_field,
            }

        # ---- hybrid: lexical SHOULD + weighted vector SHOULD -------------
        tw = text_weight if weight_applies(text_weight) else 1.0
        vw = vector_weight if weight_applies(vector_weight) else 1.0
        knn = self._knn_top_rows(centroid, vector_field, vector_top_n)
        knn = [r for r in knn if r["uniqueId"] not in exclude]
        lex_req = SearchRequest(tuple(clauses), amount=amount)
        matches = self.match_ids(lex_req)
        base = matches.join(
            self.tables.doc_map.select("shard", "doc_id", "uniqueId"),
            ["shard", "doc_id"],
        )
        if exclude:
            base = base.filter(~F.col("uniqueId").isin(sorted(exclude)))
        # three actions read this frame (totalHits count, top-k page,
        # knn-membership probe) — persist the NARROW 4-column match
        # set once instead of recomputing the lexical kernel per
        # action (bytes ∝ matches × 4 small columns, never documents)
        base = base.persist()
        try:
            spark = self.tables.doc_map.sparkSession
            if knn:
                knn_df = spark.createDataFrame(
                    [(r["shard"], r["doc_id"], r["cosine"]) for r in knn],
                    "shard int, doc_id long, _knn double",
                )
                merged = base.join(F.broadcast(knn_df), ["shard", "doc_id"], "left")
                knn_expr = F.coalesce(F.col("_knn"), F.lit(0.0)) * F.lit(vw)
            else:
                merged = base
                knn_expr = F.lit(0.0)
            merged = merged.select(
                "shard", "doc_id", "uniqueId",
                (F.col("score") * F.lit(tw) + knn_expr).alias("score"),
            )
            lex_total = merged.count()
            page = [
                {
                    "shard": int(r["shard"]), "doc_id": int(r["doc_id"]),
                    "uniqueId": r["uniqueId"], "score": float(r["score"]),
                }
                for r in merged.orderBy(
                    F.desc("score"), F.asc("shard"), F.asc("doc_id")
                ).limit(amount).collect()
            ]
            # KNN hits outside the lexical match set: membership check via a
            # broadcast semi-join on the ≤vector_top_n ids — O(topN) driver rows
            knn_only = []
            if knn:
                ids_df = spark.createDataFrame(
                    [(r["shard"], r["doc_id"]) for r in knn], "shard int, doc_id long"
                )
                in_lex = {
                    (int(r["shard"]), int(r["doc_id"]))
                    for r in base.join(
                        F.broadcast(ids_df), ["shard", "doc_id"]
                    ).select("shard", "doc_id").collect()
                }
                knn_only = [
                    {
                        "shard": r["shard"], "doc_id": r["doc_id"],
                        "uniqueId": r["uniqueId"], "score": r["cosine"] * vw,
                    }
                    for r in knn
                    if (r["shard"], r["doc_id"]) not in in_lex
                ]
            topk = sorted(
                page + knn_only, key=lambda t: (-t["score"], t["shard"], t["doc_id"])
            )[:amount]
        finally:
            base.unpersist()
        return {
            # hybrid is NOT capped at vector_top_n (ShardedVectorTest):
            # lexical matches extend beyond the KNN pool
            "totalHits": lex_total + len(knn_only),
            "topk": topk,
            "terms": all_terms,
            "termsByField": terms_by_field,
        }
