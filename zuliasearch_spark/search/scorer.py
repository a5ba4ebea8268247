"""BM25 scoring math, bit-compatible with Lucene ``BM25Similarity``.

The reference scores with Lucene's default BM25 (k1=1.2, b=0.75),
selected per field at query time
(zulia-server/.../index/ShardReader.java:537-579; enum
zulia_base.proto:81-86). Lucene ≥ 8 computes, all in float32:

    idf        = (float) ln(1 + (docCount - df + 0.5) / (df + 0.5))
    avgdl      = (float) (sumTotalTermFreq / (double) docCount)
    normInv[i] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[i] / avgdl))
    weight     = boost * idf
    score      = weight - weight / (1f + freq * normInv[norm])

where ``LENGTH_TABLE`` decodes the SmallFloat byte4 norm and the
(k1+1) numerator factor is gone (LUCENE-8563: rank-neutral). Clause
scores are summed in a double accumulator and cast back to float
(Lucene DisjunctionSumScorer / conjunction scorers).

We reproduce that float dance exactly so top-k docIDs *and scores*
are rank-identical to the reference semantics. ``exact64`` mode
instead computes in float64 with true (unquantized) lengths — used
when matching an external SQL oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from zuliasearch_spark.util.smallfloat import LENGTH_TABLE, int_to_byte4

F32 = np.float32


@dataclass(frozen=True)
class Bm25Params:
    k1: float = 1.2
    b: float = 0.75
    # float32 + quantized norms = Lucene parity; False = float64 exact dl
    lucene_parity: bool = True


def bm25_idf(doc_count: int, doc_freq: int) -> float:
    """Lucene BM25Similarity.idf: double log, callers downcast to f32."""
    return float(np.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))


def bm25_weight(doc_count: int, doc_freq: int, boost: float, params: Bm25Params) -> float:
    """Per-term query weight = boost * idf (float32 in parity mode)."""
    idf = bm25_idf(doc_count, doc_freq)
    if params.lucene_parity:
        return float(F32(boost) * F32(idf))
    return boost * idf


def bm25_avgdl(sum_total_term_freq: int, doc_count: int, params: Bm25Params) -> float:
    if doc_count <= 0:
        return 1.0
    avgdl = sum_total_term_freq / float(doc_count)
    return float(F32(avgdl)) if params.lucene_parity else avgdl


def bm25_norm_inverse_cache(avgdl: float, params: Bm25Params) -> np.ndarray:
    """normInverse[256] over the SmallFloat-decoded length table (f32)."""
    k1, b = F32(params.k1), F32(params.b)
    lt = LENGTH_TABLE.astype(F32)
    return (F32(1.0) / (k1 * ((F32(1.0) - b) + b * lt / F32(avgdl)))).astype(F32)


def bm25_term_scores(
    tf: np.ndarray,
    dl: np.ndarray,
    weight: float,
    avgdl: float,
    params: Bm25Params,
) -> np.ndarray:
    """Score an array of (tf, dl) postings for one term.

    ``dl`` is the *true* field length; parity mode quantizes it
    through the byte4 norm exactly like Lucene.
    """
    if params.lucene_parity:
        cache = bm25_norm_inverse_cache(avgdl, params)
        norm_inv = cache[int_to_byte4(dl)]
        w = F32(weight)
        freq = tf.astype(F32)
        return (w - w / (F32(1.0) + freq * norm_inv)).astype(F32)
    denom = tf + params.k1 * ((1.0 - params.b) + params.b * dl.astype(np.float64) / avgdl)
    return weight * (tf.astype(np.float64) / denom)
