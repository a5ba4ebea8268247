"""Seeded inputs and their expected answers.

Everything here is a function of the workload seed: the corpus
(``indexing.corpus``, the F1 synthetic source-code generator, plus a
derived numeric ``n_chars`` column for range requests), the request
pools and streams, and the exhaustive-oracle answers
(``oracle.bm25_oracle.OracleIndex``). The engine only ever sees the
generated corpus and requests.

Oracle answers are computed outside every timed window and cached
under a key of (seed, corpus size, workload, source hash), so no
answers carry over between two versions of the code.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os

import numpy as np
import pandas as pd

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.corpus import CORE_WORDS, IDENTIFIERS, NL_WORDS, gen_corpus_pandas
from zuliasearch_spark.search.query import QueryClause as C
from zuliasearch_spark.search.query import SearchRequest

SHARDS = 4
TOP_K = 10
STORED = ("n_chars",)
SCORE_TOL = 1e-4


def index_config() -> IndexConfig:
    """The F2 code-corpus index: camel/snake-aware content, keyword
    lang and repo."""
    return IndexConfig(
        index_name="perfbench",
        unique_id_col="uniqueId",
        number_of_shards=SHARDS,
        default_search_fields=("content",),
        field_configs=(
            FieldConfig("content", index_as=(IndexAs("content", "code_standard"),)),
            FieldConfig("lang", index_as=(IndexAs("lang", "lcKeyword"),)),
            FieldConfig("repo", index_as=(IndexAs("repo", "lcKeyword"),)),
        ),
    )


def corpus_pandas(n_docs: int, seed: int) -> pd.DataFrame:
    pdf = gen_corpus_pandas(n_docs, seed)
    pdf["n_chars"] = pdf["content"].str.len().astype("int32")
    return pdf


def corpus_spark(spark, n_docs: int, seed: int):
    """Same rows as :func:`corpus_pandas`, generated by Spark tasks."""
    from pyspark.sql import functions as F

    from zuliasearch_spark.indexing.corpus import gen_corpus_spark

    return gen_corpus_spark(spark, n_docs, seed).withColumn(
        "n_chars", F.length("content").cast("int")
    )


# -- requests ---------------------------------------------------------------

_HOT = CORE_WORDS  # head of the Zipf(1.1) comment vocabulary
_WARM = NL_WORDS[len(CORE_WORDS) : 200]
_CAMEL = [w for w in IDENTIFIERS[:400] if "_" not in w]


class _Dealer:
    """Deals words from seeded shuffles of a word list, one shuffle
    after another, so every word is used equally often: a seed changes
    which words share a request, not how much postings work a pool
    holds."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.decks: dict[int, list[str]] = {}

    def __call__(self, words, k: int = 1) -> list[str]:
        deck = self.decks.setdefault(id(words), [])
        out: list[str] = []
        while len(out) < k:
            if not deck:
                deck.extend(str(w) for w in self.rng.permutation(words))
            w = deck.pop()
            if w not in out:
                out.append(w)
        return out


def _postings_request(pick: _Dealer, rng: np.random.Generator, shape: int) -> SearchRequest:
    """One postings-only request in one of the F3 shapes, or a
    generated vocabulary query, or a hot multi-term OR (``hot_wand``).
    The seed picks the words; ``shape`` (0-10) the form."""
    content = ("content",)
    if shape == 0:
        clauses = (C("SCORE_SHOULD", q=pick(_HOT)[0], qf=content),)
    elif shape == 1:
        clauses = (C("SCORE_SHOULD", q=" ".join(pick(_HOT, 2) + pick(_WARM)), qf=content),)
    elif shape == 2:
        clauses = (C("SCORE_MUST", q=" ".join(pick(_HOT, 2)), qf=content, default_op="AND"),)
    elif shape == 3:
        clauses = (C("SCORE_SHOULD", q=" ".join(pick(_HOT, 3)), qf=content, mm=2),)
    elif shape == 4:
        clauses = (C("SCORE_SHOULD", q=f"lang:python content:{pick(_HOT)[0]}"),)
    elif shape == 5:
        repos = tuple(f"org{rng.integers(0, 7)}/repo{rng.integers(0, 23)}" for _ in range(2))
        clauses = (C("TERMS", terms=repos, qf=("repo",)),)
    elif shape == 6:
        clauses = (
            C("SCORE_SHOULD", q=" ".join(pick(_HOT, 2)), qf=content),
            C("FILTER", q="lang:" + str(rng.choice(["python", "java", "js"]))),
        )
    elif shape == 7:
        clauses = (C("FILTER_NOT", q="lang:go"), C("SCORE_SHOULD", q=" ".join(pick(_WARM, 2)), qf=content))
    elif shape == 8:
        clauses = (C("SCORE_MUST", q=pick(_CAMEL)[0], qf=content, default_op="AND"),)
    elif shape == 9:
        a, b = pick(_HOT, 2)
        clauses = (C("SCORE_SHOULD", q=a, qf=content, boost=2.0), C("SCORE_SHOULD", q=b, qf=content))
    else:
        clauses = (C("SCORE_SHOULD", q=" ".join(pick(_HOT, 4)), qf=content),)
    return SearchRequest(clauses, amount=TOP_K)


N_SHAPES = 11


def postings_pool(seed: int, n: int, salt: int) -> list[SearchRequest]:
    """``n`` requests; request ``i`` has shape ``i % N_SHAPES`` whatever
    the seed, so seeds vary the words and not the mix of shapes."""
    rng = np.random.default_rng((seed, salt))
    pick = _Dealer(rng)
    return [_postings_request(pick, rng, i % N_SHAPES) for i in range(n)]


@dataclasses.dataclass(frozen=True)
class Single:
    """One request of the single-request stream."""

    rid: str
    cls: str  # postings | fresh_term | range | phrase
    req: SearchRequest
    # range class: the numeric filter the oracle applies afterwards
    lo: int | None = None
    hi: int | None = None


# classes of the closed-loop stream, in a fixed repeating order so each
# run sees the same mix whatever the seed. The mix is an assumed,
# synthetic one (no traffic record backs it): three quarters postings
# requests, so their median (the end-to-end latency) rests on enough
# samples, and the other quarter split evenly. The serve workload sends
# the stream a turn of SINGLE_TURN requests at a time (three postings
# requests and one of another class) between two batches.
SINGLE_CYCLE = ("postings", "fresh_term", "postings", "postings",
                "postings", "range", "postings", "postings",
                "postings", "phrase", "postings", "postings")
SINGLE_TURN = 4
CLASSES = ("postings", "fresh_term", "range", "phrase")


def single_stream(seed: int, corpus: pd.DataFrame, length: int, settings) -> list[Single]:
    """The closed-loop request stream: Zipf-popular postings requests
    (df cache warm), first-seen rare terms (df cache cold), range
    filters over ``n_chars`` (doc-values routes) and phrases (positions,
    which the resident copy drops, so parquet is read). The Zipf
    exponent (1.2) and the pool size (40) are assumed, like the class
    mix: they make terms repeat, and no measured traffic sets them."""
    from zuliasearch_spark.analysis.analyzers import tokenize

    rng = np.random.default_rng((seed, 2))
    pool = postings_pool(seed, 40, salt=3)
    zipf = 1.0 / np.arange(1, len(pool) + 1) ** 1.2
    # which pool entry each postings request repeats is the same for
    # every seed (so is its shape); the seed picks the words in it
    popular = iter(np.random.default_rng(0).choice(len(pool), size=length, p=zipf / zipf.sum()).tolist())
    n = len(corpus)
    fresh = rng.permutation(np.arange(100, max(n, 101)))
    qs = np.quantile(corpus["n_chars"].to_numpy(), [0.1, 0.3, 0.5, 0.7, 0.9])
    # fixed quantile spans, so each seed filters the same share of docs
    ranges = [(int(qs[a]), int(qs[b]), str(rng.choice(_HOT))) for a, b in ((0, 2), (1, 3), (2, 4))]
    # phrases: two adjacent analyzed terms of a random document, so
    # each phrase has at least one hit
    phrases = []
    docs = rng.choice(n, size=6, replace=False)
    for d in docs:
        ts = tokenize(corpus["content"].iloc[[int(d)]], settings)
        terms, pos = ts.terms(), ts.pos
        ok = np.flatnonzero(np.diff(pos) == 1)
        i = int(ok[rng.integers(0, len(ok))])
        phrases.append((str(terms[i]), str(terms[i + 1])))
    out = []
    for i in range(length):
        cls = SINGLE_CYCLE[i % len(SINGLE_CYCLE)]
        rid = f"s{i}"
        if cls == "postings":
            out.append(Single(rid, cls, pool[next(popular)]))
        elif cls == "fresh_term":
            sym = f"sym_{int(fresh[i % len(fresh)])}_a"
            out.append(Single(rid, cls, SearchRequest((C("SCORE_SHOULD", q=sym, qf=("content",)),), amount=TOP_K)))
        elif cls == "range":
            lo, hi, w = ranges[int(rng.integers(0, len(ranges)))]
            req = SearchRequest(
                (C("SCORE_SHOULD", q=w, qf=("content",)), C("FILTER", q=f"n_chars:[{lo} TO {hi}]")),
                amount=TOP_K,
            )
            out.append(Single(rid, cls, req, lo, hi))
        else:
            ph = phrases[int(rng.integers(0, len(phrases)))]
            out.append(Single(rid, cls, SearchRequest((C("SCORE_SHOULD", phrase=ph, qf=("content",)),), amount=TOP_K)))
    return out


def batches(seed: int, n_batches: int, size: int) -> tuple[list[SearchRequest], list[list[int]]]:
    """A pool of ``size`` postings-only requests and ``n_batches``
    seeded orders of it: every batch holds the same requests, so
    batches do equal work, and hot words recur across requests, so
    they share decoded blocks."""
    pool = postings_pool(seed, size, salt=4)
    rng = np.random.default_rng((seed, 5))
    return pool, [rng.permutation(size).tolist() for _ in range(n_batches)]


# -- oracle -------------------------------------------------------------------


def source_hash(root: str) -> str:
    """Hash of every Python source of the engine and the benchmark."""
    h = hashlib.sha256()
    for sub in ("zuliasearch_spark", "perfbench"):
        for dp, dns, fs in sorted(os.walk(os.path.join(root, sub))):
            dns.sort()
            for f in sorted(fs):
                if f.endswith(".py"):
                    p = os.path.join(dp, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _range_answer(oracle, req: SearchRequest, rng: tuple[int, int], n_chars: np.ndarray) -> dict:
    """The oracle has no doc values, so a ``SCORE_SHOULD`` + range
    ``FILTER`` request is answered in two steps. With a required clause
    present the SHOULD clause is optional (Lucene BooleanQuery), so every
    document inside the range matches; the scored clause only ranks
    them, and documents it does not match score 0."""
    lo, hi = rng
    kept = tuple(c for c in req.clauses if not (c.type == "FILTER" and c.q and "[" in c.q))
    scored = oracle.search(dataclasses.replace(req, clauses=kept, amount=oracle.n))
    score = {t["uniqueId"]: t["score"] for t in scored["topk"]}
    rows = np.flatnonzero((n_chars >= lo) & (n_chars <= hi))
    uid, shard, doc = oracle.uid, np.asarray(oracle.shard), oracle.doc_id
    ranked = sorted(rows.tolist(), key=lambda r: (-score.get(uid[r], 0.0), shard[r], doc[r]))
    topk = [{"uniqueId": str(uid[r]), "score": float(score.get(uid[r], 0.0))} for r in ranked[: req.amount]]
    return {"totalHits": len(rows), "topk": topk}


def cached_json(cache_dir: str, key: str, compute):
    """``compute()``'s JSON value, cached in ``cache_dir`` under ``key``."""
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(value, fh)
    os.replace(path + ".tmp", path)
    return value


def oracle_answers(corpus: pd.DataFrame, todo: dict[str, tuple[SearchRequest, tuple | None]]) -> dict:
    """Expected result per request id. ``todo`` maps request id to
    (request, ``n_chars`` range or None)."""
    from zuliasearch_spark.oracle.bm25_oracle import OracleIndex

    oracle = OracleIndex(corpus, index_config())
    n_chars = corpus["n_chars"].to_numpy()
    memo: dict[SearchRequest, dict] = {}
    out = {}
    for rid, (req, rng) in todo.items():
        if req not in memo:
            memo[req] = oracle.search(req) if rng is None else _range_answer(oracle, req, rng, n_chars)
        out[rid] = memo[req]
    return out


def oracle_index_stats(corpus: pd.DataFrame, seed: int, n_sample: int = 40) -> dict:
    """What a correct index of ``corpus`` holds, per the oracle's own
    analysis, shard routing and doc-id assignment (arrival order within
    a shard): docs per shard, the uniqueId of every (shard, doc_id),
    (doc_count, sum_dl) per (field, shard), (df, ttf) per (field, shard,
    term), and the ascending doc ids and their tfs of a seeded sample
    of ``n_sample`` terms."""
    from zuliasearch_spark.oracle.bm25_oracle import OracleIndex

    oracle = OracleIndex(corpus, index_config())
    shard = np.asarray(oracle.shard)
    fields, terms, pairs = {}, {}, {}
    for f, fi in oracle.fields.items():
        for s in fi.doc_count:
            fields[f"{f}\t{s}"] = [fi.doc_count[s], fi.sum_dl[s]]
        g = pd.DataFrame({"shard": shard[fi.row], "term": fi.term, "tf": fi.tf, "doc": oracle.doc_id[fi.row]})
        agg = g.groupby(["shard", "term"])["tf"].agg(["size", "sum"])
        for (s, t), (df, ttf) in zip(agg.index, agg.to_numpy().tolist()):
            terms[f"{f}\t{s}\t{t}"] = [df, ttf]
        pairs[f] = g
    keys = sorted(terms)
    rng = np.random.default_rng((seed, 9))
    postings = {}
    for k in sorted(rng.choice(len(keys), size=min(n_sample, len(keys)), replace=False).tolist()):
        f, s, t = keys[k].split("\t")
        g = pairs[f]
        hit = g[(g["shard"] == int(s)) & (g["term"] == t)].sort_values("doc")
        postings[keys[k]] = [hit["doc"].tolist(), hit["tf"].tolist()]
    docs = np.bincount(shard, minlength=SHARDS).tolist()
    doc_map = {}
    for s in range(SHARDS):
        rows = np.flatnonzero(shard == s)
        doc_map[str(s)] = oracle.uid[rows[np.argsort(oracle.doc_id[rows])]].astype(str).tolist()
    return {"shard_docs": {str(s): n for s, n in enumerate(docs)}, "doc_map": doc_map,
            "fields": fields, "terms": terms, "postings": postings}


def mismatch(expected: dict, got: dict) -> str | None:
    """Why ``got`` differs from the oracle answer, or None: ranked
    uniqueIds identical, scores within 1e-4, totalHits exact."""
    if got.get("totalHits") != expected["totalHits"]:
        return f"totalHits {got.get('totalHits')} != {expected['totalHits']}"
    e_ids = [t["uniqueId"] for t in expected["topk"]]
    g_ids = [t.get("uniqueId") for t in got.get("topk", ())]
    if e_ids != g_ids:
        return f"ranked ids differ: {g_ids[:3]}... vs {e_ids[:3]}..."
    for a, b in zip(expected["topk"], got["topk"]):
        if abs(a["score"] - b["score"]) >= SCORE_TOL:
            return f"score {b['score']} vs {a['score']} for {a['uniqueId']}"
    return None
