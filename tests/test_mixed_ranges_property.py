"""Property test for mixed-position doc-values trees: random nested
boolean queries (terms + year ranges anywhere, OR-groups with mm,
AND-groups, AND NOT wraps, optional-SHOULD groups) evaluated by the
engine's one kernel evaluator must return exactly the doc set a
brute-force Python evaluator computes over the corpus.

The generated grammar is restricted to shapes whose query-string
parse is unambiguous ("(a OR b)@m", "(a AND b)", "(a AND NOT b)",
"(a +b)"), so the oracle needs no reimplementation of Lucene's infix
occur logic: in "(a +b)" the explicit ``+`` makes b required and
leaves a optional, so the group matches exactly b's docs.
"""

import random

import pandas as pd
import pytest

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]


@pytest.fixture(scope="module")
def corpus_engine(spark):
    rng = random.Random(1234)
    rows = []
    for i in range(24):
        n = rng.randint(1, 4)
        text = " ".join(rng.choice(WORDS) for _ in range(n))
        rows.append((str(i), text, rng.randint(1990, 2030)))
    cfg = IndexConfig(
        index_name="prop",
        unique_id_col="uniqueId",
        number_of_shards=2,
        default_search_fields=("text",),
        field_configs=(
            FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),
        ),
    )
    pdf = pd.DataFrame(rows, columns=["uniqueId", "text", "year"])
    tables = build_index(
        spark.createDataFrame(pdf), cfg, stored_cols=("year",)
    ).persist()
    docs = {uid: (set(text.split()), year) for uid, text, year in rows}
    yield SearchEngine(tables), docs
    tables.unpersist()


def _gen(rng, depth):
    """Return (query_string, eval_fn(doc) -> bool)."""
    if depth == 0 or rng.random() < 0.35:
        if rng.random() < 0.5:
            w = rng.choice(WORDS)
            return f"text:{w}", lambda d, w=w: w in d[0]
        lo = rng.randint(1990, 2030)
        kind = rng.choice([">", "<", "range", "ns"])
        if kind == ">":
            return f"year>{lo}", lambda d, lo=lo: d[1] > lo
        if kind == "<":
            return f"year<{lo}", lambda d, lo=lo: d[1] < lo
        if kind == "range":
            hi = lo + rng.randint(0, 15)
            return (
                f"year:[{lo} TO {hi}]",
                lambda d, lo=lo, hi=hi: lo <= d[1] <= hi,
            )
        vals = sorted({rng.randint(1990, 2030) for _ in range(rng.randint(1, 3))})
        q = "year:zl:ns(" + " ".join(map(str, vals)) + ")"
        return q, lambda d, vs=set(vals): d[1] in vs
    kids = [_gen(rng, depth - 1) for _ in range(rng.randint(2, 3))]
    shape = rng.choice(["or", "or_mm", "and", "and_not", "opt_should"])
    if shape == "or":
        q = "(" + " OR ".join(k[0] for k in kids) + ")"
        return q, lambda d, ks=kids: any(f(d) for _, f in ks)
    if shape == "or_mm":
        mm = rng.randint(1, len(kids))
        q = "(" + " OR ".join(k[0] for k in kids) + f")@{mm}"
        return q, lambda d, ks=kids, mm=mm: sum(f(d) for _, f in ks) >= mm
    if shape == "and":
        q = "(" + " AND ".join(k[0] for k in kids) + ")"
        return q, lambda d, ks=kids: all(f(d) for _, f in ks)
    if shape == "opt_should":
        opt, req = kids[0], kids[1]
        return f"({opt[0]} +{req[0]})", req[1]
    pos, neg = kids[0], kids[1]
    q = f"({pos[0]} AND NOT {neg[0]})"
    return q, lambda d, p=pos[1], n=neg[1]: p(d) and not n(d)


@pytest.mark.parametrize("seed", [3, 17, 99])
def test_random_mixed_trees_match_brute_force(corpus_engine, seed):
    eng, docs = corpus_engine
    rng = random.Random(seed)
    checked = 0
    for _ in range(14):
        q, f = _gen(rng, depth=2)
        expect = {uid for uid, d in docs.items() if f(d)}
        res = eng.search_string(q, amount=50)
        got = {t["uniqueId"] for t in res["topk"]}
        assert res["totalHits"] == len(expect), (q, sorted(expect), sorted(got))
        assert got == expect, (q, sorted(expect - got), sorted(got - expect))
        checked += 1
    assert checked == 14
