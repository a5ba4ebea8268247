"""Training-data pipeline operators over the documents/embeddings tables.

The large-scale data-pipeline companion to the search engine:
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding near-dup), similarity search (brute-force + IVF), text
analysis (language-ID, quality scoring, winnowing fingerprints), and
multimodal binary plumbing. Every operator is expressed with built-in
``pyspark.sql.functions`` (whole-stage codegen; the only shuffles are
the aggregations/joins the algorithms inherently need) and has a
DuckDB-expressible oracle in ``zuliasearch_spark.gate``.

Determinism across engines: token/shingle hashing uses the first 8
hex chars of md5 as a 32-bit integer (identical in Spark `conv` and
DuckDB hex-cast — verified), permutation hashing uses
``(a*x + b) mod P`` with ``a,b < 2^30`` and P=4294967311 (a*x ≤ 2^62,
no int64 overflow), and floating-point outputs are rounded before
ordering/comparison.

Scale notes (100 TB):
- MinHash/LSH: one shuffle to aggregate signatures (map-side
  combine), one shuffle for the band self-join; band keys are
  uniformly distributed by construction so the join does not skew.
- SimHash / quality / lang-id / winnowing: per-row array expressions
  inside codegen — embarrassingly parallel, zero or one shuffle.
- IVF: centroid table is tiny (≤ #labels) and broadcast; the probe
  prunes the scan to one centroid's partition — the brute-force
  cosine stays as the verification baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---- shared constants (mirrored into the SQL oracles) -------------------

MINHASH_P = 4294967311  # prime > 2^32
# 16 deterministic (a, b) permutation constants, a odd, < 2^30
MINHASH_AB = [
    (440509163, 896051669), (467929741, 552527933), (8189219, 405138723),
    (796359387, 18346013), (324221089, 973667265), (830083271, 551247907),
    (541294541, 281924893), (984037783, 910706683), (117884623, 704103097),
    (537069337, 289685891), (889009747, 30604823), (973446971, 838879457),
    (18261169, 784672041), (102476465, 90547543), (232439753, 276466967),
    (809747, 47469283),
]
MINHASH_PERMS = len(MINHASH_AB)
MINHASH_BAND_ROWS = 4


def minhash_perm_constants(n_perms: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation constants for any signature
    size. The first 16 are the frozen MINHASH_AB list (the SQL
    oracles mirror them); beyond 16, constants derive from a
    counter-mode md5 so a 128- or 256-perm config is reproducible
    across runs with no RNG state — the same determinism rule as
    the sign-LSH hyperplanes."""
    import hashlib

    out = list(MINHASH_AB[:n_perms])
    i = len(out)
    while len(out) < n_perms:
        d = hashlib.md5(f"minhash-perm-{i}".encode()).hexdigest()
        a = (int(d[:8], 16) | 1) % (1 << 30)  # odd, < 2^30
        b = int(d[8:16], 16) % (1 << 30)
        out.append((a or 1, b))
        i += 1
    return out


def lsh_false_negative_rate(s: float, n_perms: int, band_rows: int) -> float:
    """P(an s-similar pair shares NO band) = (1 − s^r)^b — the LSH
    S-curve's miss side (Leskovec/Rajaraman/Ullman, MMDS §3.4). The
    dedup contract at a Jaccard threshold t is this number at s=t."""
    n_bands = n_perms // band_rows
    return (1.0 - s**band_rows) ** n_bands


def lsh_tuning(
    threshold: float, n_perms: int, max_fn_rate: float = 0.05
) -> tuple[int, int]:
    """(band_rows, n_bands) for a Jaccard ``threshold``: the largest
    row count r dividing n_perms whose false-negative rate at the
    threshold stays ≤ max_fn_rate — larger r suppresses sub-threshold
    candidates (fewer false positives to verify) while the bound
    keeps in-contract recall. Raises when even r=1 misses too often —
    the signal that n_perms itself is too small for the contract
    (e.g. 16 perms cannot hold a 0.8-threshold dedup to 5% misses:
    callers at corpus scale pass n_perms=128/256)."""
    best = None
    for r in range(1, n_perms + 1):
        if n_perms % r:
            continue
        if lsh_false_negative_rate(threshold, n_perms, r) <= max_fn_rate:
            best = r
    if best is None:
        raise ValueError(
            f"{n_perms} permutations cannot bound the false-negative rate at "
            f"threshold {threshold} to {max_fn_rate} even with 1-row bands; "
            f"raise n_perms (128/256 are typical at a 0.8 threshold)"
        )
    return best, n_perms // best
SIMHASH_BITS = 64  # 32 bits collides heavily at 1e9+ docs
WINNOW_K = 5  # tokens per k-gram
WINNOW_W = 4  # k-grams per window

LANG_LEX = {
    "de": "der die und das von zu mit den auf ist".split(),
    "en": "the and of to in is for with on as".split(),
    "es": "el la de que y en un por con los".split(),
    "fr": "le la et les des en un du que ou".split(),
}
STOPWORDS_10 = LANG_LEX["en"]

TOKS = "filter(split(lower(text), ' '), x -> x <> '')"
# 32-bit md5-derived token/shingle hash — identical in Spark and DuckDB
H32 = "cast(conv(substr(md5({x}), 1, 8), 16, 10) as bigint)"
# second independent 32-bit word (md5 chars 9-16) for 64-bit simhash
H32B = "cast(conv(substr(md5({x}), 9, 8), 16, 10) as bigint)"


def _toks(df: DataFrame) -> DataFrame:
    return df.withColumn("toks", F.expr(TOKS))


# ---- dedup: MinHash + LSH ----------------------------------------------


def minhash_signatures(docs: DataFrame, n_perms: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, mh0..mh{n_perms-1}): min-hash over word 3-shingles.

    ``n_perms`` sizes the signature (default 16, the SQL-oracle
    shape): the estimator's std-error is ~sqrt(s(1-s)/n), and the LSH
    S-curve sharpness at a dedup threshold is bounded by the
    available (band_rows, n_bands) factorizations — a 0.8-threshold
    contract at corpus scale wants 128/256 perms (lsh_tuning raises
    when the count can't hold the false-negative bound)."""
    sh = (
        _toks(docs)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) >= 3 THEN "
                    "transform(sequence(0, size(toks)-3), "
                    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) "
                    "ELSE array(concat_ws(' ', toks)) END"
                )
            ).alias("sh"),
        )
        .withColumn("x", F.expr(H32.format(x="sh")))
    )
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{j}")
        for j, (a, b) in enumerate(minhash_perm_constants(n_perms))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, band_rows: int = MINHASH_BAND_ROWS
) -> DataFrame:
    """LSH banding: docs sharing any band → candidate pair + #matching
    minhashes (est. Jaccard = n_match / n_perms).

    ``band_rows`` (r) and the signature width (n, from the mh columns)
    set the S-curve P(candidate | s) = 1 − (1 − s^r)^(n/r): more rows
    per band suppress low-similarity candidates, more bands raise
    recall at the threshold. Pick (r, b) with lsh_tuning(threshold,
    n_perms) — the default 16/4 mirrors the SQL oracle; a 0.8
    dedup contract at 100 TB runs 128 perms with r from lsh_tuning."""
    n_perms = sum(1 for c in sigs.columns if c.startswith("mh"))
    if n_perms % band_rows:
        raise ValueError(f"band_rows {band_rows} must divide n_perms {n_perms}")
    n_bands = n_perms // band_rows
    # single-pass banding via explode (a per-band unionByName would
    # recompute the signature aggregation once per band)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"mh{j}").cast("string")
                        for j in range(b * band_rows, (b + 1) * band_rows)
                    ],
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sigs.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.sig").alias("sig")
    )
    left = bands.select(F.col("doc_id").alias("a"), "band", "sig")
    right = bands.select(F.col("doc_id").alias("b"), "band", "sig")
    pairs = (
        left.join(right, ["band", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n_perms)])
    sb = sigs.select(F.col("doc_id").alias("b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n_perms)])
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(n_perms)
    )
    return (
        pairs.join(sa, "a").join(sb, "b")
        .select("a", "b", matches.cast("long").alias("n_match"))
    )


# ---- dedup: SimHash -----------------------------------------------------


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 64-bit tf-weighted SimHash fingerprint.

    The per-bit ±tf sums run as 64 conditional-sum AGGREGATE
    EXPRESSIONS in one groupBy — no 64× row explosion (the round-1
    version inflated the shuffle by exploding a row per bit), so
    shuffle bytes stay proportional to distinct (doc, term). The
    64-bit hash comes from two md5 words (chars 1-8 and 9-16); bit 63
    is the sign bit, added as the negative long literal."""
    tf = (
        _toks(docs)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("x1", F.expr(H32.format(x="term")))
        .withColumn("x2", F.expr(H32B.format(x="term")))
    )
    bit_sums = [
        F.sum(
            F.expr(
                f"CASE WHEN (shiftright({'x1' if j < 32 else 'x2'}, {j % 32}) & 1) = 1 "
                "THEN tf ELSE -tf END"
            )
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = tf.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(SIMHASH_BITS):
        bit = -(1 << 63) if j == 63 else (1 << j)
        term = F.when(F.col(f"s{j}") > 0, F.lit(bit).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return per_doc.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_block_combos(
    max_hamming: int, blocks: int | None = None, bits: int = SIMHASH_BITS
) -> tuple[list[tuple[int, int]], list[tuple[int, ...]]]:
    """Manku-style multi-table blocking (Manku, Jain & Das Sarma,
    "Detecting Near-Duplicates for Web Crawling", WWW 2007 §3): split
    the fingerprint into ``blocks`` near-equal bit blocks and key
    each table on a COMBINATION of ``blocks − max_hamming`` blocks.
    ≤ max_hamming differing bits touch at most max_hamming blocks, so
    two in-budget fingerprints agree on ≥ blocks − max_hamming blocks
    — hence on EVERY block of at least one combination. Completeness
    holds like single-band pigeonhole, but the keys are
    ``blocks − max_hamming`` blocks WIDE: at the default h=6,
    blocks=8 gives C(8,2)=28 tables keyed on 16-bit block pairs
    (65,536 bucket values/table) where r4's 7 single bands had ≤1024
    values — bucket occupancy at a given corpus size drops by the
    extra key width's 2^k factor, and ``blocks`` is the dial: more
    blocks ⇒ wider keys (combinatorially more tables), sized so
    2^key_bits ≳ corpus size keeps the per-bucket self-join O(1).

    Returns (block layout [(offset, width)], key combinations).
    """
    import itertools

    if blocks is None:
        blocks = min(bits, max_hamming + 2)
    if not (max_hamming < blocks <= bits):
        raise ValueError(
            f"need max_hamming < blocks <= {bits} (got h={max_hamming}, blocks={blocks})"
        )
    base, rem = divmod(bits, blocks)
    layout, off = [], 0
    for i in range(blocks):
        w = base + (1 if i < rem else 0)
        layout.append((off, w))
        off += w
    k = blocks - max_hamming
    return layout, list(itertools.combinations(range(blocks), k))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 6, blocks: int | None = None
) -> DataFrame:
    """Near-duplicate candidate pairs by SimHash Hamming distance.

    Multi-table blocking (simhash_block_combos) makes this scale-safe
    AND complete: each fingerprint emits one key per block
    COMBINATION; two fingerprints within the distance budget share
    every block of at least one combination, so the self-join runs
    per (table, key) bucket — never all-pairs, no silently missed
    in-contract pair — with keys wide enough (16 bits at the default
    h=6/blocks=8; raise ``blocks`` for wider) that bucket occupancy
    stays small at corpus scale. Survivors are filtered by exact
    popcount(xor) ≤ max_hamming, so the RESULT is independent of the
    blocking scheme.
    """
    fp = simhash(docs)
    # ONE pass: blocking via explode of per-row (table, key) structs —
    # a unionByName of per-table selects would recompute the whole
    # fingerprint aggregation once per table. Arithmetic shift is
    # fine: sign-extension bits land above the mask for every block,
    # including the one holding bit 63.
    layout, combos = simhash_block_combos(max_hamming, blocks)
    structs = []
    for t, combo in enumerate(combos):
        parts, shift = [], 0
        for b in combo:
            off, width = layout[b]
            parts.append(f"((shiftright(simhash, {off}) & {(1 << width) - 1}) << {shift})")
            shift += width
        structs.append(
            F.struct(F.lit(t).alias("band"), F.expr(" | ".join(parts)).alias("bv"))
        )
    band_structs = F.array(*structs)
    bands = fp.select("doc_id", "simhash", F.explode(band_structs).alias("b")).select(
        "doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
    )
    # alias-based self-join keeps BOTH sides the same canonical
    # subplan, so the (band, bv) shuffle is computed once and
    # ReusedExchange feeds the other side — renaming columns below
    # the join would make the subtrees differ and re-run the whole
    # fingerprint aggregation per side
    lft, rgt = bands.alias("l"), bands.alias("r")
    return (
        lft.join(
            rgt,
            (F.col("l.band") == F.col("r.band")) & (F.col("l.bv") == F.col("r.bv")),
        )
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def jaccard_pairs(docs: DataFrame, pairs: DataFrame, shingle_len: int = 3) -> DataFrame:
    """Exact word-shingle Jaccard for GIVEN candidate pairs — the
    verify stage a dedup pipeline runs after LSH candidate
    generation (compare vs round 1's consecutive-ids-only scorer).

    Scale: shingles explode once, then two hash joins against the
    (small) pair list; work is O(candidate pairs × shingles/doc),
    never all-pairs.
    """
    sh = (
        _toks(docs)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(toks) >= {shingle_len} THEN "
                    f"array_distinct(transform(sequence(0, size(toks)-{shingle_len}), "
                    f"i -> concat_ws(' ', slice(toks, i+1, {shingle_len})))) "
                    "ELSE array(concat_ws(' ', toks)) END"
                )
            ).alias("sh"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a_sh = sh.select(F.col("doc_id").alias("a"), "sh")
    b_sh = sh.select(F.col("doc_id").alias("b2"), F.col("sh").alias("sh_b"))
    inter = (
        pairs.join(a_sh, "a")
        .join(b_sh, (F.col("b") == F.col("b2")) & (F.col("sh") == F.col("sh_b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    return (
        pairs.join(inter, ["a", "b"], "left")
        .join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("n_inter"), F.lit(0))),
                4,
            ).alias("jaccard"),
        )
    )


# ---- dedup: n-gram Jaccard ---------------------------------------------


def ngram_jaccard_consecutive(docs: DataFrame) -> DataFrame:
    """Char-trigram Jaccard for consecutive doc-id pairs (a, a+1) —
    the oracle-checkable core of near-dup scoring; candidate-pair
    generation at scale comes from LSH buckets (lsh_candidate_pairs)."""
    tri = docs.select(
        "doc_id",
        F.explode(
            F.expr("array_distinct(transform(sequence(1, greatest(length(text)-2, 1)), i -> substring(text, i, 3)))")
        ).alias("g"),
    )
    a = tri.select(F.col("doc_id").alias("a"), "g")
    b = tri.select((F.col("doc_id") - 1).alias("a"), F.col("g").alias("g2"))
    inter = a.join(b, (a["a"] == b["a"]) & (a["g"] == b["g2"])).groupBy(a["a"].alias("a")).agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    sizes = tri.groupBy(F.col("doc_id").alias("a")).agg(F.count(F.lit(1)).alias("n"))
    sz_a = sizes.select("a", F.col("n").alias("na"))
    sz_b = sizes.select((F.col("a") - 1).alias("a"), F.col("n").alias("nb"))
    return (
        inter.join(sz_a, "a")
        .join(sz_b, "a")
        .select(
            "a",
            (F.col("a") + 1).alias("b"),
            F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4).alias(
                "jaccard"
            ),
        )
    )


# ---- similarity: embeddings --------------------------------------------


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b):
    """Codegen cosine. The denominator is nullif-guarded: a
    zero-magnitude side yields NULL instead of an ANSI
    divide-by-zero — the ingest guard (builder._guard_zero_vectors)
    rejects stored zero vectors, this covers ad-hoc frames that never
    passed through an index build (Lucene rejects the same vectors at
    store time, VectorUtil.cosine)."""
    return _dot(a, b) / F.nullif(F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)), F.lit(0.0))


def hyperplanes(n_planes: int, dims: int):
    """Deterministic pseudo-random unit hyperplanes for sign-LSH:
    plane[p][d] derives from a counter-mode hash (no RNG state, same
    planes on every engine/run). At scale n_planes grows with
    log2(n) so bucket occupancy stays O(1) instead of O(n/2^k)."""
    import hashlib

    import numpy as np

    out = np.empty((n_planes, dims), dtype=np.float64)
    for p in range(n_planes):
        h = hashlib.sha256(f"plane:{p}".encode()).digest()
        # expand to dims uint32s deterministically
        buf = b"".join(
            hashlib.sha256(h + i.to_bytes(4, "little")).digest() for i in range((dims * 4 + 31) // 32)
        )
        u = np.frombuffer(buf[: dims * 4], dtype="<u4").astype(np.float64)
        out[p] = (u / 2**32) * 2.0 - 1.0
        out[p] /= np.linalg.norm(out[p])
    return out


def neardup_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    n_planes: int | None = None,
    oracle_mode: bool = False,
) -> DataFrame:
    """Sign-LSH bucketing then exact cosine within buckets; pairs
    above threshold.

    The scale path is the DEFAULT: ``n_planes`` auto-derives from a
    one-time count — ``max(6, ceil(log2(n)))`` deterministic
    pseudo-random hyperplanes (``hyperplanes``) keep expected bucket
    occupancy O(1), so the within-bucket self-join stays quadratic
    only in a constant instead of O(n²/2^planes) with a fixed plane
    count. ``oracle_mode=True`` pins the SQL-reproducible fixed
    configuration (signs of dims 0..5 → 64 buckets) for the DuckDB
    correctness gate. Precision is exact either way (every candidate
    is cosine-verified); bucketing only affects recall.
    """
    if not oracle_mode:
        if n_planes is None:
            import math

            n_planes = max(6, math.ceil(math.log2(max(2, emb.count()))))
        dims = len(emb.select("embedding").head()[0])
        planes = hyperplanes(n_planes, dims)
        bits = [
            F.when(_dot(F.col("embedding"), F.array(*[F.lit(float(v)) for v in p])) >= 0, "1").otherwise("0")
            for p in planes
        ]
        bucket = F.concat(*bits)
    else:
        bucket = F.expr(
            "concat_ws('', transform(slice(embedding, 1, 6), x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END))"
        )
    with_b = emb.select("vec_id", "embedding", bucket.alias("bucket"))
    a = with_b.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"), "bucket")
    b = with_b.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("c"))
        .filter(F.col("c") >= F.lit(threshold))
        .select("a", "b", F.round("c", 4).alias("cosine"))
    )


def kmeans_centroids(emb: DataFrame, n_cells: int = 8, iters: int = 20, max_sample: int = 65536):
    """Deterministic spherical k-means for IVF coarse quantization.

    Training runs driver-side in NumPy over a deterministic sample
    (every m-th vec_id, m chosen so ≤ max_sample rows come back) —
    the standard IVF recipe: the index TRAINS on a sample, ASSIGNS
    distributively. Init = greedy maximin (farthest-point) seeding
    from vector 0 — deterministic (no RNG, reproducible across
    engines/runs) and well-spread like k-means++; then Lloyd's
    iterations on normalized vectors (cosine ≡ dot). Ground-truth
    ``label`` columns are never consulted.
    """
    import numpy as np

    n = emb.count()
    mod = max(1, n // max_sample)
    sample = (
        emb.filter(F.col("vec_id") % mod == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    x = np.array([r["embedding"] for r in sample], dtype=np.float64)
    return kmeans_centroids_np(x, n_cells=n_cells, iters=iters)


def kmeans_centroids_np(x, n_cells: int = 8, iters: int = 20):
    """Driver-side spherical k-means over an already-collected sample
    matrix (rows = vectors). Deterministic: maximin seeding from row
    0, then Lloyd's iterations on the unit sphere — shared by
    kmeans_centroids (pipeline IVF) and the index builder's
    VectorConfig index_type="IVF" training."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = x / norms
    n_cells = min(n_cells, len(x))
    chosen = [0]
    d = 1.0 - x @ x[0]
    for _ in range(n_cells - 1):
        nxt = int(np.argmax(d))
        chosen.append(nxt)
        d = np.minimum(d, 1.0 - x @ x[nxt])
    cent = x[chosen].copy()
    for _ in range(iters):
        sims = x @ cent.T
        assign = np.argmax(sims, axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                v = x[m].sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    cent[c] = v / nv
    return cent


def ivf_cell_expr(centroids, col: str = "embedding") -> "F.Column":
    """Codegen expression assigning each row's nearest-centroid cell:
    argmax over dot products with the broadcast centroid literals —
    no UDF, no shuffle.

    Expression size is LINEAR in #cells: each dot appears once inside
    an array, argmax = array_position(arr, array_max(arr)). (A
    when-chain carrying the running best would nest the previous best
    3× per step — ~3^cells expression nodes, which stalls Catalyst
    analysis beyond ~12 cells.) Ties break to the lowest cell id,
    matching np.argmax."""
    # argmax over cells needs only raw dots with the UNIT centroids:
    # the row's own norm is constant across cells
    dots = [
        _dot(F.col(col), F.array(*[F.lit(float(v)) for v in c])) for c in centroids
    ]
    arr = F.array(*dots)
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 3,
    centroids=None,
) -> DataFrame:
    """IVF ANN: k-means-trained coarse centroids (kmeans_centroids —
    NOT the ground-truth labels), probe the ``nprobe`` nearest cells,
    exact cosine within them.

    Scale: centroids are literals in codegen (broadcast by plan); the
    cell filter prunes the scan to ~nprobe/n_cells of the data. In a
    production index the cell id is a partition column written at
    ingest so probing prunes at the file level; recall vs the
    brute-force baseline is asserted in tests (recall@10 ≥ 0.9).
    """
    import numpy as np

    if centroids is None:
        centroids = kmeans_centroids(emb, n_cells=n_cells)
    qv = np.array(
        emb.filter(F.col("vec_id") == query_vec_id).select("embedding").head()[0],
        dtype=np.float64,
    )
    qn = qv / np.linalg.norm(qv)
    order = np.argsort(-(centroids @ qn), kind="stable")[:nprobe]
    probe = set(int(i) for i in order)
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    cell = ivf_cell_expr(centroids)
    return (
        emb.withColumn("_cell", cell)
        .filter(F.col("_cell").isin(list(probe)))
        .select("vec_id", F.round(cosine(F.col("embedding"), qlit), 6).alias("c"))
        .orderBy(F.desc(F.round("c", 6)), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("c", 4).alias("cosine"))
    )


# ---- text analysis ------------------------------------------------------


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-lexicon language ID (n-gram-free heuristic): count
    hits per language's 10-word lexicon, argmax (ties → lang asc,
    all-zero → 'und')."""
    df = _toks(docs)
    scores = []
    for lang, lex in sorted(LANG_LEX.items()):
        inlist = ", ".join(f"'{w}'" for w in lex)
        scores.append(
            F.expr(f"size(filter(toks, x -> x IN ({inlist})))").alias(f"s_{lang}")
        )
    df = df.select("doc_id", *scores)
    langs = sorted(LANG_LEX)
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → apply last
        pred = F.when((best > 0) & (F.col(f"s_{lang}") == best), lang).otherwise(pred)
    return df.select("doc_id", pred.alias("pred_lang"), best.cast("long").alias("best_score"))


def quality_score(docs: DataFrame) -> DataFrame:
    """Length/stopword/digit heuristics → one quality scalar."""
    stop = ", ".join(f"'{w}'" for w in STOPWORDS_10)
    df = _toks(docs).select(
        "doc_id",
        F.expr("size(toks)").cast("long").alias("n_toks"),
        F.expr(f"size(filter(toks, x -> x IN ({stop})))").cast("long").alias("n_stop"),
        F.length("text").cast("long").alias("n_chars"),
        (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", "")))
        .cast("long")
        .alias("n_digit"),
    )
    # quality = 0.4·stop_ratio + 0.3·min(avg_tok_len/10, 1) + 0.3·(1 − digit_ratio)
    # computed as an EXACT integer rational rounded to 4 decimals —
    # ((20000·num + den) div (2·den)) / 1e4 — so a cross-engine fp ulp
    # can never flip the rounding at a .00005 boundary.
    num = (
        "(40 * n_stop * n_chars"
        " + 3 * least(n_chars - n_toks + 1, 10 * n_toks) * n_chars"
        " + 30 * (n_chars - n_digit) * n_toks)"
    )
    den = "(100 * n_toks * n_chars)"
    return df.select(
        "doc_id",
        F.col("n_toks").cast("long").alias("n_toks"),
        (F.expr("(20000 * n_stop + n_toks) div (2 * n_toks)") / F.lit(10000.0)).alias("stop_ratio"),
        (F.expr(f"(20000 * {num} + {den}) div (2 * {den})") / F.lit(10000.0)).alias("quality"),
    )


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every K-token gram, take the min of each W-length window,
    dedupe → fingerprint set. All inside codegen (array exprs)."""
    k, w = WINNOW_K, WINNOW_W
    grams = (
        f"transform(sequence(0, size(toks)-{k}), "
        f"i -> {H32.format(x=f'''concat_ws(' ', slice(toks, i+1, {k}))''')})"
    )
    expr = (
        f"CASE WHEN size(toks) >= {k + w - 1} THEN "
        f"array_distinct(transform(sequence(0, size(toks)-{k}-{w - 1}), "
        f"j -> array_min(slice(gs, j+1, {w})))) "
        f"WHEN size(toks) >= {k} THEN array(array_min(gs)) "
        f"ELSE array() END"
    )
    return (
        _toks(docs)
        .withColumn("gs", F.expr(grams))
        .withColumn("fps", F.expr(expr))
        .select(
            "doc_id",
            F.size("fps").cast("long").alias("n_fp"),
            F.expr("array_min(fps)").cast("long").alias("min_fp"),
        )
    )


# ---- multimodal plumbing ------------------------------------------------


def multimodal_meta(docs: DataFrame) -> DataFrame:
    """Opaque-binary plumbing: treat the utf-8 bytes of `text` as a
    blob column with typed metadata (the schema/partitioning pattern
    for image/audio payloads; see multimodal_decode for the stub UDF
    path)."""
    blob = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("n_bytes"),
        F.sha2(blob, 256).alias("sha"),
        F.substring("text", 1, 12).alias("head"),
    )


def multimodal_decode(docs: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas decode stage over binary payloads.

    Real image/audio decoding libraries are unavailable in this
    container, so the decode is STUBBED: ``fake=True`` emits a
    deterministic byte-derived feature (every-Nth-byte sample), and
    ``fake=False`` raises NotImplementedError where a PIL/ffmpeg call
    would go. The Spark-side plumbing — binary column in Arrow
    batches, schema, partition-preserving mapInPandas — is real.
    """
    import pandas as pd

    def decode(batches):
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real decode needs an image/audio codec library; "
                    "wire PIL/torchaudio here outside the sandbox"
                )
            blobs = [t.encode("utf-8") for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(b) for b in blobs],
                    "frame_sample": [b[::max(1, len(b) // 8)][:8].hex() for b in blobs],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        decode, "doc_id long, n_bytes long, frame_sample string"
    )


# ---- PII scrubbing / URL extraction / repetition quality -----------------
#
# Standard training-data pipeline hygiene ops (the reference has no
# analogue; these extend the documents-table surface the way lang_id /
# quality_score do). Patterns stay inside RE2 ∩ Java-regex (no
# lookaround, no backreferences) so the Spark plan and the DuckDB
# oracle compile the same automaton.

PII_PATTERNS = (
    # applied in this order, left-to-right non-overlapping in both engines
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("ipv4", r"\b(?:\d{1,3}\.)(?:\d{1,3}\.)(?:\d{1,3}\.)\d{1,3}\b"),
)

URL_PATTERN = r"https?://[^ ]+"
URL_DOMAIN = r"https?://([^/ :]+)"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Count + redact PII-shaped spans (emails, NANP phones, SSNs,
    IPv4s): per-doc match counts and the sha256 of the redacted text.
    Pure `regexp_count`/`regexp_replace` codegen — zero shuffle, the
    per-row cost is the regex automaton, embarrassingly parallel at
    any scale."""
    out = docs.select("doc_id", "text")
    counts = [
        F.regexp_count("text", F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS
    ]
    clean = F.col("text")
    for _name, pat in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, "[PII]")
    return out.select(
        "doc_id",
        *counts,
        (sum(F.regexp_count("text", F.lit(p)).cast("long") for _, p in PII_PATTERNS)).alias("n_redacted"),
        F.sha2(F.encode(clean, "utf-8"), 256).alias("clean_sha"),
    )


def url_stats(docs: DataFrame) -> DataFrame:
    """Extract URLs per doc: count + distinct registrable hosts. The
    domain pull is a regexp_extract inside an array lambda — still
    whole-stage codegen, no explode, no shuffle."""
    urls = F.expr(f"regexp_extract_all(text, '{URL_PATTERN}', 0)")
    domains = f"array_distinct(transform(regexp_extract_all(text, '{URL_PATTERN}', 0), u -> regexp_extract(u, '{URL_DOMAIN}', 1)))"
    return docs.select(
        "doc_id",
        F.size(urls).cast("long").alias("n_urls"),
        F.expr(f"size({domains})").cast("long").alias("n_domains"),
        F.expr(f"array_join(array_sort({domains}), ',')").alias("domains"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, public):
    type/token ratio, top-token fraction, duplicate-2-gram fraction.

    Scale note: computed via explode + two keyed aggregations (shuffle
    ∝ total tokens, map-side combined) rather than per-row quadratic
    array lambdas — a 100k-token document costs O(n log n) in the
    shuffle, not O(n²) in codegen. Ratios are exact integer rationals
    rounded to 4 decimals with the same div trick as quality_score so
    a cross-engine fp ulp can never flip the rounding."""
    base = _toks(docs).select(
        "doc_id", F.expr("size(toks)").cast("long").alias("n_toks"), "toks"
    )
    tok_counts = (
        base.select("doc_id", "n_toks", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "n_toks", "tok")
        .count()
        .groupBy("doc_id", "n_toks")
        .agg(F.max("count").alias("top_tok"), F.count(F.lit(1)).alias("n_types"))
    )
    # size(toks) < 2 must be filtered first: Spark's sequence(0, -1)
    # counts DOWN ([0, -1]), which would fabricate NULL grams
    grams = base.filter(F.col("n_toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))")
        ).alias("g"),
    )
    gram_counts = (
        grams.groupBy("doc_id", "g")
        .count()
        .groupBy("doc_id")
        .agg(F.sum("count").alias("n_2g"), F.count(F.lit(1)).alias("n_2g_types"))
    )
    j = tok_counts.join(gram_counts, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        "n_types",
        F.coalesce("n_2g", F.lit(0)).alias("n_2g"),
        F.coalesce("n_2g_types", F.lit(0)).alias("n_2g_types"),
        "top_tok",
    )
    r4 = lambda num, den: (  # round(num/den, 4) as exact integer math
        F.expr(f"(20000 * {num} + {den}) div (2 * {den})") / F.lit(10000.0)
    )
    return j.select(
        "doc_id",
        "n_toks",
        r4("n_types", "n_toks").alias("type_token_ratio"),
        r4("top_tok", "n_toks").alias("top_tok_frac"),
        F.when(F.col("n_2g") > 0, r4("(n_2g - n_2g_types)", "n_2g"))
        .otherwise(F.lit(0.0))
        .alias("dup_2gram_frac"),
    )


# ---- contamination / sequence packing / stratified sampling --------------
#
# The remaining ops a 100-TB pretraining pipeline runs between dedup and
# tokenization: benchmark-contamination flagging (GPT-3 App. C-style
# n-gram overlap), packing documents into fixed token budgets, and
# deterministic per-stratum downsampling.

GRAMS3 = (
    "CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks)-3), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) "
    "ELSE array(concat_ws(' ', toks)) END"
)

# stratified-sampling rates in BASIS POINTS (ints, never fractional
# doubles: Spark truncates double->long casts while DuckDB rounds, so a
# 0.3*10000 boundary could flip between engines)
SAMPLE_BP = {"en": 5000, "es": 3000, "de": 2000}
SAMPLE_BP_DEFAULT = 1000
SAMPLE_SALT = "strat"


def _r4(num, den):
    """round(num/den, 4) in exact integer math (same trick as
    quality_score): an fp ulp can never flip the rounding cross-engine."""
    return F.expr(f"(20000 * {num} + {den}) div (2 * {den})") / F.lit(10000.0)


def contamination(train: DataFrame, bench: DataFrame, min_frac: float = 0.0) -> DataFrame:
    """Benchmark-contamination stats per training doc: the fraction of
    its distinct word 3-grams that appear anywhere in the benchmark
    set (GPT-3 Appendix C / PaLM-style decontamination, public).

    Scale shape: the benchmark side is TINY relative to a 100-TB
    corpus (eval suites are megabytes), so its distinct-gram set is
    broadcast — the train side never shuffles for the membership
    probe; the only wide exchange is the per-doc distinct+count over
    (doc_id, gram), map-side combined."""
    dg = (
        _toks(train)
        .select("doc_id", F.explode(F.expr(GRAMS3)).alias("g"))
        .distinct()
    )
    bg = _toks(bench).select(F.explode(F.expr(GRAMS3)).alias("g")).distinct()
    tot = dg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hit = (
        dg.join(F.broadcast(bg), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    out = tot.join(hit, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        _r4("coalesce(n_contaminated, 0)", "n_grams").alias("contaminated_frac"),
    )
    if min_frac > 0:
        out = out.filter(F.col("contaminated_frac") >= min_frac)
    return out


def pack_sequences(docs: DataFrame, budget: int = 256, n_groups: int = 8) -> DataFrame:
    """Offset-based sequence packing: assign each doc a (pack_group,
    bin_id, bin_offset) for concatenation into fixed token budgets.
    A doc belongs to the bin its starting offset falls in; a doc that
    crosses a boundary overflows its bin (deterministic contract —
    greedy first-fit needs a sequential scan and is not worth a
    non-parallel plan).

    Scale shape: the running total is a window partitioned by
    pack_group, NOT a global orderBy — each group packs independently,
    so the plan is one hash exchange on pack_group and a per-partition
    sort; no single-reducer global sort at any corpus size. Choose
    n_groups ~ cluster parallelism at real scale."""
    from pyspark.sql import Window

    base = _toks(docs).select(
        "doc_id",
        F.expr("size(toks)").cast("long").alias("n_toks"),
        (F.col("doc_id") % n_groups).cast("long").alias("pack_group"),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_toks").over(w) - F.col("n_toks")
    return base.select(
        "doc_id",
        "pack_group",
        "n_toks",
        F.floor(start / budget).cast("long").alias("bin_id"),
        (start % budget).cast("long").alias("bin_offset"),
    )


def stratified_sample(docs: DataFrame, bp: dict | None = None,
                      default_bp: int = SAMPLE_BP_DEFAULT,
                      salt: str = SAMPLE_SALT) -> DataFrame:
    """Deterministic hash-based stratified sampling: keep a doc iff
    md5(salt || doc_id) % 10000 < rate_bp[stratum]. Reproducible
    across runs/engines (no RNG state), zero shuffle — the keep flag
    is a per-row expression, so the filter composes with any
    downstream plan without materializing the sample."""
    bp = SAMPLE_BP if bp is None else bp
    h = F.expr(H32.format(x=f"concat('{salt}', cast(doc_id as string))"))
    rate = F.lit(default_bp)
    for lang, r in sorted(bp.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return docs.withColumn("_sample_keep", (h % 10000) < rate)


def stratified_sample_report(docs: DataFrame, **kw) -> DataFrame:
    """Per-stratum totals + kept counts + achieved rate (one aggregate)."""
    s = stratified_sample(docs, **kw)
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("_sample_keep").cast("long")).alias("n_kept"),
        _r4("sum(cast(_sample_keep as long))", "count(1)").alias("kept_frac"),
    )


# ---- dedup: cluster formation (connected components) ---------------------


def connected_components(edges: DataFrame, src: str = "a", dst: str = "b",
                         max_iters: int = 25) -> DataFrame:
    """Connected components over an undirected edge list via
    alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014 — the published
    O(log^2 n)-round formulation for exactly this setting: components
    over dedup candidate pairs at cluster scale).

    Returns ``(id, component)`` for every node that appears in
    ``edges``; ``component`` is the minimum node id of the node's
    connected component. Nodes absent from ``edges`` are singletons
    and are the caller's concern (see ``dedup_clusters``).

    Scale shape: each half-round is one groupBy (min-neighbor, with
    map-side partial agg) plus one hash join and a distinct — all
    built-in codegen, no Python in the row path. Rounds converge in
    O(log^2 n) for worst-case path graphs and 2-3 rounds for the
    short/star-shaped components dedup actually produces. Lineage is
    truncated per round with ``localCheckpoint`` (on a real cluster
    prefer ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()``
    for fault tolerance beyond executor-local blocks); convergence is
    detected by a (count, xxhash64-xor) fingerprint, one tiny
    aggregate per round.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col(src) != F.col(dst))
        .distinct()
        # materialize once: e fans out into several union/join branches
        # per round, and Spark would recompute the (possibly expensive)
        # upstream pair-generation lineage along each branch
        .localCheckpoint(eager=True)
    )
    prev_fp = None
    for _ in range(max_iters):
        # large-star: connect every neighbor v > u to m = min(N(u) ∪ {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("u", "mv").alias("m"))
        e = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: canonicalize (u = max endpoint), connect every
        # smaller neighbor (and u itself) to m = min(N⁻(u))
        canon = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins = canon.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            canon.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent, overflow-free (rows are distinct)
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).first()
        fp = (row["n"], row["h"])
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        # the loop never observed a stable fingerprint: the edge set
        # is NOT a star graph, so labels derived from it would be
        # silently wrong — fail loud (Kiveris-style rounds converge in
        # O(log² n); 25 rounds covers any realistic graph, so hitting
        # this means pathological input or a bug upstream)
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            f"large-star/small-star rounds (last fingerprint {prev_fp}); "
            f"raise max_iters or inspect the edge list"
        )
    # converged: e is a star set (child → component-min root)
    roots = e.select(F.col("v").alias("id"), F.col("v").alias("component"))
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .union(roots)
        .distinct()
    )


def dedup_clusters(
    docs: DataFrame, threshold: float = 0.8, n_perms: int | None = None
) -> DataFrame:
    """End-to-end fuzzy-dedup clustering: MinHash signatures → LSH
    candidate pairs → exact word-shingle Jaccard verification at
    ``threshold`` → connected components → one canonical keeper per
    cluster (the minimum doc_id — deterministic across runs/engines).

    Returns ``(doc_id, cluster, keep)`` for EVERY document: docs with
    no verified near-duplicate are their own singleton cluster with
    ``keep = true``. ``docs.where(keep)`` is the deduplicated corpus.

    ``n_perms`` sizes the MinHash signature: when passed, band rows
    come from ``lsh_tuning(threshold, n_perms)``, which bounds the
    false-negative rate at the threshold; left at None the frozen
    16-perm/4-row oracle shape is used. Corpus-scale 0.8-threshold
    dedup should pass 128 — wider signatures sharpen the S-curve so
    the verify stage isn't flooded with sub-threshold candidates.

    Scale shape: the expensive stages are the LSH band self-join and
    the per-pair Jaccard verify, both bounded by candidate-pair count
    (never all-pairs); CC runs over the verified pairs only — a graph
    ~orders of magnitude smaller than the corpus.
    """
    if n_perms is None:
        # frozen default: the 16/4 oracle shape (SQL gates mirror it)
        n_perms, band_rows = MINHASH_PERMS, MINHASH_BAND_ROWS
    else:
        band_rows, _ = lsh_tuning(threshold, n_perms)
    cands = lsh_candidate_pairs(
        minhash_signatures(docs, n_perms=n_perms), band_rows=band_rows
    ).select("a", "b")
    verified = jaccard_pairs(docs, cands).where(F.col("jaccard") >= threshold)
    cc = connected_components(verified.select("a", "b"))
    comp = cc.withColumnRenamed("id", "doc_id")
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster"),
            (F.col("doc_id") == F.coalesce("component", F.col("doc_id"))).alias("keep"),
        )
    )


# ---- dedup: duplicated-span removal (C4-style) ---------------------------


def span_dedup(docs: DataFrame, span_tokens: int = 10) -> DataFrame:
    """Corpus-wide duplicated-span removal (the C4 pipeline's
    "discard any repeated three-sentence span" rule, re-expressed
    over fixed token windows since the corpus is unpunctuated):
    split each doc into non-overlapping ``span_tokens``-token
    windows, keep only the globally FIRST occurrence of each span
    (ordered by doc_id then position — deterministic across engines),
    and rebuild the cleaned text from the surviving spans.

    Returns ``(doc_id, n_spans, n_kept, text_kept)``.

    Scale shape: one explode + one groupBy on the span STRING (exact,
    no hash-collision risk at any corpus size; spans are short so the
    shuffle key stays small) + one hash join back + one per-doc
    aggregation. First-occurrence selection is ``min(struct(doc_id,
    pos))`` — a map-side-combinable aggregate, not a window over a
    global sort.
    """
    n_wins = f"greatest(cast(floor((size(toks)-1)/{span_tokens}) as int), 0)"
    spans = _toks(docs).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_wins}), "
                f"i -> concat_ws(' ', slice(toks, i*{span_tokens}+1, {span_tokens})))"
            )
        ).alias("i", "span"),
    ).where(F.col("span") != "")
    firsts = spans.groupBy("span").agg(F.min(F.struct("doc_id", "i")).alias("first"))
    kept = spans.join(firsts, "span").withColumn(
        "keep",
        (F.col("doc_id") == F.col("first.doc_id")) & (F.col("i") == F.col("first.i")),
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep"), F.struct("i", "span")))
                ),
                lambda s: s["span"],
            ),
        ).alias("text_kept"),
    )


def dedup_keep_best(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Fuzzy-dedup clustering with a QUALITY-preferring keeper:
    production pretraining pipelines keep the best document of a
    near-duplicate cluster (highest quality score, min doc_id
    tiebreak), not the first-seen one. Returns ``(doc_id, cluster,
    quality, keep)`` for every document.

    Scale shape: everything in ``dedup_clusters`` plus one window
    partitioned by cluster — clusters are tiny (near-dup groups), so
    the window is one hash exchange with no skew concern.
    """
    from pyspark.sql import Window

    clusters = dedup_clusters(docs, threshold).select("doc_id", "cluster")
    q = quality_score(docs).select("doc_id", "quality")
    j = clusters.join(q, "doc_id")
    w = Window.partitionBy("cluster").orderBy(F.desc("quality"), F.asc("doc_id"))
    return j.select(
        "doc_id", "cluster", "quality",
        (F.row_number().over(w) == 1).alias("keep"),
    )
