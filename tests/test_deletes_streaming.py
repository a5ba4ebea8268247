"""Tombstone deletes + streaming incremental indexing."""

import pytest

from tests.conftest import code_config
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.indexing.segments import committed_segments, read_segmented_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import QueryClause as C
from zuliasearch_spark.search.query import SearchRequest


def test_delete_masks_and_counts(spark, corpus_t1):
    cfg = code_config(num_shards=2)
    tables = build_index(spark.createDataFrame(corpus_t1), cfg).persist()
    try:
        eng = SearchEngine(tables)
        req = SearchRequest((C("SCORE_SHOULD", q="parse", qf=("content",)),), amount=10)
        before = eng.search(req)
        victims = [t["uniqueId"] for t in before["topk"][:3]]
        assert eng.delete_by_unique_ids(victims) == 3
        after = eng.search(req)
        assert after["totalHits"] == before["totalHits"] - 3
        got = {t["uniqueId"] for t in after["topk"]}
        assert not (got & set(victims))
        # negative-only (MatchAll fix-up) path also excludes tombstones
        neg = SearchRequest((C("FILTER_NOT", q="lang:nonexistentlang"),), amount=5)
        n_all = eng.search(neg, fetch="none")["totalHits"]
        assert n_all == len(corpus_t1) - 3
        # fuzzy expansion reaches near-miss dictionary terms
        terms = eng.expand_fuzzy("content", "parsq", max_edits=1)
        assert "parse" in terms
        assert "content" in eng.get_field_names()
        # GetNumberOfDocs counts LIVE docs (IndexReader.numDocs excludes
        # deletions), and re-deleting already-tombstoned ids is a no-op
        assert sum(eng.get_number_of_docs().values()) == len(corpus_t1) - 3
        assert eng.delete_by_unique_ids(victims) == 0
        # tombstone doc 0 of every shard: each shard still answers a
        # pure negation with the rest of its live docs, whether the
        # negated terms have postings in it or in no shard at all
        ids = eng._id_column()
        eng.delete_by_unique_ids([str(ids[s][0]) for s in sorted(ids)])
        dead = set(victims) | {str(ids[s][0]) for s in ids}
        live = [str(u) for s in sorted(ids) for u in ids[s] if str(u) not in dead]
        lang = dict(zip(corpus_t1["uniqueId"], corpus_t1["lang"]))
        negs = {
            "absent": (C("FILTER_NOT", q="lang:nonexistentlang"), live),
            "go": (C("FILTER_NOT", q="lang:go"), [u for u in live if lang[u] != "go"]),
            "empty": (C("FILTER_NOT", q=","), live),
        }
        assert len(negs["go"][1]) < len(live)
        reqs = {k: SearchRequest((c,), amount=5, start=3) for k, (c, _) in negs.items()}
        batch = eng.search_many(reqs)
        for k, (_, want) in negs.items():
            for got in (eng.search(reqs[k]), batch[k]):
                # every hit scores 0: the page is the live docs in
                # (shard, doc_id) order
                assert got["totalHits"] == len(want), k
                assert [t["uniqueId"] for t in got["topk"]] == want[3:8], k
    finally:
        tables.unpersist()


def test_streaming_incremental_matches_batch(spark, corpus_t1, tmp_path_factory):
    from zuliasearch_spark.streaming.incremental import incremental_index

    cfg = code_config(num_shards=2)
    src = str(tmp_path_factory.mktemp("stream_src"))
    idx = str(tmp_path_factory.mktemp("stream_idx"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))

    half = len(corpus_t1) // 2
    df = spark.createDataFrame(corpus_t1)
    schema = "repo string, path string, commit string, lang string, content string, uniqueId string"
    df.limit(half).write.mode("overwrite").parquet(f"{src}/b0")

    # file-source streams watch one directory tree; write part 1, run,
    # then add part 2 and run again (availableNow picks up the delta)
    q = incremental_index(spark, f"{src}/*", idx, cfg, ckpt, schema)
    q.awaitTermination(120)
    segs1 = committed_segments(idx)
    assert len(segs1) >= 1

    df.subtract(df.limit(half)).write.mode("overwrite").parquet(f"{src}/b1")
    q = incremental_index(spark, f"{src}/*", idx, cfg, ckpt, schema)
    q.awaitTermination(120)
    assert len(committed_segments(idx)) > len(segs1)

    tables = read_segmented_index(spark, idx, cfg).persist()
    try:
        eng = SearchEngine(tables)
        assert sum(eng.get_number_of_docs().values()) == len(corpus_t1)
        res = eng.search(
            SearchRequest((C("SCORE_SHOULD", q="sym_7_a", qf=("content",)),), amount=5),
            fetch="none",
        )
        assert res["totalHits"] >= 1
    finally:
        tables.unpersist()
