"""Segmented index build: checkpointed, resumable, mergeable.

The Spark re-expression of the reference's commit/segment machinery:
Zulia commits a shard every ``shardCommitInterval`` docs with a
two-phase crash-consistent commit (ShardWriteManager.java:181-220,
:286-291; interval default 3200, zulia_index.proto:47), and exposes
``Optimize`` to force-merge segments (zulia_service.proto:303-309).
Here:

- a **segment** is a deterministic hash-slice of the corpus
  (``segment = djb2(uniqueId) % n_segments`` — same routing family as
  shards, ShardUtil.java:3-20), so segment membership is stable under
  arbitrary input order/partitioning;
- each segment is built and written as an independent parquet
  mini-index under ``<path>/segments/seg=K/`` and then **committed**
  by appending a manifest entry (write-temp + atomic rename). A
  killed build resumes by skipping committed segments — the Iceberg
  snapshot-append analogue the north rule asks for;
- every manifest entry carries **per-partition lineage + metrics**:
  per (field, shard) posting-block counts, row counts, doc counts,
  bytes and wall-clock, mirroring Zulia's segment metadata;
- ``optimize()`` force-merges segments into one (doc-id remap via
  broadcast offsets + block re-encode in a shuffle-free mapInPandas),
  the ``Optimize`` operator.

Reading a segmented index maps (segment, shard) → composite partition
id ``pid = segment * stride + shard`` so the query executor's
per-partition kernels work unchanged; BM25 statistics are still
aggregated per TRUE shard (all segments of a shard share df/avgdl,
exactly like Lucene segment readers sharing shard-level stats) via
``IndexConfig.segment_stride``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import replace

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zuliasearch_spark.config import IndexConfig
from zuliasearch_spark.indexing.builder import (
    IndexTables,
    build_index,
    shard_udf,
    stats_from_postings,
    write_index,
)

MANIFEST = "manifest.jsonl"
SUPERSEDED = "superseded.jsonl"


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def _superseded_path(path: str) -> str:
    return os.path.join(path, SUPERSEDED)


def read_superseded(path: str) -> list[dict]:
    """Replace-by-uniqueId records across segments: each entry
    ``{"uid": u, "below": s}`` means every copy of ``u`` in a segment
    < ``s`` is dead (a later Store replaced it — ZuliaShard.java:
    337-352 updateDocument semantics, which Lucene realizes as a
    delete-then-add across segments). SearchEngine masks these like
    live-docs holes; ``optimize`` physically purges them."""
    p = _superseded_path(path)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(line) for line in f if line.strip()]


def append_superseded(path: str, entries: list[dict]) -> None:
    if not entries:
        return
    existing = read_superseded(path)
    existing.extend(entries)
    tmp = _superseded_path(path) + ".tmp"
    with open(tmp, "w") as f:
        for e in existing:
            f.write(json.dumps(e) + "\n")
    os.replace(tmp, _superseded_path(path))


def read_manifest(path: str) -> list[dict]:
    p = _manifest_path(path)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(line) for line in f if line.strip()]


def committed_segments(path: str) -> set[int]:
    return {e["segment"] for e in read_manifest(path) if e.get("status") == "committed"}


def _append_manifest(path: str, entry: dict) -> None:
    """Atomic append: rewrite to temp + rename (single-writer commit
    protocol; on real object storage this is an Iceberg snapshot
    commit — SURVEY.md §4 'two-phase crash-consistent commit')."""
    entries = read_manifest(path)
    entries.append(entry)
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        for e in entries:
            f.write(json.dumps(e) + "\n")
    os.replace(tmp, _manifest_path(path))


class SegmentedIndexWriter:
    """Resumable segment-at-a-time index build.

    >>> w = SegmentedIndexWriter(path, config, n_segments=8)
    >>> w.build(corpus)          # builds only non-committed segments
    """

    def __init__(
        self,
        path: str,
        config: IndexConfig,
        n_segments: int,
        build_id: str = "build-0",
        stored_cols: tuple[str, ...] = (),
    ):
        self.path = path
        self.config = config
        self.n_segments = n_segments
        self.build_id = build_id
        self.stored_cols = tuple(stored_cols)
        os.makedirs(path, exist_ok=True)

    def segment_dir(self, segment: int) -> str:
        return os.path.join(self.path, "segments", f"seg={segment}")

    def pending_segments(self) -> list[int]:
        done = committed_segments(self.path)
        return [s for s in range(self.n_segments) if s not in done]

    def build(self, corpus: DataFrame, fail_after: int | None = None) -> list[int]:
        """Build all pending segments; returns the segments built.

        ``fail_after`` (tests only) aborts after N segment commits to
        exercise crash/resume.
        """
        uid = self.config.unique_id_col
        seg_col = shard_udf(self.n_segments)(F.col(uid).cast("string"))
        built = []
        for i, seg in enumerate(self.pending_segments()):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(f"injected failure after {fail_after} segments")
            t0 = time.time()
            slice_df = corpus.filter(seg_col == seg)
            tables = build_index(slice_df, self.config, stored_cols=self.stored_cols)
            tables = write_index(tables, self.segment_dir(seg))
            self._commit(seg, tables, time.time() - t0)
            built.append(seg)
        return built

    def _commit(self, segment: int, tables: IndexTables, wall_s: float) -> None:
        """Append the manifest entry with per-partition lineage rows."""
        lineage = [
            {
                "field": r["field"],
                "shard": int(r["shard"]),
                "blocks": int(r["blocks"]),
                "postings": int(r["postings"]),
                "docs": int(r["docs"]),
                "bytes": int(r["bytes"]),
            }
            for r in tables.postings.groupBy("field", "shard")
            .agg(
                F.count(F.lit(1)).alias("blocks"),
                F.sum(F.when(F.col("term").isNotNull(), F.col("n")).otherwise(0)).alias("postings"),
                F.sum(F.when(F.col("term").isNull(), F.col("n")).otherwise(0)).alias("docs"),
                F.sum(F.octet_length("doc_bytes") + F.octet_length("tf_bytes") + F.octet_length("dl_bytes")).alias("bytes"),
            )
            .collect()
        ]
        shard_docs = {int(r["shard"]): int(r["num_docs"]) for r in tables.shard_counts.collect()}
        _append_manifest(
            self.path,
            {
                "build_id": self.build_id,
                "segment": segment,
                "status": "committed",
                "num_docs": sum(shard_docs.values()),
                "shard_docs": shard_docs,
                "wall_s": round(wall_s, 3),
                "committed_at": time.time(),
                "partitions": lineage,
            },
        )


def commit_batch_segment(
    batch_df: DataFrame,
    segment: int,
    path: str,
    config: IndexConfig,
    stored_cols: tuple[str, ...] = (),
) -> bool:
    """Store a batch of documents as ONE committed segment with
    replace-by-uniqueId against every earlier segment (the Store
    operator over a segmented index: ZuliaShard.java:337-352
    updateDocument = delete-then-add, realized here as a superseded
    record masking the older copy until optimize purges it).

    Idempotent per segment id (a replayed batch finds its segment
    committed and skips). Scale note: the replaced-uid probe is a
    broadcast semi-join of the (small) batch's uids against earlier
    segments' column-pruned uniqueId scans — at warehouse scale you'd
    keep a bucketed uid index or bloom per segment instead of
    rescanning, but the join shape (broadcast small side, no shuffle
    of the corpus) is already the right one. Returns True if a
    segment was committed."""
    if segment in committed_segments(path):
        return False
    if batch_df.rdd.isEmpty():
        return False
    writer = SegmentedIndexWriter(path, config, n_segments=0)
    earlier = sorted(committed_segments(path))
    t0 = time.time()
    tables = build_index(batch_df, config, stored_cols=stored_cols)
    tables = write_index(tables, writer.segment_dir(segment))
    replaced: list[str] = []
    if earlier:
        spark = batch_df.sparkSession
        uid = config.unique_id_col
        batch_uids = spark.read.parquet(
            os.path.join(writer.segment_dir(segment), "doc_map")
        ).select("uniqueId")
        old_uids = None
        for s in earlier:
            d = spark.read.parquet(
                os.path.join(path, "segments", f"seg={s}", "doc_map")
            ).select("uniqueId")
            old_uids = d if old_uids is None else old_uids.unionByName(d)
        replaced = [
            r["uniqueId"]
            for r in old_uids.join(F.broadcast(batch_uids), "uniqueId", "left_semi")
            .distinct()
            .collect()
        ]
    writer._commit(segment, tables, time.time() - t0)
    append_superseded(path, [{"uid": u, "below": segment} for u in replaced])
    return True


def _reconcile_types(dfs: list[tuple[int, DataFrame]]) -> list[DataFrame]:
    """Union-compatible doc_map frames across segments built under
    DIFFERENT index settings (UpdateIndex/createIndex REPLACE with a
    field-type change — FieldChangeTest.java): for each column the
    NEWEST segment's type wins (latest settings), older segments
    try_cast into it (uncastable old-typed values become null =
    missing, Lucene's behavior for a doc with no doc-value of the
    new type), and columns absent from a segment ride as nulls."""
    target: dict[str, str] = {}
    for _, df in sorted(dfs, key=lambda t: t[0]):
        for name, dtype in df.dtypes:
            target[name] = dtype  # later segments overwrite
    out = []
    for _, df in dfs:
        have = dict(df.dtypes)
        cols = []
        for name, dtype in target.items():
            if name not in have:
                cols.append(F.lit(None).cast(dtype).alias(name))
            elif have[name] != dtype:
                cols.append(F.col(name).try_cast(dtype).alias(name))
            else:
                cols.append(F.col(name))
        out.append(df.select(*cols))
    return out


def read_segmented_index(spark: SparkSession, path: str, config: IndexConfig) -> IndexTables:
    """Union all committed segments into one IndexTables.

    Partition id pid = segment * stride + shard; stats stay per true
    shard via ``segment_stride`` (module docstring).
    """
    segs = sorted(committed_segments(path))
    if not segs:
        raise FileNotFoundError(f"no committed segments under {path}")
    stride = config.number_of_shards
    cfg = replace(config, segment_stride=stride)

    def load(seg: int, name: str) -> DataFrame:
        df = spark.read.parquet(os.path.join(path, "segments", f"seg={seg}", name))
        return df.withColumn("shard", (F.lit(seg * stride) + F.col("shard")).cast("int"))

    def union_all(name: str) -> DataFrame:
        dfs = [load(s, name) for s in segs]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    postings = union_all("postings")
    reconciled = _reconcile_types([(s, load(s, "doc_map")) for s in segs])
    doc_map = reconciled[0]
    for d in reconciled[1:]:
        doc_map = doc_map.unionByName(d)
    term_stats, field_stats = stats_from_postings(postings)
    shard_counts = doc_map.groupBy("shard").agg(F.count(F.lit(1)).alias("num_docs"))
    return IndexTables(
        cfg, doc_map, postings, term_stats, field_stats, shard_counts, root_path=path
    )


def optimize(spark: SparkSession, path: str, out_path: str, config: IndexConfig) -> IndexTables:
    """Force-merge all committed segments into ONE segment (Optimize,
    zulia_service.proto:303-309).

    Doc ids are remapped to a single dense space per shard: global_id
    = offset[segment, shard] + local_id with offsets in segment order
    (Lucene's reader base-offset composition). The remap decodes and
    re-encodes each posting block in a shuffle-free mapInPandas — the
    offsets table is tiny and broadcast by closure. Block streams stay
    doc-ordered per term because segment offsets are monotone in
    segment order; ``bucket`` is rewritten to the block's new
    first_doc so (bucket, block_id) ordering == docID ordering holds.
    """



    from zuliasearch_spark.indexing.builder import POSTINGS_SCHEMA
    from zuliasearch_spark.util.varint import segmented_cumsum, varint_decode, varint_encode

    # the merge lazily re-reads the source segments while writing the
    # output: writing into (or under) the source dir would clobber
    # seg=0's files mid-read and corrupt the index — refuse early
    src, dst = os.path.realpath(path), os.path.realpath(out_path)
    if src == dst or dst.startswith(src + os.sep) or src.startswith(dst + os.sep):
        raise ValueError(f"optimize out_path {out_path!r} overlaps source {path!r}")

    from zuliasearch_spark.indexing.tombstones import load_tombstone_uids

    segs = sorted(committed_segments(path))
    manifest = {e["segment"]: e for e in read_manifest(path) if e.get("status") == "committed"}
    stride = config.number_of_shards

    seg_tables = read_segmented_index(spark, path, config)

    # tombstoned docs are PURGED during the rewrite (Lucene drops
    # live-docs holes at merge): resolve persisted uniqueIds to
    # (composite pid, local doc_id); deletes are assumed sparse
    # relative to the corpus, so the dead lists ride the closure
    dead_by_pid: dict[int, np.ndarray] = {}
    tomb_uids = load_tombstone_uids(path)
    superseded = read_superseded(path)
    tmp: dict[int, set[int]] = {}
    if tomb_uids:
        ids_df = spark.createDataFrame([(u,) for u in tomb_uids], "uniqueId string")
        rows = (
            seg_tables.doc_map.join(F.broadcast(ids_df), "uniqueId")
            .select("shard", "doc_id")
            .collect()
        )
        for r in rows:
            tmp.setdefault(int(r["shard"]), set()).add(int(r["doc_id"]))
    if superseded:
        # replaced-by-later-Store copies are holes too: purge the
        # copies living in segments below the superseding one
        rec_df = spark.createDataFrame(
            [(r["uid"], int(r["below"])) for r in superseded],
            "uniqueId string, below int",
        )
        rows = (
            seg_tables.doc_map.join(F.broadcast(rec_df), "uniqueId")
            .filter((F.col("shard") / stride).cast("int") < F.col("below"))
            .select("shard", "doc_id")
            .distinct()
            .collect()
        )
        for r in rows:
            tmp.setdefault(int(r["shard"]), set()).add(int(r["doc_id"]))
    if tmp:
        dead_by_pid = {p: np.fromiter(sorted(v), dtype=np.int64) for p, v in tmp.items()}

    # offsets[seg][shard] = Σ LIVE docs of earlier segments in that shard
    offsets: dict[int, dict[int, int]] = {}
    running: dict[int, int] = {}
    for seg in segs:
        offsets[seg] = {}
        for shard_str, n in manifest[seg]["shard_docs"].items():
            s = int(shard_str)
            n_dead = int(dead_by_pid.get(seg * stride + s, np.empty(0)).size)
            offsets[seg][s] = running.get(s, 0)
            running[s] = running.get(s, 0) + int(n) - n_dead

    def remap(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            pid = pdf["shard"].to_numpy()
            seg = pid // stride
            shard = pid % stride
            off = np.array([offsets[int(sg)][int(sh)] for sg, sh in zip(seg, shard)], dtype=np.int64)
            cols = {c: list(pdf[c]) for c in pdf.columns}
            keep_rows = np.ones(len(pdf), dtype=bool)
            for i in range(len(pdf)):
                dead = dead_by_pid.get(int(pid[i]))
                docs = segmented_cumsum(
                    varint_decode(pdf["doc_bytes"].iloc[i]), np.zeros(1, dtype=np.int64)
                )
                tfs = varint_decode(pdf["tf_bytes"].iloc[i])
                dls = varint_decode(pdf["dl_bytes"].iloc[i])
                pos = varint_decode(pdf["pos_bytes"].iloc[i]) if "pos_bytes" in pdf.columns else np.empty(0, np.int64)
                if dead is not None and dead.size:
                    # purge: drop dead postings, renumber survivors
                    # new_local = old − #dead below old
                    j = np.searchsorted(dead, docs)
                    is_dead = (j < dead.size) & (dead[np.minimum(j, dead.size - 1)] == docs)
                    if is_dead.any():
                        keep = ~is_dead
                        if pos.size and tfs.size:
                            run_starts = np.zeros(tfs.size, dtype=np.int64)
                            np.cumsum(tfs[:-1], out=run_starts[1:])
                            pos_flat = segmented_cumsum(pos, run_starts)
                            tok_keep = np.repeat(keep, tfs) if tfs.size else keep
                            pos_flat = pos_flat[tok_keep]
                        else:
                            pos_flat = None
                        docs, j = docs[keep], j[keep]
                        tfs = tfs[keep] if tfs.size else tfs
                        dls = dls[keep] if dls.size else dls
                        docs = docs - j  # renumber past purged holes
                        if docs.size == 0:
                            keep_rows[i] = False
                            continue
                        if pos_flat is not None:
                            run_starts = np.zeros(tfs.size, dtype=np.int64)
                            np.cumsum(tfs[:-1], out=run_starts[1:])
                            pdeltas = np.empty_like(pos_flat)
                            if pos_flat.size:
                                pdeltas[0] = pos_flat[0]
                                np.subtract(pos_flat[1:], pos_flat[:-1], out=pdeltas[1:])
                                pdeltas[run_starts] = pos_flat[run_starts]
                            cols["pos_bytes"][i] = varint_encode(pdeltas)
                        cols["tf_bytes"][i] = varint_encode(tfs) if tfs.size else b""
                        cols["dl_bytes"][i] = varint_encode(dls) if dls.size else b""
                        cols["n"][i] = docs.size
                        if tfs.size:
                            cols["sum_tf"][i] = int(tfs.sum())
                        if pdf["term"].iloc[i] is None and dls.size:
                            cols["sum_dl"][i] = int(dls.sum())
                            # norms-row sum_tf = Lucene docCount (docs
                            # with >=1 token), recomputed post-purge
                            cols["sum_tf"][i] = int((dls > 0).sum())
                docs = docs + off[i]
                deltas = np.empty_like(docs)
                deltas[0] = docs[0]
                np.subtract(docs[1:], docs[:-1], out=deltas[1:])
                cols["doc_bytes"][i] = varint_encode(deltas)
                cols["first_doc"][i] = int(docs[0])
                cols["last_doc"][i] = int(docs[-1])
            out = pd.DataFrame(cols)
            out["shard"] = shard.astype(np.int32)
            out["bucket"] = np.asarray(out["first_doc"], dtype=np.int64)
            out["block_id"] = np.int32(0)
            yield out[keep_rows]

    merged_postings = seg_tables.postings.mapInPandas(remap, POSTINGS_SCHEMA)
    merged_doc_map = seg_tables.doc_map.withColumn("segment", (F.col("shard") / stride).cast("int"))
    off_rows = [(seg, sh, off) for seg, by in offsets.items() for sh, off in by.items()]
    off_df = spark.createDataFrame(off_rows, "segment int, true_shard int, off long")
    if dead_by_pid:
        from pyspark.sql.functions import pandas_udf

        _dead = dead_by_pid

        @pandas_udf("long")
        def _purge_shift(pid_col: pd.Series, doc_col: pd.Series) -> pd.Series:
            out = np.empty(len(pid_col), dtype=np.int64)
            pids = pid_col.to_numpy()
            docs = doc_col.to_numpy()
            for p in np.unique(pids):
                m = pids == p
                dead = _dead.get(int(p))
                if dead is None or dead.size == 0:
                    out[m] = docs[m]
                    continue
                j = np.searchsorted(dead, docs[m])
                is_dead = (j < dead.size) & (dead[np.minimum(j, dead.size - 1)] == docs[m])
                shifted = docs[m] - j
                shifted[is_dead] = -1  # sentinel: filtered below
                out[m] = shifted
            return pd.Series(out)

        merged_doc_map = (
            merged_doc_map.withColumn("doc_id", _purge_shift(F.col("shard"), F.col("doc_id")))
            .filter(F.col("doc_id") >= 0)
        )
    merged_doc_map = (
        merged_doc_map.withColumn("true_shard", (F.col("shard") % stride).cast("int"))
        .join(F.broadcast(off_df), ["segment", "true_shard"])
        .withColumn("doc_id", F.col("doc_id") + F.col("off"))
        .withColumn("shard", F.col("true_shard"))
        .drop("segment", "true_shard", "off")
    )

    out_dir = os.path.join(out_path, "segments", "seg=0")
    merged_postings.repartition("field", "shard").sortWithinPartitions(
        "term", "bucket", "block_id"
    ).write.mode("overwrite").partitionBy("field").parquet(os.path.join(out_dir, "postings"))
    merged_doc_map.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_map"))
    postings = spark.read.parquet(os.path.join(out_dir, "postings"))
    term_stats, field_stats = stats_from_postings(postings)
    term_stats.write.mode("overwrite").parquet(os.path.join(out_dir, "term_stats"))
    field_stats.write.mode("overwrite").parquet(os.path.join(out_dir, "field_stats"))
    doc_map = spark.read.parquet(os.path.join(out_dir, "doc_map"))
    shard_counts = doc_map.groupBy("shard").agg(F.count(F.lit(1)).alias("num_docs"))
    shard_counts.write.mode("overwrite").parquet(os.path.join(out_dir, "shard_counts"))

    os.makedirs(out_path, exist_ok=True)
    docs_total = sum(running.values())
    from zuliasearch_spark.indexing.tombstones import clear_tombstones

    clear_tombstones(out_path)  # purged docs are gone: fresh tombstone set
    if os.path.exists(_superseded_path(out_path)):
        os.remove(_superseded_path(out_path))  # replaced copies purged too
    if os.path.exists(_manifest_path(out_path)):
        os.remove(_manifest_path(out_path))
    _append_manifest(
        out_path,
        {
            "build_id": "optimize",
            "segment": 0,
            "status": "committed",
            "num_docs": docs_total,
            "shard_docs": {str(s): n for s, n in running.items()},
            "wall_s": 0.0,
            "committed_at": time.time(),
            "partitions": [],
            "merged_from": segs,
        },
    )
    return read_segmented_index(spark, out_path, config)
