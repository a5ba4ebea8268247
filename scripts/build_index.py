#!/usr/bin/env python
"""spark-submit entry: build (or resume) a segmented inverted index.

    spark-submit --master local[32] --py-files zuliasearch_spark.zip \\
      scripts/build_index.py --corpus /path/corpus.parquet \\
      --out /path/index --config /path/index_config.json \\
      --segments 8

Without --config, a default code-search config is used over the
BASELINE.json input_hint schema (repo, path, commit, lang, content;
uniqueId = repo:path:commit). The build is resumable: re-running the
same command after a crash skips committed segments (manifest.jsonl).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def default_config(shards: int) -> "IndexConfig":
    from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig

    return IndexConfig(
        index_name="code",
        unique_id_col="uniqueId",
        number_of_shards=shards,
        default_search_fields=("content",),
        field_configs=(
            FieldConfig("content", index_as=(IndexAs("content", "code_standard"),)),
            FieldConfig("path", index_as=(IndexAs("path", "lcKeyword"),)),
            FieldConfig("lang", index_as=(IndexAs("lang", "lcKeyword"),), facet_as=("lang",)),
            FieldConfig("repo", index_as=(IndexAs("repo", "lcKeyword"),), facet_as=("repo",)),
        ),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="parquet path of the corpus table")
    ap.add_argument("--out", required=True, help="index output directory")
    ap.add_argument("--config", help="IndexConfig JSON path (default: code-search config)")
    ap.add_argument("--shards", type=int, default=32)
    ap.add_argument("--segments", type=int, default=8)
    ap.add_argument("--build-id", default="build-0")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from zuliasearch_spark.config import IndexConfig
    from zuliasearch_spark.indexing.segments import SegmentedIndexWriter
    from zuliasearch_spark.session import get_spark

    spark = get_spark("zulia-spark-build")

    if args.config:
        with open(args.config) as f:
            cfg = IndexConfig.from_json(f.read())
    else:
        cfg = default_config(args.shards)

    corpus = spark.read.parquet(args.corpus)
    if cfg.unique_id_col == "uniqueId" and "uniqueId" not in corpus.columns:
        corpus = corpus.withColumn("uniqueId", F.concat_ws(":", "repo", "path", "commit"))

    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "index_config.json"), "w") as f:
        f.write(cfg.to_json())

    writer = SegmentedIndexWriter(args.out, cfg, n_segments=args.segments, build_id=args.build_id)
    pending = writer.pending_segments()
    print(f"segments pending: {pending}", file=sys.stderr)
    t0 = time.time()
    built = writer.build(corpus)
    print(json.dumps({"built_segments": built, "wall_s": round(time.time() - t0, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
