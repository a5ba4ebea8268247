"""The spark-submit entry scripts, run as their own processes:
``scripts/build_index.py`` builds a segmented index from a parquet
corpus, and ``scripts/query.py`` prints one JSON line per request.
The printed line must equal ``SearchEngine.search`` on the same index.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from zuliasearch_spark.indexing.corpus import gen_corpus_pandas

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, *argv: str) -> str:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", script), *argv],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("cli_scripts")
    corpus = str(base / "corpus.parquet")
    gen_corpus_pandas(50).to_parquet(corpus)
    out = str(base / "index")
    line = _run("build_index.py", "--corpus", corpus, "--out", out, "--shards", "2", "--segments", "2")
    assert json.loads(line.strip().splitlines()[-1])["built_segments"]
    return out


def test_query_script_matches_engine(spark, index_dir):
    from zuliasearch_spark.config import IndexConfig
    from zuliasearch_spark.indexing.segments import read_segmented_index
    from zuliasearch_spark.search.executor import SearchEngine
    from zuliasearch_spark.search.query import QueryClause, SearchRequest

    printed = json.loads(
        _run("query.py", "--index", index_dir, "--q", "parse merge node", "--amount", "5").strip().splitlines()[-1]
    )
    with open(os.path.join(index_dir, "index_config.json")) as f:
        cfg = IndexConfig.from_json(f.read())
    engine = SearchEngine(read_segmented_index(spark, index_dir, cfg))
    want = engine.search(SearchRequest((QueryClause("SCORE_SHOULD", q="parse merge node"),), amount=5))
    assert want["totalHits"] > 5
    assert printed == {
        "totalHits": want["totalHits"],
        "topk": [{"uniqueId": t["uniqueId"], "score": round(t["score"], 6)} for t in want["topk"]],
    }
