#!/usr/bin/env python
"""spark-submit entry: query a built index.

    spark-submit --master local[32] --py-files zuliasearch_spark.zip \\
      scripts/query.py --index /path/index --q "parse query node" \\
      [--type SCORE_SHOULD] [--filter lang:python] [--amount 10] \\
      [--facet lang] [--get-terms content]

Prints one JSON line per request with totalHits + ranked top-k.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--q", help="query text (mini grammar: field:term, unscoped → default fields)")
    ap.add_argument("--type", default="SCORE_SHOULD", choices=["SCORE_SHOULD", "SCORE_MUST", "FILTER"])
    ap.add_argument("--op", default="OR", choices=["OR", "AND"])
    ap.add_argument("--mm", type=int, default=0)
    ap.add_argument("--filter", action="append", default=[], help="extra FILTER clause text")
    ap.add_argument("--not", dest="not_", action="append", default=[], help="FILTER_NOT clause text")
    ap.add_argument("--amount", type=int, default=10)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--facet", help="also return top-10 facet counts for this doc_map column")
    ap.add_argument("--get-terms", help="dictionary scan of this field instead of a search")
    args = ap.parse_args()

    from zuliasearch_spark.config import IndexConfig
    from zuliasearch_spark.indexing.segments import read_segmented_index
    from zuliasearch_spark.search.executor import SearchEngine
    from zuliasearch_spark.search.query import QueryClause, SearchRequest
    from zuliasearch_spark.session import get_spark

    spark = get_spark("zulia-spark-query")

    with open(os.path.join(args.index, "index_config.json")) as f:
        cfg = IndexConfig.from_json(f.read())
    tables = read_segmented_index(spark, args.index, cfg)
    engine = SearchEngine(tables)

    if args.get_terms:
        rows = engine.get_terms(args.get_terms, amount=50).collect()
        print(json.dumps({"terms": [{"term": r["term"], "df": r["df"], "ttf": r["ttf"]} for r in rows]}))
        spark.stop()
        return

    if not args.q:
        ap.error("--q is required unless --get-terms")
    clauses = [QueryClause(args.type, q=args.q, default_op=args.op, mm=args.mm)]
    for f in args.filter:
        clauses.append(QueryClause("FILTER", q=f))
    for f in args.not_:
        clauses.append(QueryClause("FILTER_NOT", q=f))
    req = SearchRequest(tuple(clauses), amount=args.amount, start=args.start)
    res = engine.search(req)
    out = {
        "totalHits": res["totalHits"],
        "topk": [
            {"uniqueId": t["uniqueId"], "score": round(t["score"], 6)} for t in res["topk"]
        ],
    }
    if args.facet:
        out["facets"] = [
            {"value": r["value"], "count": r["cnt"]}
            for r in engine.facet_counts(req, args.facet).collect()
        ]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
