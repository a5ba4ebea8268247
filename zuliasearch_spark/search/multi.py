"""Multi-index search with aliases.

The reference searches any number of indexes in one request
(``QueryRequest.index`` repeated, zulia_service.proto:64) resolving
alias names first (ZuliaIndexManager alias map; AliasTest /
MultiIndexAliasTest). Each index scores with ITS OWN statistics
(every index is its own set of IndexReaders) and the federator
merges the per-index top-k by score — identical to the per-shard
merge one level up (QueryCombiner.java:146-382). This module
reproduces exactly that: per-engine searches (each a Spark job over
that index's postings) merged driver-side by
(score desc, index asc, shard asc, doc_id asc).
"""

from __future__ import annotations

from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import SearchRequest


class MultiIndexSearcher:
    def __init__(self, engines: dict[str, SearchEngine], aliases: dict[str, str] | None = None):
        self.engines = dict(engines)
        self.aliases = dict(aliases or {})

    def resolve(self, name: str) -> str:
        """Alias → canonical index name (UpdateIndexAlias surface)."""
        seen = set()
        while name in self.aliases:
            if name in seen:
                raise ValueError(f"alias cycle at {name!r}")
            seen.add(name)
            name = self.aliases[name]
        if name not in self.engines:
            raise KeyError(f"unknown index or alias: {name!r}")
        return name

    def expand(self, name: str) -> tuple[str, ...]:
        """Index-name wildcard expansion (WildcardIndexTest): a ``*``
        pattern matches CONCRETE index names only — never aliases —
        and an exhausted pattern is an error, like the reference's
        rejection of ``nonexistent-*``. Plain names resolve through
        the alias map as before."""
        if "*" not in name:
            return (self.resolve(name),)
        import fnmatch

        got = tuple(sorted(n for n in self.engines if fnmatch.fnmatchcase(n, name)))
        if not got:
            raise KeyError(f"index wildcard {name!r} matches no index")
        return got

    def search(self, req: SearchRequest, indexes: tuple[str, ...] | None = None) -> dict:
        """Search the named indexes (default: all) and merge.

        Each hit carries its source ``index``; totalHits sums across
        indexes. Scores are comparable across indexes in exactly the
        sense the reference's are: each computed from its own index's
        statistics.
        """
        from concurrent.futures import ThreadPoolExecutor
        from dataclasses import replace

        names = sorted(
            {x for n in (indexes or tuple(self.engines)) for x in self.expand(n)}
        )
        merged: list[dict] = []
        total_hits = 0
        # every index must contribute the full page depth, like each
        # shard does in the single-index scatter (start folds into the
        # per-index amount; the page cut happens at the merge)
        sub = replace(req, start=0, amount=req.start + req.amount)
        # per-index searches submit CONCURRENTLY — Spark's scheduler
        # interleaves the jobs, so multi-index wall time tracks the
        # slowest index, not the sum (the reference federates the
        # per-index requests the same way, QueryRequestFederator)
        with ThreadPoolExecutor(max_workers=min(8, len(names)) or 1) as pool:
            results = list(pool.map(lambda n: (n, self.engines[n].search(sub)), names))
        for name, res in results:
            total_hits += res["totalHits"]
            for t in res["topk"]:
                merged.append({**t, "index": name})
        merged.sort(key=lambda t: (-t["score"], t["index"], t["shard"], t["doc_id"]))
        return {
            "totalHits": total_hits,
            "topk": merged[req.start : req.start + req.amount],
        }
