"""Command-line tools (zulia-tools analogue).

Reference parity: the reference ships CLI binaries built on picocli —
``zulia`` (ad-hoc querying with repeatable search/filter/countFacet/
stat/sort subcommands, ``Zulia.java``), ``zuliaadmin`` (index admin:
``ZuliaAdmin.java`` + ``cmd/zuliaadmin/*Cmd.java`` — createIndex,
clearIndex, deleteIndex, optimizeIndex, reindex, displayIndexes,
getFields, docCount, fetch/store/deleteDocument), and the data movers
``ZuliaDump``/``ZuliaRestore``/``ZuliaExport``/``ZuliaImport``
(JSON-lines of stored documents + index settings).

This re-expression is one argparse program::

    python -m zuliasearch_spark.tools <command> [options]

with a filesystem *index home* replacing the client connection: an
index named ``X`` lives at ``<home>/X/`` as a segmented parquet index
(``indexing/segments.py`` manifest protocol) beside its
``index_settings.json``. All heavy work is the engine's existing
Spark plans — the CLI only parses arguments, loads engines, and
prints one JSON document per command to stdout (machine-readable,
the analogue of the reference CLIs' JSON output mode).

Connection flags (``--address``/``--port``, ``ConnectionInfo.java``)
are architecture-N/A: there is no server process; ``--home`` replaces
them.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys

SETTINGS_FILE = "index_settings.json"


# ---- index home helpers -------------------------------------------------


def _home(args) -> str:
    return args.home or os.environ.get("ZULIA_SPARK_HOME", "./zulia_indexes")


def _index_path(args, index: str | None = None) -> str:
    return os.path.join(_home(args), index or args.index)


def _load_config(path: str):
    from zuliasearch_spark.config import IndexConfig

    with open(os.path.join(path, SETTINGS_FILE)) as f:
        return IndexConfig.from_json(f.read())


def _spark(args):
    from zuliasearch_spark.session import get_spark

    return get_spark(app="zulia-tools", master=args.master)


def _aliases_path(args) -> str:
    return os.path.join(_home(args), "aliases.json")


def _read_aliases(args) -> dict[str, str]:
    p = _aliases_path(args)
    if os.path.isfile(p):
        with open(p) as f:
            return json.load(f)
    return {}


def _write_aliases(args, aliases: dict[str, str]) -> None:
    tmp = _aliases_path(args) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(aliases, f, indent=1, sort_keys=True)
    os.replace(tmp, _aliases_path(args))


def _resolve_alias(args, name: str) -> str:
    """Alias chain resolution with the same cycle guard the engine's
    MultiIndexSearcher applies (AliasTest)."""
    aliases = _read_aliases(args)
    seen = set()
    while name in aliases:
        if name in seen:
            raise SystemExit(f"alias cycle at {name!r}")
        seen.add(name)
        name = aliases[name]
    return name


def _engine(args, spark=None, index: str | None = None):
    from zuliasearch_spark.indexing.segments import read_segmented_index
    from zuliasearch_spark.search.executor import SearchEngine

    name = _resolve_alias(args, index or args.index)
    path = _index_path(args, name)
    if not os.path.isdir(path):
        raise SystemExit(f"index {index or args.index!r} not found under {_home(args)}")
    cfg = _load_config(path)
    spark = spark or _spark(args)
    return SearchEngine(read_segmented_index(spark, path, cfg))


def _emit(doc) -> None:
    print(json.dumps(doc, default=str))


def _read_corpus(spark, input_path: str, fmt: str | None):
    fmt = fmt or (
        "parquet"
        if input_path.endswith(".parquet") or glob.glob(os.path.join(input_path, "*.parquet"))
        else "json"
    )
    if fmt == "parquet":
        return spark.read.parquet(input_path)
    if fmt in ("json", "jsonl"):
        return spark.read.json(input_path)
    if fmt in ("csv", "tsv"):
        return spark.read.option("header", True).option(
            "sep", "\t" if fmt == "tsv" else ","
        ).csv(input_path)
    raise SystemExit(f"unknown input format {fmt!r}")


# ---- admin commands (ZuliaAdmin / cmd/zuliaadmin/*Cmd.java) -------------


def cmd_create_index(args) -> None:
    """createIndex: register settings (CreateIndexCmd / UpdateIndexCmd
    CREATE). ``--settings`` is the IndexConfig JSON the engine already
    round-trips for import/export."""
    from zuliasearch_spark.config import IndexConfig

    with open(args.settings) as f:
        cfg = IndexConfig.from_json(f.read())
    path = _index_path(args, cfg.index_name if args.index is None else args.index)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, SETTINGS_FILE), "w") as f:
        f.write(cfg.to_json())
    _emit({"created": os.path.basename(path), "path": path})


def cmd_update_index(args) -> None:
    """updateIndex REPLACE: swap in new settings; existing segments
    stay searchable across field-type changes (segment-type
    reconciliation, FieldChangeTest parity)."""
    from zuliasearch_spark.config import IndexConfig

    path = _index_path(args)
    if not os.path.isdir(path):
        raise SystemExit(f"index {args.index!r} not found")
    with open(args.settings) as f:
        cfg = IndexConfig.from_json(f.read())
    with open(os.path.join(path, SETTINGS_FILE), "w") as f:
        f.write(cfg.to_json())
    _emit({"updated": args.index})


def cmd_display_indexes(args) -> None:
    """displayIndexes: every registered index + committed segments."""
    from zuliasearch_spark.indexing.segments import committed_segments

    home = _home(args)
    out = []
    for name in sorted(os.listdir(home)) if os.path.isdir(home) else []:
        p = os.path.join(home, name)
        if os.path.isfile(os.path.join(p, SETTINGS_FILE)):
            out.append({"index": name, "segments": len(committed_segments(p))})
    _emit({"indexes": out})


def cmd_display_index(args) -> None:
    """displayIndex: the index's settings JSON."""
    cfg = _load_config(_index_path(args))
    _emit({"index": args.index, "settings": json.loads(cfg.to_json())})


def cmd_doc_count(args) -> None:
    """docCount (GetNumberOfDocs): LIVE document count."""
    eng = _engine(args)
    per_shard = eng.get_number_of_docs()
    _emit({
        "index": args.index,
        "numDocs": sum(per_shard.values()),
        "shardCounts": {str(k): v for k, v in sorted(per_shard.items())},
    })


def cmd_get_fields(args) -> None:
    """getFields (GetFieldNames)."""
    eng = _engine(args)
    _emit({"index": args.index, "fields": eng.get_field_names()})


def cmd_clear_index(args) -> None:
    """clearIndex: drop all documents, keep the index registered."""
    from zuliasearch_spark.indexing.io import clear_index

    path = _index_path(args)
    cfg_text = open(os.path.join(path, SETTINGS_FILE)).read()
    clear_index(path)
    with open(os.path.join(path, SETTINGS_FILE), "w") as f:
        f.write(cfg_text)
    _emit({"cleared": args.index})


def cmd_delete_index(args) -> None:
    """deleteIndex: remove the index entirely."""
    path = _index_path(args)
    if not os.path.isdir(path):
        raise SystemExit(f"index {args.index!r} not found")
    shutil.rmtree(path)
    _emit({"deleted": args.index})


def cmd_optimize(args) -> None:
    """optimizeIndex: force-merge all segments into one + purge
    tombstoned/superseded docs (indexing/segments.optimize)."""
    from zuliasearch_spark.indexing.segments import optimize

    path = _index_path(args)
    cfg = _load_config(path)
    spark = _spark(args)
    tmp = path + ".optimize"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    optimize(spark, path, tmp, cfg)
    with open(os.path.join(tmp, SETTINGS_FILE), "w") as f:
        f.write(cfg.to_json())
    old = path + ".old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    _emit({"optimized": args.index})


def cmd_reindex(args) -> None:
    """reindex (ReindexCmd): rebuild every stored document with the
    CURRENT settings — the schema-migration path after updateIndex."""
    from zuliasearch_spark.indexing.segments import SegmentedIndexWriter

    path = _index_path(args)
    cfg = _load_config(path)
    spark = _spark(args)
    eng = _engine(args, spark)
    internal = {"shard", "doc_id", "content_sha256"}
    stored = [
        c for c in eng.tables.doc_map.columns
        if c not in internal and not c.startswith("_z")
    ]
    docs = eng._live_doc_map().select(*stored).cache()
    docs.count()
    tmp = path + ".reindex"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    stored_cols = tuple(
        c for c in stored if c not in ("uniqueId", cfg.unique_id_col)
    )
    writer = SegmentedIndexWriter(tmp, cfg, n_segments=args.segments, stored_cols=stored_cols)
    # uniqueId column name must match settings; doc_map stores it as
    # uniqueId regardless of the configured source column
    corpus = docs.withColumnRenamed("uniqueId", cfg.unique_id_col)
    writer.build(corpus)
    with open(os.path.join(tmp, SETTINGS_FILE), "w") as f:
        f.write(cfg.to_json())
    old = path + ".old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    _emit({"reindexed": args.index, "docs": docs.count()})


# ---- document commands --------------------------------------------------


def cmd_index(args) -> None:
    """Bulk ingest (the ZuliaImport shape): corpus file(s) → committed
    segments."""
    from zuliasearch_spark.indexing.segments import SegmentedIndexWriter

    path = _index_path(args)
    cfg = _load_config(path)
    spark = _spark(args)
    corpus = _read_corpus(spark, args.input, args.format)
    # store every corpus column (the reference stores the whole BSON
    # document unless documentFields narrows it at fetch time)
    stored = tuple(c for c in corpus.columns if c != cfg.unique_id_col)
    writer = SegmentedIndexWriter(path, cfg, n_segments=args.segments, stored_cols=stored)
    built = writer.build(corpus)
    _emit({"indexed": args.index, "segments": built})


def cmd_store(args) -> None:
    """store (StoreDocumentCmd): upsert documents — replace-by-uniqueId
    against every earlier segment (commit_batch_segment)."""
    from zuliasearch_spark.indexing.segments import (
        commit_batch_segment,
        committed_segments,
    )

    path = _index_path(args)
    cfg = _load_config(path)
    spark = _spark(args)
    if args.json:
        docs = [json.loads(args.json)]
        df = spark.read.json(spark.sparkContext.parallelize([json.dumps(d) for d in docs]))
    else:
        df = spark.read.json(args.file)
    seg = max(committed_segments(path), default=-1) + 1
    stored = tuple(c for c in df.columns if c != cfg.unique_id_col)
    committed = commit_batch_segment(df, seg, path, cfg, stored_cols=stored)
    _emit({"stored": args.index, "segment": seg if committed else None})


def cmd_delete(args) -> None:
    """deleteDocument: durable tombstone by uniqueId."""
    eng = _engine(args)
    n = eng.delete_by_unique_ids(args.id)
    _emit({"deleted": n, "ids": args.id})


def cmd_fetch(args) -> None:
    """fetchDocument: by uniqueId, with FetchType + fl/flMask shaping."""
    eng = _engine(args)
    rows = eng.fetch(
        args.id,
        fetch_type=args.fetch,
        document_fields=tuple(args.fl or ()),
        document_masked_fields=tuple(args.flMask or ()),
    ).collect()
    _emit({"documents": [r.asDict(recursive=True) for r in rows]})


# ---- aliases (CreateAliasCmd / DeleteAliasCmd / DisplayAliasesCmd /
# ExportAliasesCmd / ImportAliasesCmd) ------------------------------------


def cmd_create_alias(args) -> None:
    """createAlias: point an alias at an index (or another alias)."""
    aliases = _read_aliases(args)
    aliases[args.alias] = args.to
    _resolve_alias_check = dict(aliases)  # cycle check before persisting
    seen, name = set(), args.alias
    while name in _resolve_alias_check:
        if name in seen:
            raise SystemExit(f"alias {args.alias!r} -> {args.to!r} would create a cycle")
        seen.add(name)
        name = _resolve_alias_check[name]
    _write_aliases(args, aliases)
    _emit({"alias": args.alias, "index": args.to})


def cmd_delete_alias(args) -> None:
    """deleteAlias."""
    aliases = _read_aliases(args)
    if args.alias not in aliases:
        raise SystemExit(f"alias {args.alias!r} not found")
    del aliases[args.alias]
    _write_aliases(args, aliases)
    _emit({"deleted": args.alias})


def cmd_display_aliases(args) -> None:
    """displayAliases / exportAliases (the JSON is the export format)."""
    _emit({"aliases": _read_aliases(args)})


def cmd_import_aliases(args) -> None:
    """importAliases: load {alias: index} JSON (replace-all)."""
    with open(args.file) as f:
        doc = json.load(f)
    aliases = doc.get("aliases", doc)
    if not all(isinstance(k, str) and isinstance(v, str) for k, v in aliases.items()):
        raise SystemExit("alias file must map alias -> index name")
    _write_aliases(args, aliases)
    _emit({"imported": len(aliases)})


def cmd_stats(args) -> None:
    """stats: NodeStats JSON (REST GET /stats, StatsController.java:
    37-90) — live driver-JVM memory, index-home disk space, version,
    and per-index residency. Indexes are registered TRANSIENT and
    never faulted in (tryLeaseQuietly semantics), so stats are free;
    pass --load to fault every index in and report its query-cache
    counters (the resident-at-startup shape)."""
    from zuliasearch_spark.resident import ResidentIndexCache
    from zuliasearch_spark.stats import node_stats

    spark = _spark(args)
    home = _home(args)
    cache = ResidentIndexCache()
    for path in sorted(glob.glob(os.path.join(home, "*", SETTINGS_FILE))):
        name = os.path.basename(os.path.dirname(path))
        cache.register(
            name,
            loader=lambda n=name: _engine(args, spark, n),
            transient=True,
            pin=False,
        )
    if getattr(args, "load", False):
        for name in cache.registered():
            cache.get(name)
    _emit(node_stats(cache, data_path=home if os.path.isdir(home) else ".", spark=spark))


# ---- associated files (StoreAssociatedFileCmd / FetchAssociatedFileCmd) --


def _associated_path(args, index: str | None = None) -> str:
    return os.path.join(_index_path(args, index or args.index), "associated")


def _associated_store(args, spark):
    from zuliasearch_spark.indexing.associated import AssociatedStore

    p = _associated_path(args)
    if os.path.isdir(p):
        return AssociatedStore.read(spark, p)
    return AssociatedStore.empty(spark)


def cmd_store_associated(args) -> None:
    """storeAssociatedFile: attach a file blob (+ JSON meta) to a doc."""
    spark = _spark(args)
    store = _associated_store(args, spark)
    with open(args.file, "rb") as f:
        content = f.read()
    meta = json.loads(args.meta) if args.meta else None
    store = store.store(
        args.id, args.name or os.path.basename(args.file), content, meta=meta
    )
    # write-aside then swap: the new frame still lazily READS the old
    # parquet, so an in-place overwrite would clobber its own input
    p = _associated_path(args)
    tmp = p + ".tmp"
    store.write(tmp)
    if os.path.isdir(p):
        shutil.rmtree(p)
    os.rename(tmp, p)
    _emit({"stored": args.name or os.path.basename(args.file), "id": args.id})


def cmd_fetch_associated(args) -> None:
    """fetchAssociatedFile: write a doc's associated file(s) to --out
    (all of them without --name, FetchAllAssociated)."""
    spark = _spark(args)
    store = _associated_store(args, spark)
    if args.name:
        rows = store.fetch(args.id, args.name).collect()
    else:
        rows = store.fetch_all(args.id).collect()
    os.makedirs(args.out, exist_ok=True)
    written = []
    for r in rows:
        p = os.path.join(args.out, r["filename"])
        with open(p, "wb") as f:
            f.write(bytes(r["content"]))
        written.append(r["filename"])
    _emit({"fetched": written, "out": args.out})


# ---- query (Zulia.java) -------------------------------------------------


def _build_request(args):
    from zuliasearch_spark.search.query import SearchRequest

    parts = []
    for q in args.query or []:
        parts.append(f"+({q})")
    for q in args.filter or []:
        parts.append(f"+({q})")
    for q in args.filterNot or []:
        parts.append(f"-({q})")
    qs = " ".join(parts) if parts else "*:*"
    return SearchRequest(
        qs=qs,
        qf=tuple(args.qf or ()),
        default_op=args.defaultOperator,
        mm=args.mm,
        amount=args.rows,
        start=args.start,
        realtime=args.realtime,
    )


def cmd_query(args) -> None:
    """Ad-hoc search (the ``zulia`` binary): scored/filter queries +
    count facets + stat facets + numeric stats + field sorts + fetch
    shaping, one JSON result document."""
    spark = _spark(args)
    out: dict = {}
    engines = [( ix, _engine(args, spark, ix)) for ix in args.index]
    if len(engines) == 1:
        eng = engines[0][1]
    else:
        # multi-index scatter (MultipleIndexArgs): reuse the engine's
        # multi-index merge
        from zuliasearch_spark.search.multi import MultiIndexSearcher

        eng = MultiIndexSearcher({name: e for name, e in engines})

    req = _build_request(args)
    single = engines[0][1]

    if getattr(args, "facetCsv", False):
        # REST GET /query/facet (QueryController.java:169-195)
        from zuliasearch_spark.export import export_facet_csv

        if not args.facet:
            raise SystemExit(
                "Please specify facets to be exported i.e. --facet issn --facet pubYear"
            )
        sys.stdout.write(export_facet_csv(single, req, args.facet, top_n=args.facetTopN))
        return
    if getattr(args, "csv", False):
        # REST GET /query/csv (QueryController.java:119-166)
        from zuliasearch_spark.export import export_query_csv

        if not args.fl:
            raise SystemExit(
                "Please specify fields to be exported i.e. --fl title --fl abstract"
            )
        sort_keys = None
        if args.sort:
            sort_keys = tuple(
                (col, direction.lower() != "desc", True)
                for col, _, direction in (s.partition(":") for s in args.sort)
            )
        sys.stdout.write(
            export_query_csv(
                single,
                req,
                args.fl,
                rows=args.rows,
                sort_keys=sort_keys,
                batch=args.batch,
                batch_size=args.batchSize,
            )
        )
        return

    if args.sort:
        if len(engines) > 1:
            raise SystemExit("--sort supports a single --index")
        keys = []
        for s in args.sort:
            col, _, direction = s.partition(":")
            keys.append((col, direction.lower() != "desc", True))
        rows = single.sort_search(req, sort_keys=tuple(keys), amount=args.rows).collect()
        out["totalHits"] = single.search(req, fetch="none")["totalHits"]
        out["results"] = [r.asDict(recursive=True) for r in rows]
    else:
        if len(engines) == 1:
            res = eng.search(req, fetch="none" if args.fetch == "NONE" else "ids")
        else:
            res = eng.search(req)
        out["totalHits"] = res["totalHits"]
        out["results"] = [dict(t) for t in res.get("topk", [])][: args.rows]
        if args.fetch != "NONE" and out["results"]:
            ids = [t["uniqueId"] for t in out["results"]]
            fetched = {
                r["uniqueId"]: r.asDict(recursive=True)
                for r in single.fetch(
                    ids,
                    fetch_type=args.fetch,
                    document_fields=tuple(args.fl or ()),
                    document_masked_fields=tuple(args.flMask or ()),
                ).collect()
            }
            for t in out["results"]:
                t["document"] = fetched.get(t["uniqueId"])

    for facet in args.facet or []:
        fdf = single.facet_counts(req, facet, top_n=args.facetTopN)
        out.setdefault("facets", {})[facet] = [
            {"label": r["value"], "count": r["cnt"]} for r in fdf.collect()
        ]
    for spec in args.stat or []:
        facet_field, _, numeric = spec.partition(":")
        if numeric:
            sdf = single.stat_facets(req, facet_field, numeric, top_n=args.facetTopN)
            out.setdefault("statFacets", {})[spec] = [
                r.asDict() for r in sdf.collect()
            ]
        else:
            row = single.numeric_stats(req, facet_field).collect()[0]
            out.setdefault("numStats", {})[facet_field] = row.asDict()
    _emit(out)


# ---- data movers (ZuliaDump / ZuliaRestore / ZuliaExport / ZuliaImport) --


def cmd_dump(args) -> None:
    """zuliadump: stored documents as JSON-lines + the settings file
    (optionally gzip — Spark's codec option, same .gz files)."""
    path = _index_path(args)
    cfg = _load_config(path)
    eng = _engine(args)
    os.makedirs(args.out, exist_ok=True)
    live = eng._live_doc_map()
    drop = [c for c in live.columns if c.startswith("_z") or c in ("shard", "doc_id")]
    w = live.drop(*drop).write.mode("overwrite")
    if args.gzip:
        w = w.option("compression", "gzip")
    w.json(os.path.join(args.out, "documents"))
    with open(os.path.join(args.out, SETTINGS_FILE), "w") as f:
        f.write(cfg.to_json())
    _emit({"dumped": args.index, "out": args.out})


def cmd_restore(args) -> None:
    """zuliarestore: dump dir → a fresh index (settings + documents)."""
    from zuliasearch_spark.config import IndexConfig
    from zuliasearch_spark.indexing.segments import SegmentedIndexWriter

    spark = _spark(args)
    with open(os.path.join(args.dir, SETTINGS_FILE)) as f:
        cfg = IndexConfig.from_json(f.read())
    name = args.index or cfg.index_name
    path = _index_path(args, name)
    if os.path.isdir(path) and not args.force:
        raise SystemExit(f"index {name!r} exists; pass --force to replace")
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, SETTINGS_FILE), "w") as f:
        f.write(cfg.to_json())
    docs = spark.read.json(os.path.join(args.dir, "documents"))
    docs = docs.withColumnRenamed("uniqueId", cfg.unique_id_col)
    stored = tuple(
        c for c in docs.columns if c != cfg.unique_id_col and c != "content_sha256"
    )
    writer = SegmentedIndexWriter(path, cfg, n_segments=args.segments, stored_cols=stored)
    built = writer.build(docs)
    _emit({"restored": name, "segments": built})


def cmd_export(args) -> None:
    """zuliaexport: matching documents as JSON-lines (no settings)."""
    eng = _engine(args)
    req = _build_request(args)
    matches = eng.match_ids(req).select("shard", "doc_id")
    # match_ids already drops tombstoned docs
    j = matches.join(eng.tables.doc_map, ["shard", "doc_id"])
    drop = [c for c in j.columns if c.startswith("_z") or c in ("shard", "doc_id")]
    j.drop(*drop).write.mode("overwrite").json(args.out)
    _emit({"exported": args.index, "out": args.out})


def cmd_import(args) -> None:
    """zuliaimport: JSON-lines → stored (upserted) documents."""
    args.json = None
    args.file = args.input
    cmd_store(args)


# ---- argparse wiring ----------------------------------------------------


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m zuliasearch_spark.tools",
        description=__doc__.splitlines()[0],
    )
    p.add_argument("--home", help="index home directory (default $ZULIA_SPARK_HOME or ./zulia_indexes)")
    p.add_argument("--master", help="spark master (default local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, fn, **kw):
        sp = sub.add_parser(name, help=(fn.__doc__ or "").splitlines()[0], **kw)
        sp.set_defaults(fn=fn)
        return sp

    sp = add("createIndex", cmd_create_index)
    sp.add_argument("--index", help="override the settings' indexName")
    sp.add_argument("--settings", required=True, help="IndexConfig JSON file")

    sp = add("updateIndex", cmd_update_index)
    sp.add_argument("--index", required=True)
    sp.add_argument("--settings", required=True)

    add("displayIndexes", cmd_display_indexes)

    sp = add("displayIndex", cmd_display_index)
    sp.add_argument("--index", required=True)

    for name, fn in (
        ("docCount", cmd_doc_count),
        ("getFields", cmd_get_fields),
        ("clearIndex", cmd_clear_index),
        ("deleteIndex", cmd_delete_index),
        ("optimize", cmd_optimize),
    ):
        sp = add(name, fn)
        sp.add_argument("--index", required=True)

    sp = add("reindex", cmd_reindex)
    sp.add_argument("--index", required=True)
    sp.add_argument("--segments", type=int, default=1)

    sp = add("index", cmd_index)
    sp.add_argument("--index", required=True)
    sp.add_argument("--input", required=True, help="corpus path (parquet/jsonl/csv)")
    sp.add_argument("--format", choices=("parquet", "json", "jsonl", "csv", "tsv"))
    sp.add_argument("--segments", type=int, default=4)

    sp = add("store", cmd_store)
    sp.add_argument("--index", required=True)
    g = sp.add_mutually_exclusive_group(required=True)
    g.add_argument("--json", help="one document as inline JSON")
    g.add_argument("--file", help="JSON-lines file of documents")

    sp = add("delete", cmd_delete)
    sp.add_argument("--index", required=True)
    sp.add_argument("--id", nargs="+", required=True)

    sp = add("fetch", cmd_fetch)
    sp.add_argument("--index", required=True)
    sp.add_argument("--id", nargs="+", required=True)
    sp.add_argument("--fetch", default="FULL", choices=("FULL", "META", "NONE"))
    sp.add_argument("--fl", nargs="*")
    sp.add_argument("--flMask", nargs="*")

    sp = add("query", cmd_query)
    sp.add_argument("--index", nargs="+", required=True)
    sp.add_argument("-q", "--query", action="append", help="scored query (repeatable)")
    sp.add_argument("--filter", action="append", help="filter query (repeatable)")
    sp.add_argument("--filterNot", action="append", help="negative filter (repeatable)")
    sp.add_argument("--qf", nargs="*")
    sp.add_argument("-m", "--mm", type=int, default=0)
    sp.add_argument("-o", "--defaultOperator", default="OR", choices=("AND", "OR"))
    sp.add_argument("-r", "--rows", type=int, default=10)
    sp.add_argument("--start", type=int, default=0)
    sp.add_argument("--realtime", action="store_true")
    sp.add_argument("--fetch", default="NONE", choices=("FULL", "META", "NONE"))
    sp.add_argument("--fl", nargs="*")
    sp.add_argument("--flMask", nargs="*")
    sp.add_argument("--facet", action="append")
    sp.add_argument("--facetTopN", type=int, default=10)
    sp.add_argument("--stat", action="append", help="facetField:numericField, or numericField alone for numeric stats")
    sp.add_argument("--sort", action="append", help="field[:desc] (repeatable)")
    sp.add_argument("--csv", action="store_true", help="emit results as CSV (REST /query/csv); fields via --fl")
    sp.add_argument("--facetCsv", action="store_true", help="emit facet counts as CSV (REST /query/facet)")
    sp.add_argument("--batch", action="store_true", help="CSV batch mode: cursor-paged full export (needs --sort)")
    sp.add_argument("--batchSize", type=int, default=500)

    sp = add("createAlias", cmd_create_alias)
    sp.add_argument("--alias", required=True)
    sp.add_argument("--to", required=True, help="target index (or alias)")

    sp = add("deleteAlias", cmd_delete_alias)
    sp.add_argument("--alias", required=True)

    add("displayAliases", cmd_display_aliases)

    sp = add("stats", cmd_stats)
    sp.add_argument("--load", action="store_true", help="fault every index in and report query-cache stats")

    sp = add("importAliases", cmd_import_aliases)
    sp.add_argument("--file", required=True, help="JSON {alias: index}")

    sp = add("storeAssociated", cmd_store_associated)
    sp.add_argument("--index", required=True)
    sp.add_argument("--id", required=True)
    sp.add_argument("--file", required=True)
    sp.add_argument("--name", help="stored filename (default: basename)")
    sp.add_argument("--meta", help="JSON metadata document")

    sp = add("fetchAssociated", cmd_fetch_associated)
    sp.add_argument("--index", required=True)
    sp.add_argument("--id", required=True)
    sp.add_argument("--name", help="one filename (default: all)")
    sp.add_argument("-o", "--out", required=True)

    sp = add("dump", cmd_dump)
    sp.add_argument("--index", required=True)
    sp.add_argument("-o", "--out", required=True)
    sp.add_argument("-z", "--gzip", action="store_true")

    sp = add("restore", cmd_restore)
    sp.add_argument("--index", help="override the dump's indexName")
    sp.add_argument("--dir", required=True, help="dump directory")
    sp.add_argument("--segments", type=int, default=4)
    sp.add_argument("--force", action="store_true")

    sp = add("export", cmd_export)
    sp.add_argument("--index", required=True)
    sp.add_argument("-o", "--out", required=True)
    sp.add_argument("-q", "--query", action="append")
    sp.add_argument("--filter", action="append")
    sp.add_argument("--filterNot", action="append")
    sp.add_argument("--qf", nargs="*")
    sp.add_argument("-m", "--mm", type=int, default=0)
    sp.add_argument("--defaultOperator", default="OR", choices=("AND", "OR"))
    sp.add_argument("--rows", type=int, default=10)
    sp.add_argument("--start", type=int, default=0)
    sp.add_argument("--realtime", action="store_true")

    sp = add("import", cmd_import)
    sp.add_argument("--index", required=True)
    sp.add_argument("--input", required=True, help="JSON-lines file")

    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    args.fn(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
