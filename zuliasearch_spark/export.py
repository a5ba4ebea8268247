"""CSV export of query results and facet counts — the REST download
surface (zulia-server ``rest/controllers/QueryController.java:119-238``
``getCSV``/``getFacets``/``getBatchStream``, ``CSVUtil.java``).

Spark-first shape: every field is flattened to its CSV cell by a
codegen *expression* (``csv_cell_expr``) — quoting, ``;``-joining of
multivalued fields, and nested-document JSON embedding are all
built-in functions, so :func:`query_csv_lines` yields a distributed
DataFrame of finished lines that can be ``.write.text()``'d at any
scale (the 100-TB path). The reference's streaming REST download —
cursor-paged batches of ``batchSize`` rows (``getBatchStream``,
``QueryController.java:198-238``) — is :func:`export_query_csv` with
``batch=True``: a ``sort_search`` + ``sort_cursor`` loop, exactly the
``setLastResult(qr.getLastResult())`` page walk.

Cell semantics (``appendDocument``, ``QueryController.java:637-705``):

- ``null``/absent → empty cell (still delimited).
- list  → one double-quoted cell, elements joined with ``;``; string
  elements pass through ``quoteForCSV`` first, embedded documents
  are JSON with ``"`` doubled, other scalars ``toString``. An EMPTY
  list renders as an empty cell (no quotes) — faithfully mirrored.
- nested document → double-quoted JSON with ``"`` doubled.
- string → ``CSVUtil.quoteForCSV``: wrapped in quotes (inner quotes
  doubled) iff it contains a comma, a space, a quote, or a newline.
- number/boolean → ``toString`` (Spark's string cast).
- date → ``java.util.Date.toString()`` under the session's UTC zone
  (``EEE MMM dd HH:mm:ss UTC yyyy``).

Documented deviation: mask-prefixed ``-field`` entries are dropped
from BOTH header and rows (the reference drops them from the header
only and emits misaligned empty cells for them — a bug we don't
reproduce).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

__all__ = [
    "quote_for_csv",
    "csv_cell_expr",
    "csv_line_expr",
    "query_csv_lines",
    "export_query_csv",
    "export_facet_csv",
]


def quote_for_csv(value: str) -> str:
    """Driver-side mirror of ``CSVUtil.quoteForCSV`` (CSVUtil.java:4-11):
    quote iff the value contains a comma, a space, a quote, or a
    newline; inner quotes are doubled."""
    if any(ch in value for ch in (",", " ", '"', "\n")):
        return '"' + value.replace('"', '""') + '"'
    return value


def _quote_expr(c: Column) -> Column:
    """Expression form of :func:`quote_for_csv` (whole-stage codegen)."""
    needs = (
        c.contains(",") | c.contains(" ") | c.contains('"') | c.contains("\n")
    )
    return F.when(
        needs, F.concat(F.lit('"'), F.regexp_replace(c, '"', '""'), F.lit('"'))
    ).otherwise(c)


# java.util.Date.toString() under a UTC session zone — the session
# fixes spark.sql.session.timeZone=UTC (session.py), so the literal
# 'UTC' matches what the reference host would print there.
_JAVA_DATE_FMT = "EEE MMM dd HH:mm:ss 'UTC' yyyy"


def _scalar_cell(c: Column, dt: T.DataType) -> Column:
    if isinstance(dt, T.StringType):
        return _quote_expr(c)
    if isinstance(dt, (T.TimestampType, T.DateType)):
        return F.date_format(c, _JAVA_DATE_FMT)
    if isinstance(dt, T.StructType):
        return F.concat(
            F.lit('"'), F.regexp_replace(F.to_json(c), '"', '""'), F.lit('"')
        )
    # numbers / booleans: toString
    return c.cast("string")


def csv_cell_expr(field: str, dt: T.DataType) -> Column:
    """One stored field → its CSV cell (appendDocument's switch as an
    expression). ``field`` may be a dotted nested path; ``dt`` is the
    resolved leaf type."""
    c = F.col(field)
    if isinstance(dt, T.ArrayType):
        el = dt.elementType
        if isinstance(el, T.StringType):
            inner = lambda x: _quote_expr(x)  # noqa: E731
        elif isinstance(el, T.StructType):
            inner = lambda x: F.regexp_replace(F.to_json(x), '"', '""')  # noqa: E731
        elif isinstance(el, (T.TimestampType, T.DateType)):
            inner = lambda x: F.date_format(x, _JAVA_DATE_FMT)  # noqa: E731
        else:
            inner = lambda x: x.cast("string")  # noqa: E731
        joined = F.concat(
            F.lit('"'),
            F.array_join(F.transform(c, inner), ";"),
            F.lit('"'),
        )
        # empty list → empty cell (appendDocument guards !list.isEmpty())
        return F.when(c.isNotNull() & (F.size(c) > 0), joined).otherwise(F.lit(""))
    return F.coalesce(_scalar_cell(c, dt), F.lit(""))


def _resolve_type(schema: T.StructType, field: str) -> T.DataType | None:
    """Walk a dotted path through nested structs; None if absent."""
    dt: T.DataType = schema
    for part in field.split("."):
        if isinstance(dt, T.StructType) and part in dt.fieldNames():
            dt = dt[part].dataType
        else:
            return None
    return dt


def _visible_fields(fields) -> list[str]:
    return [f for f in fields if not f.startswith("-")]


def csv_header(fields) -> str:
    """``buildHeaderForCSV`` (QueryController.java:497-504): fields
    joined with commas + newline, ``-``-prefixed masks excluded."""
    vis = _visible_fields(fields)
    if not vis:
        raise ValueError("fields are required for CSV export")
    return ",".join(vis) + "\n"


def csv_line_expr(schema: T.StructType, fields) -> Column:
    """All requested fields → one finished CSV line column. Absent
    fields render as empty cells (getValueFromMongoDocument → null)."""
    cells = []
    for f in _visible_fields(fields):
        dt = _resolve_type(schema, f)
        if dt is None:
            cells.append(F.lit(""))
        else:
            cells.append(csv_cell_expr(f, dt))
    # concat_ws would swallow separators next to nulls; every cell is
    # already null-safe (coalesced/when'd to ""), so this keeps each
    # delimiter — the reference always appends the comma.
    return F.concat_ws(",", *cells).alias("line")


def query_csv_lines(engine, req, fields) -> DataFrame:
    """The whole match set as a DataFrame of CSV lines (no header row)
    — the scale path: ``query_csv_lines(...).write.text(out)`` is a
    distributed export; no cursor loop, no driver materialization."""
    matches = engine.match_ids(req).select("shard", "doc_id")
    # match_ids already drops tombstoned docs
    docs = matches.join(engine.tables.doc_map, ["shard", "doc_id"])
    return docs.select(csv_line_expr(docs.schema, fields))


def export_query_csv(
    engine,
    req,
    fields,
    *,
    rows: int = 10,
    sort_keys: tuple | None = None,
    batch: bool = False,
    batch_size: int = 500,
) -> str:
    """``GET /query/csv`` — one CSV string.

    Non-batch (``QueryController.getCSVDocumentResponse``): the scored
    top-``rows`` results in result order. Batch
    (``getBatchStream:198-238``): page the FULL result set with a
    searchAfter cursor, ``batch_size`` rows per page — requires
    ``sort_keys`` on a unique value/combination, same as the REST
    endpoint ("Sort ... is required to use a cursor")."""
    header = csv_header(fields)
    out = [header]
    if batch:
        if not sort_keys:
            raise ValueError(
                "Sort on unique value or value combination is required to "
                "use a cursor (i.e. id or title,id)"
            )
        after = None
        while True:
            page = engine.sort_search(
                req, sort_keys=sort_keys, amount=batch_size, after=after
            )
            # line expr evaluated IN the page plan (one job per page);
            # the full row rides along for the next page's cursor
            prows = page.select("*", csv_line_expr(page.schema, fields)).collect()
            if not prows:
                break
            out.extend(r["line"] + "\n" for r in prows)
            if len(prows) < batch_size:
                break
            after = engine.sort_cursor(prows[-1], sort_keys)
        return "".join(out)

    if sort_keys:
        page = engine.sort_search(req, sort_keys=sort_keys, amount=rows)
        for r in page.select(csv_line_expr(page.schema, fields)).collect():
            out.append(r["line"] + "\n")
        return "".join(out)

    # scored order: top-k ids, then one broadcast fetch re-ordered by
    # result position
    res = engine.search(req, fetch="ids")
    ids = [t["uniqueId"] for t in res.get("topk", [])][:rows]
    if not ids:
        return "".join(out)
    docs = engine.fetch(ids)
    spark = docs.sparkSession
    order = spark.createDataFrame(
        [(uid, i) for i, uid in enumerate(ids)], "uniqueId string, _pos int"
    )
    ordered = docs.join(F.broadcast(order), "uniqueId").orderBy("_pos")
    for r in ordered.select(csv_line_expr(ordered.schema, fields)).collect():
        out.append(r["line"] + "\n")
    return "".join(out)


def export_facet_csv(engine, req, facets, top_n: int = 10) -> str:
    """``GET /query/facet`` (QueryController.java:169-195, getFacetCSV
    :236-255): ``facetName,facetKey,facetValue`` rows, one block per
    requested facet, the facet key blindly double-quoted exactly as
    the reference does."""
    out = ["facetName,facetKey,facetValue\n"]
    for facet in facets:
        fdf = engine.facet_counts(req, facet, top_n=top_n)
        if fdf is None:
            continue
        for r in fdf.collect():
            out.append(f'{facet},"{r["value"]}",{int(r["cnt"])}\n')
    return "".join(out)
