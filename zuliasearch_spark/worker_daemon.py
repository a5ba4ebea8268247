"""Python worker daemon that imports the installed pyspark, not Spark's zip.

Spark starts its Python worker daemon with ``$SPARK_HOME/python/lib/
pyspark.zip``, the ``py4j-*-src.zip`` beside it and the ``spark-core``
jar at the front of ``sys.path``, so workers import pyspark from the
zip while the driver imports the installed copy. On every task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 each
``zipimporter`` then re-reads its archive's central directory. A worker
holds one zipimporter per package directory it imported from the zip
(16 after a pandas-UDF task, each re-reading the 1,328-entry archive), so
that call alone cost 160-350 ms per task at ``local[4]`` on a 4-CPU host.

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Before pyspark is imported it drops the bundled entries from
``sys.path`` and from ``sys.path_importer_cache`` (runpy has already
built a zipimporter for each while finding this module), then runs
``pyspark.daemon.manager()``. Forked workers inherit that state. The
path is left as Spark built it when the installed pyspark or py4j is
missing or its version differs from the bundled one.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)
_PY4J_ZIP = re.compile(r"^py4j-(.+)-src\.zip$")


def _bundled(entry: str) -> bool:
    base = os.path.basename(entry)
    return (
        base == "pyspark.zip"
        or _PY4J_ZIP.match(base) is not None
        or (base.startswith("spark-core_") and base.endswith(".jar"))
    )


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _installed_version(name: str, path: list[str]) -> str | None:
    spec = PathFinder.find_spec(name, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as fh:
            return _version(fh.read())
    except OSError:
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's bundled pyspark/py4j/jar entries, or
    ``path`` itself when the installed copies would not match them."""
    kept = [p for p in path if not _bundled(p)]
    pyspark_zip = next((p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    py4j_zip = next((p for p in path if _PY4J_ZIP.match(os.path.basename(p))), None)
    if pyspark_zip is None or py4j_zip is None:
        return path
    try:
        with zipfile.ZipFile(pyspark_zip) as zf:
            bundled = _version(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    py4j_bundled = _PY4J_ZIP.match(os.path.basename(py4j_zip)).group(1)
    if (
        bundled is None
        or _installed_version("pyspark", kept) != bundled
        or _installed_version("py4j", kept) != py4j_bundled
    ):
        return path
    return kept


def main() -> None:
    kept = worker_path(sys.path)
    if kept is not sys.path:
        for entry in set(sys.path) - set(kept):
            sys.path_importer_cache.pop(entry, None)
        sys.path[:] = kept
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
