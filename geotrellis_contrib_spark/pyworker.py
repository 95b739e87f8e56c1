"""Python worker daemon: Spark's own ``pyspark.daemon``, started from the
installed PySpark with the Arrow stack imported once before any fork.

Spark puts its bundled ``pyspark.zip``, ``py4j-*-src.zip`` and the
``spark-core`` jar at the head of the daemon's ``sys.path``. Modules loaded
from a zip are compiled on every start (zipimport writes no bytecode cache),
and ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task, which re-reads the central
directory of every cached zip importer. When an unzipped PySpark of the same
version is importable from the rest of the path, the bundled entries are
dropped; otherwise the path is left as Spark set it. Forked workers inherit
the imported modules, so each task starts with pandas, pyarrow and the Arrow
serializers loaded."""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_BUNDLED = re.compile(r"^(pyspark\.zip|py4j-.*-src\.zip|spark-core.*\.jar)$")
_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""",
                      re.MULTILINE)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def drop_bundled(path: list, importer_cache: dict) -> bool:
    """Remove Spark's bundled entries from ``path`` and their importers from
    ``importer_cache`` (both in place) when the rest of ``path`` imports an
    unzipped PySpark with the bundled ``__version__`` and a py4j. Returns
    whether anything was dropped."""
    bundled = [p for p in path if _BUNDLED.match(os.path.basename(p))]
    zips = [p for p in bundled if os.path.basename(p) == "pyspark.zip"]
    kept = [p for p in path if p not in bundled]
    spec = PathFinder.find_spec("pyspark", kept)
    if (not zips or spec is None or spec.origin is None
            or PathFinder.find_spec("py4j", kept) is None):
        return False
    try:
        with zipfile.ZipFile(zips[0]) as z:
            want = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
            have = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    if want is None or want != have:
        return False
    path[:] = kept
    for key in list(importer_cache):
        if any(key == b or key.startswith(b + os.sep) for b in bundled):
            del importer_cache[key]
    return True


def main() -> None:
    drop_bundled(sys.path, sys.path_importer_cache)
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
