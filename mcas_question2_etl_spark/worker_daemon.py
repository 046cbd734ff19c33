"""Python worker daemon for engine sessions (``spark.python.daemon.module``).

Spark starts one daemon per executor as ``python -m <this module>`` and
forks a worker from it for each Python task. The stock ``pyspark.daemon``
imports pyspark from SPARK_HOME's ``pyspark.zip``, whose modules are never
byte-compiled (about 1 s to import ``pyspark.daemon``, against 0.2 s from an
installed copy), and each forked worker imports pandas and pyarrow again.
This module drops those zips from ``sys.path`` when an installed copy of the
same release is on it, imports the worker's Arrow stack once so every fork
inherits it, then runs the stock fork loop unchanged.

Whatever is imported here runs before the fork: it must be fork-safe.
"""

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _zipped_package(entry: str) -> str | None:
    """The package a SPARK_HOME source zip on ``sys.path`` holds, if any."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return "py4j"
    return None


def _installed_same(entry: str, package: str, dirs: list[str]) -> bool:
    """True when ``dirs`` hold a non-zip ``package`` whose ``version.py``
    is byte-equal to the one in the zip ``entry``."""
    spec = PathFinder.find_spec(package, dirs)
    if spec is None or spec.origin is None:
        return False
    version = os.path.join(os.path.dirname(spec.origin), "version.py")
    try:
        with zipfile.ZipFile(entry) as z, open(version, "rb") as f:
            return z.read(f"{package}/version.py") == f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def compiled_path(path: list[str]) -> list[str]:
    """``path`` without each source zip that an installed copy of the same
    release replaces; otherwise ``path`` unchanged."""
    dirs = [p for p in path if _zipped_package(p) is None]
    return [
        p for p in path
        if (pkg := _zipped_package(p)) is None or not _installed_same(p, pkg, dirs)
    ]


def main() -> None:
    sys.path[:] = compiled_path(sys.path)
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
