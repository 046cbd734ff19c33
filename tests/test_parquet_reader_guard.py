"""Structural guards on the package's I/O and materialization helpers.

``read_parquet`` is the package's only parquet reader. A direct
``spark.read[...].parquet(...)`` anywhere else would bring back the
per-call footer-inference job that the reader resolves once per session
(and lose the schema a writer already knows), so every such call
outside ``sources/io.py`` fails here.

``spill`` is the package's only place for intermediate parquet: it
writes under a directory ``spark.stop()`` removes. A ``tempfile`` path
elsewhere would outlive the session, so any ``tempfile`` use outside
``sources/io.py`` fails here.

``localCheckpoint`` is the package's only in-session materialization.
A ``persist()``/``cache()`` block stays in the session's cache manager
until someone unpersists it, and no caller has the scope to, so any
such call in the package fails here."""

from __future__ import annotations

import ast
import pathlib

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "mcas_question2_etl_spark"
READER = PACKAGE / "sources" / "io.py"


def _batch_parquet_reads(source: str) -> list[int]:
    """Line numbers of ``<x>.read<...>.parquet(...)`` calls: a parquet
    call whose receiver chain passes through a ``.read`` attribute
    (``readStream`` and ``.write`` chains are not reads)."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        recv = node.func.value
        while isinstance(recv, (ast.Call, ast.Attribute)):
            if isinstance(recv, ast.Attribute):
                if recv.attr == "read":
                    lines.append(node.lineno)
                    break
                recv = recv.value
            else:
                recv = recv.func
    return lines


def _tempfile_uses(source: str) -> list[int]:
    """Line numbers of ``import tempfile``, ``from tempfile import ...``
    and ``tempfile.gettempdir()``/``mkdtemp()`` calls."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            if any(a.name == "tempfile" for a in node.names):
                lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom):
            if node.module == "tempfile":
                lines.append(node.lineno)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("gettempdir", "mkdtemp")
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "tempfile"
        ):
            lines.append(node.lineno)
    return lines


def _cache_calls(source: str) -> list[int]:
    """Line numbers of ``<x>.persist(...)`` and ``<x>.cache(...)``
    calls."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "cache")
    ]


def _offenders(detect, exempt: pathlib.Path | None = READER) -> list[str]:
    return [
        f"{path.relative_to(PACKAGE.parent)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != exempt
        for line in detect(path.read_text())
    ]


@pytest.mark.parametrize(
    "src, flagged",
    [
        ("spark.read.parquet(p)", True),
        ("spark.read.schema(s).parquet(p)", True),
        ("s.read.option('mergeSchema', 'true').parquet(p)", True),
        ("spark.readStream.schema(s).parquet(p)", False),
        ("df.write.mode('overwrite').parquet(p)", False),
        ("read_parquet(spark, p)", False),
    ],
)
def test_detector(src, flagged):
    assert bool(_batch_parquet_reads(src)) is flagged


def test_reader_is_the_only_parquet_read():
    offenders = _offenders(_batch_parquet_reads)
    assert offenders == [], (
        "read parquet through sources.io.read_parquet: " + ", ".join(offenders)
    )


def test_reader_itself_is_seen():
    # the guard would pass vacuously if the detector missed the one
    # legitimate site
    assert _batch_parquet_reads(READER.read_text())


@pytest.mark.parametrize(
    "src, flagged",
    [
        ("import tempfile", True),
        ("import os, tempfile", True),
        ("from tempfile import mkdtemp", True),
        ("tempfile.gettempdir()", True),
        ("tempfile.mkdtemp()", True),
        ("spill(spark, build)", False),
    ],
)
def test_tempfile_detector(src, flagged):
    assert bool(_tempfile_uses(src)) is flagged


def test_spill_is_the_only_temp_parquet():
    offenders = _offenders(_tempfile_uses)
    assert offenders == [], (
        "spill intermediate parquet through sources.io.spill: "
        + ", ".join(offenders)
    )


@pytest.mark.parametrize(
    "src, flagged",
    [
        ("df.persist()", True),
        ("df.select('a').persist(StorageLevel.DISK_ONLY)", True),
        ("df.cache()", True),
        ("df.localCheckpoint(eager=True)", False),
        ("spark.catalog.clearCache()", False),
    ],
)
def test_cache_detector(src, flagged):
    assert bool(_cache_calls(src)) is flagged


def test_no_persist_or_cache_in_package():
    offenders = _offenders(_cache_calls, exempt=None)
    assert offenders == [], (
        "materialize through localCheckpoint, not persist/cache: "
        + ", ".join(offenders)
    )
