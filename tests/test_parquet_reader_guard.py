"""Structural guards on ``sources/io.py``.

``read_parquet`` is the package's only parquet reader. A direct
``spark.read[...].parquet(...)`` anywhere else would bring back the
per-call footer-inference job that the reader resolves once per session
(and lose the schema a writer already knows), so every such call
outside ``sources/io.py`` fails here.

``spill`` is the package's only place for intermediate parquet: it
writes under a directory ``spark.stop()`` removes. A ``tempfile`` path
elsewhere would outlive the session, so any ``tempfile`` use outside
``sources/io.py`` fails here."""

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


def _offenders(detect) -> list[str]:
    return [
        f"{path.relative_to(PACKAGE.parent)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != READER
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
