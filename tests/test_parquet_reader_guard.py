"""Structural guard: ``sources.io.read_parquet`` is the package's only
parquet reader. A direct ``spark.read[...].parquet(...)`` anywhere else
would bring back the per-call footer-inference job that the reader
resolves once per session (and lose the schema a writer already
knows), so every such call outside ``sources/io.py`` fails here."""

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
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != READER
        for line in _batch_parquet_reads(path.read_text())
    ]
    assert offenders == [], (
        "read parquet through sources.io.read_parquet: " + ", ".join(offenders)
    )


def test_reader_itself_is_seen():
    # the guard would pass vacuously if the detector missed the one
    # legitimate site
    assert _batch_parquet_reads(READER.read_text())
