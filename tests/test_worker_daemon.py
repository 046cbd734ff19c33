"""The engine's Python worker daemon (``worker_daemon``): its path rule
drops SPARK_HOME's source zips only for an installed copy of the same
release, and workers of an engine session run the installed pyspark."""

from __future__ import annotations

import zipfile

import pytest

from mcas_question2_etl_spark.worker_daemon import compiled_path

_RELEASE = "__version__: str = '4.1.2'\n"


def _package(root, name, version):
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(version)
    return str(root)


@pytest.mark.parametrize(
    "zip_name, package",
    [("pyspark.zip", "pyspark"), ("py4j-0.10.9.9-src.zip", "py4j")],
)
@pytest.mark.parametrize(
    "installed, dropped",
    [(_RELEASE, True), ("__version__: str = '4.0.0'\n", False), (None, False)],
    ids=["same_release", "other_release", "not_installed"],
)
def test_compiled_path_rule(tmp_path, zip_name, package, installed, dropped):
    src = tmp_path / zip_name
    with zipfile.ZipFile(src, "w") as z:
        z.writestr(f"{package}/__init__.py", "")
        z.writestr(f"{package}/version.py", _RELEASE)
    path = [str(tmp_path / "cwd"), str(src)]
    if installed is not None:
        path.append(_package(tmp_path / "site", package, installed))

    out = compiled_path(path)

    assert out == ([p for p in path if p != str(src)] if dropped else path)


def test_session_workers_run_installed_pyspark(spark):
    rows = [(i, "x" * (i % 7)) for i in range(64)]
    df = spark.createDataFrame(rows, "k long, s string").repartition(4)
    assert df.rdd.getNumPartitions() == 4

    def probe(batches):
        import pyspark

        for pdf in batches:
            yield pdf.assign(v=pdf["k"] * 3 + pdf["s"].str.len(), where=pyspark.__file__)

    out = df.mapInPandas(probe, "k long, s string, v long, where string").collect()

    assert {r.where for r in out} and not any(".zip" in r.where for r in out)
    assert sorted((r.k, r.s, r.v) for r in out) == sorted(
        (k, s, k * 3 + len(s)) for k, s in rows
    )
