"""Unit tests for wave-23: incremental LSH recall vs self-join,
FK audit detects planted orphans, Gini formula pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_lsh_between_agrees_with_self_join_cross_pairs(spark, monkeypatch):
    """Batch-vs-corpus banding finds exactly the cross-relation subset
    of the self-join candidates (same family, guard off on both)."""
    from mcas_question2_etl_spark.catalog import load_table
    from mcas_question2_etl_spark.operators import dedup
    from tests.conftest import SF_SMALL

    monkeypatch.setattr(dedup, "MH_MAX_BUCKET", 10**9)
    docs = load_table(spark, SF_SMALL, "documents").filter(F.length("text") >= 3)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    got = {
        (r.batch_id, r.corpus_id)
        for r in dedup.minhash_lsh_between(batch, corpus).collect()
    }
    # self-join over the union with the guard off, filtered to cross pairs
    self_pairs = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    want = set()
    for a, b in self_pairs:
        if (a % 10 == 7) != (b % 10 == 7):
            want.add((a, b) if a % 10 == 7 else (b, a))
    assert got == want


def test_fk_orphan_report_detects_planted_orphan(spark, tmp_path):
    """Clean star schema reports zero orphans on every edge; a planted
    dangling key is counted."""
    from mcas_question2_etl_spark.plans.curation_specs import fk_orphan_report
    from tests.conftest import SF_SMALL

    rows = fk_orphan_report(spark, SF_SMALL).collect()
    assert len(rows) == 7
    assert all(r.n_orphans == 0 for r in rows)

    # plant an orphan: copy sf data dir shape with one broken nation row
    import shutil

    from mcas_question2_etl_spark.catalog import TABLES, load_table

    d = tmp_path / "sf_broken"
    d.mkdir()
    for t in TABLES:
        src = load_table(spark, SF_SMALL, t)
        if t == "customer":
            src = src.withColumn(
                "c_nationkey",
                F.when(F.col("c_custkey") == 0, F.lit(9999)).otherwise(
                    F.col("c_nationkey")
                ),
            )
        src.write.mode("overwrite").parquet(str(d / f"{t}.parquet"))
    broken = {r.edge: r for r in fk_orphan_report(spark, str(d)).collect()}
    assert broken["customer.c_nationkey"].n_orphans == 1


def test_gini_formula_pinned(spark):
    """Hand-computable fixture: all-equal values -> gini 0; a maximally
    skewed 2-doc corpus approaches 0.5."""
    from mcas_question2_etl_spark.operators.ranking import with_global_row_number

    def gini_of(vals):
        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(vals)], "doc_id long, v double"
        )
        ranked = with_global_row_number(df, ["v", "doc_id"], out_col="i")
        n = len(vals)
        s = float(sum(vals))
        row = ranked.agg(
            (
                F.sum((2 * F.col("i") - n - 1) * F.col("v")) / (n * s)
            ).alias("g")
        ).first()
        return row.g

    assert gini_of([5, 5, 5, 5]) == pytest.approx(0.0)
    assert gini_of([0.0001, 100.0]) == pytest.approx(0.5, abs=1e-3)
    py = sorted([3, 1, 4, 1, 5, 9, 2, 6])
    n = len(py)
    s = sum(py)
    want = sum((2 * (i + 1) - n - 1) * v for i, v in enumerate(py)) / (n * s)
    assert gini_of([3, 1, 4, 1, 5, 9, 2, 6]) == pytest.approx(want)
