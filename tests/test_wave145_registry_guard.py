"""Wave 145 — structural duplicate-name guard for the spec registry
(VERDICT r7 #3).

Round 7 lost four waves (135/139/141/143) to re-implementing operators
that already existed under other names; wave 143's ``gk_lambda``
silently SHADOWED the pre-existing registry entry because
``registry.queries()`` dict-builds (last name wins) and the suite
assembled by list-splat with no uniqueness check. These tests make the
failure structural: a colliding name now raises at suite assembly, and
the four retracted wave names are pinned as regression sentinels.
"""

from __future__ import annotations

import pytest

from mcas_question2_etl_spark.plans.suite import (
    SPECS,
    _ALL,
    _assert_unique_names,
)
from mcas_question2_etl_spark.registry import QuerySpec


def test_live_suite_has_unique_names():
    names = [s.name for s in _ALL]
    assert len(names) == len(set(names))
    assert len(SPECS) == len(_ALL)


def test_duplicate_name_raises():
    dup = _ALL[:3] + [
        QuerySpec(
            name=_ALL[0].name,
            fn=_ALL[1].fn,
            oracle=_ALL[1].oracle,
            survey_ref=_ALL[1].survey_ref,
        )
    ]
    with pytest.raises(ValueError, match=_ALL[0].name):
        _assert_unique_names(dup)


@pytest.mark.parametrize(
    "retracted",
    # the four round-7 duplicate-wave names (retracted commit 93aeb55);
    # their CONCEPTS live on under the original names asserted below
    ["burrows_delta_dup", "newsvendor_dup", "hoeffding_bound_dup",
     "gk_lambda_dup"],
)
def test_retracted_wave_names_stay_out(retracted):
    assert retracted not in {s.name for s in SPECS}


def test_original_specs_survived_the_retraction():
    """The retraction removed the shadowing copies, not the originals:
    each duplicated concept still has exactly one registered spec."""
    names = {s.name for s in SPECS}
    assert "gk_lambda_source_lang" in names  # the spec wave 143 shadowed
    assert "burrows_delta_sources" in names
    assert "term_burstiness_docs" in names


def test_guard_is_wired_into_assembly():
    """SPECS must be built THROUGH the guard (not just have it defined
    next to it) — re-running the assembly path on the live list must
    pass, and the guard must be the identity on it."""
    assert _assert_unique_names(_ALL) is _ALL


def test_bench_benches_the_whole_registry(monkeypatch):
    """bench.py derives its query list from the registry: every spec in
    declaration order, and an isolation name that is not registered
    raises instead of being dropped."""
    import bench

    assert bench.bench_names() == [s.name for s in _ALL]
    assert set(bench.ISOLATE) <= {s.name for s in _ALL}

    monkeypatch.setattr(bench, "ISOLATE", bench.ISOLATE + ("no_such_spec",))
    with pytest.raises(ValueError, match="no_such_spec"):
        bench.bench_names()
