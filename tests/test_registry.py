"""Registry gate-ordering predicates: a driver artifact row counts as
green only when ALL THREE compare flags are true (rows/schema/hash) —
a rowcount-matching but value-mismatching row must re-run first."""

from __future__ import annotations

import json

from bireme_spark.registry import _recorded_rounds


def _write(tmp_path, rnd, rows):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_all_three_flags_required(tmp_path):
    _write(
        tmp_path,
        1,
        {
            "good": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": True,
                "err": None,
            },
            "hash_bad": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": False,
                "err": None,
            },
            "schema_bad": {
                "rows_match": True,
                "schema_match": False,
                "hash_match": True,
                "err": None,
            },
            "hash_missing": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": None,
                "err": None,
            },
            "errored": {
                "rows_match": None,
                "schema_match": None,
                "hash_match": None,
                "err": "boom",
            },
        },
    )
    rec = _recorded_rounds(tmp_path)
    assert rec == {"good": 1}


def test_rows_only_green_needs_rows(tmp_path):
    _write(
        tmp_path,
        2,
        {
            "ran": {"err": "no_oracle", "spark_rows": 12},
            "empty": {"err": "no_oracle", "spark_rows": 0},
        },
    )
    rec = _recorded_rounds(tmp_path)
    assert rec == {"ran": 2}


def test_latest_round_wins(tmp_path):
    row = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    _write(tmp_path, 1, {"q": row})
    _write(tmp_path, 3, {"q": row})
    assert _recorded_rounds(tmp_path) == {"q": 3}


def test_every_headline_query_has_a_baseline_floor():
    """bench.py can only flag a regression on a query that has a
    BASELINE.md floor — a floorless HEADLINE entry is a silent hole
    in the perf gate (r7 verdict: 17 of 196 had none)."""
    import pathlib
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root))
    try:
        import bench
    finally:
        sys.path.pop(0)
    floors = bench._baseline_floors()
    missing = sorted(n for n in bench.HEADLINE if n not in floors)
    assert not missing, f"HEADLINE queries without a BASELINE.md floor: {missing}"


def test_new_this_round_ops_are_sf1_swept():
    """Three-tier gating guard (VERDICT r9 item 7): every operator
    registered this round (`registry._NEW_THIS_ROUND`) must appear in
    this round's SF1_SPOTGATE record before round close — the sf1
    tier is what catches stride/overflow boundaries that sf0.01
    passes (trending-terms DIV key, Mahalanobis DECIMAL(38) blowup)."""
    import pathlib
    import re

    from bireme_spark.registry import _NEW_THIS_ROUND

    if not _NEW_THIS_ROUND:
        return  # round just opened — nothing registered yet
    root = pathlib.Path(__file__).resolve().parent.parent
    records = sorted(
        root.glob("SF1_SPOTGATE_r*.md"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    swept = records[-1].read_text() if records else ""
    missing = sorted(n for n in _NEW_THIS_ROUND if n not in swept)
    assert not missing, (
        f"_NEW_THIS_ROUND operators absent from {records[-1].name if records else 'any SF1 record'}: "
        f"{missing} — run scripts/driver_sim.py testdata_sf1 <names> and record the sweep"
    )


def test_registry_loads_every_query_module():
    """All 560 registered queries load, 548 of them with an oracle."""
    from bireme_spark import registry

    assert len(registry.queries()) == 560
    assert len(registry.oracle_sql()) == 548


def test_broken_query_module_raises(monkeypatch):
    """A query module that fails to import fails the registry load
    instead of silently dropping its queries."""
    import builtins

    import pytest

    from bireme_spark import registry

    real_import = builtins.__import__

    def import_(name, *args, **kwargs):
        if name == "bireme_spark.queries.cdc":
            raise ImportError("simulated broken query module")
        return real_import(name, *args, **kwargs)

    monkeypatch.setattr(registry, "_QUERIES", {})
    monkeypatch.setattr(registry, "_ORACLE", {})
    monkeypatch.setattr(builtins, "__import__", import_)
    with pytest.raises(ImportError, match="simulated broken query module"):
        registry._load()
