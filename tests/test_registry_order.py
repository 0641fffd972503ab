"""Driver-window ordering: the ~50-query CORRECTNESS prefix must
surface (1) failed / never-oracle-verified records, by round, (2)
never-checked queries, then (3) green rows by OLDEST driver snapshot
first (freshness rotation) — so a fix or a new oracle is
driver-verified the very next round, and no green row ages
indefinitely. The order comes from the CORRECTNESS records alone; the
registry runs no git."""

from __future__ import annotations

from hands_on_trino_iceberg_superset_spark.queries import load_all
from hands_on_trino_iceberg_superset_spark.queries.base import (
    _check_failed,
    _last_driver_check,
)


def test_check_failed_flags():
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 3, "oracle_rows": 3, "err": None}
    assert not _check_failed(ok, has_oracle=True)
    assert _check_failed({**ok, "hash_match": False}, has_oracle=True)
    assert _check_failed({**ok, "rows_match": False}, has_oracle=True)
    assert _check_failed({**ok, "err": "boom"}, has_oracle=True)
    # rows-only record for a query that HAS an oracle now: the oracle
    # was never driver-verified -> treat as needing a re-check
    rows_only = {"spark_rows": 5, "err": "no_oracle"}
    assert _check_failed(rows_only, has_oracle=True)
    # ...but for a genuinely oracle-less query a rows-only check that
    # produced rows is the strongest check the driver can do
    assert not _check_failed(rows_only, has_oracle=False)
    assert _check_failed({"spark_rows": None, "err": "no_oracle"},
                         has_oracle=False)


def test_window_prefix_prioritizes_recheck():
    last = _last_driver_check()
    if not last:  # fresh checkout without CORRECTNESS files
        return
    inv = load_all()
    names = list(inv)
    window = set(names[:50])
    for name, (rnd, rec) in last.items():
        if name in inv and _check_failed(rec, inv[name].oracle is not None):
            assert name in window, (
                f"{name} latest driver record (r{rnd:02d}) is not a full "
                f"pass yet it sits outside the re-check window")
    for name in inv:
        if name not in last:
            assert name in window, f"never-checked {name} outside window"


def _fabricated_order(base, monkeypatch, n_failed: int,
                      n_never: int = 0) -> tuple:
    """load_all() ordering with the first ``n_failed`` registry
    entries fabricated as failed (class 0), the last ``n_never``
    absent from the records (never checked), and the rest green with
    ages cycling r1..r6; returns (ordered names, last-check map)."""
    names = list(base.REGISTRY)
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    last = {}
    for i, n in enumerate(names[:len(names) - n_never]):
        if i < n_failed:
            last[n] = (7, {**ok, "hash_match": False})
        else:
            last[n] = (1 + (i % 6), ok)
    monkeypatch.setattr(base, "_last_driver_check", lambda: last)
    return list(base.load_all()), last


def test_freshness_rotation_oldest_green_first(monkeypatch):
    """Green rows sort by OLDEST driver snapshot first: with 10
    failed queries, the window is 10 failed + the 40 globally oldest
    greens, and no green outside the window is older than one
    inside."""
    from hands_on_trino_iceberg_superset_spark.queries import base

    base.load_all()  # populate REGISTRY
    ordered, last = _fabricated_order(base, monkeypatch, n_failed=10)
    window = ordered[:base._WINDOW]
    assert all(last[n][1]["hash_match"] is False
               for n in window[:10])
    greens_in = window[10:]
    assert all(last[n][1]["hash_match"] is True for n in greens_in)
    newest_in = max(last[n][0] for n in greens_in)
    in_window = set(window)
    greens_older_out = [n for n in ordered
                        if last[n][1]["hash_match"]
                        and n not in in_window
                        and last[n][0] < newest_in]
    assert greens_older_out == []


def test_never_checked_between_failed_and_green(monkeypatch):
    """Queries absent from every driver record sort after every
    failed row and before every green, whatever their registry
    position."""
    from hands_on_trino_iceberg_superset_spark.queries import base

    base.load_all()
    ordered, last = _fabricated_order(base, monkeypatch, n_failed=10,
                                      n_never=5)
    never = [i for i, n in enumerate(ordered) if n not in last]
    failed = [i for i, n in enumerate(ordered)
              if n in last and last[n][1]["hash_match"] is False]
    green = [i for i, n in enumerate(ordered)
             if n in last and last[n][1]["hash_match"] is True]
    assert len(never) == 5 and len(failed) == 10
    assert max(failed) < min(never)
    assert max(never) < min(green)


def test_urgent_rows_never_displaced(monkeypatch):
    """Failed rows take every window slot they need before any
    green."""
    from hands_on_trino_iceberg_superset_spark.queries import base

    base.load_all()
    ordered, last = _fabricated_order(base, monkeypatch, n_failed=60)
    window = ordered[:base._WINDOW]
    # every window slot is a failed query; no green displaced one
    assert all(last[n][1]["hash_match"] is False for n in window)


def test_load_all_runs_no_git(monkeypatch):
    """A fresh import of the query registry orders the inventory
    without starting a process: every ``subprocess.run`` is recorded
    and refused."""
    import importlib
    import subprocess
    import sys

    calls = []

    def refuse(*args, **kwargs):
        calls.append(args)
        raise OSError("the query registry must not start processes")

    monkeypatch.setattr(subprocess, "run", refuse)
    pkg = importlib.import_module("hands_on_trino_iceberg_superset_spark")
    prefix = pkg.__name__ + ".queries"
    # re-import the registry and every query module from scratch;
    # monkeypatch puts the original modules back afterwards
    monkeypatch.setattr(pkg, "queries", pkg.queries)
    for name in [m for m in sys.modules
                 if m == prefix or m.startswith(prefix + ".")]:
        monkeypatch.delitem(sys.modules, name)
    fresh = importlib.import_module(prefix)
    assert fresh.REGISTRY == {}
    inv = fresh.load_all()
    assert len(inv) == len(load_all())
    assert calls == []
