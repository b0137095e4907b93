"""Registry staleness: queries whose implementing source changed since their
last driver-green CORRECTNESS row must sort to the front of ``all_queries()``
so the driver's capped per-round budget re-checks changed code first
(VERDICT r03 item 1)."""

from __future__ import annotations

import json

from data_engineering_project_utn_spark.plans import all_queries
from data_engineering_project_utn_spark.plans import staleness
from data_engineering_project_utn_spark.plans.staleness import (
    fingerprint,
    impl_files,
    is_stale,
)


def test_impl_files_cover_builder_module_and_operator_closure():
    qs = all_queries()
    files = impl_files(qs["ri_decile_histogram"].build)
    assert any(f.endswith("operators/histogram.py") for f in files)
    assert any(f.endswith("plans/") or "plans/" in f for f in files)
    # plumbing excluded: editing the registry itself must not stale the world
    assert not any(f.endswith("plans/registry.py") for f in files)
    assert not any(f.endswith("__init__.py") for f in files)


def test_every_builder_fingerprints_its_plan_module():
    """A twin registered through a ``functools.partial`` (``__module__`` is
    ``"functools"``) or a lambda from another module would fingerprint the
    wrong files and never be marked stale: every registered builder's
    closure must include its plan module."""
    missing = [
        name
        for name, q in all_queries().items()
        if not any(
            f.startswith("data_engineering_project_utn_spark/plans/")
            for f in impl_files(q.build)
        )
    ]
    assert not missing, missing


def test_fingerprint_is_deterministic():
    qs = all_queries()
    fn = qs["rl_pricing_summary"].build
    assert fingerprint(fn) == fingerprint(fn)
    assert len(fingerprint(fn)) == 16


def test_stale_queries_sort_before_fresh_ones():
    qs = all_queries()
    flags = [is_stale(n, q.build) for n, q in qs.items()]
    # Once a fresh (ledger-verified, unchanged) query appears, no stale
    # query may follow it.
    if False in flags:
        first_fresh = flags.index(False)
        assert not any(flags[first_fresh:]), (
            "stale query ordered after a fresh one — driver budget would "
            "skip changed code"
        )


def test_stale_queue_orders_least_recently_green_first():
    """Mass staleness (a shared module edit stales everything at once) must
    not push queries waiting since an older round past the driver's capped
    budget: within the stale set, never-verified sorts before r02-green
    sorts before r03-green."""
    from data_engineering_project_utn_spark.plans.staleness import last_green_round

    qs = all_queries()
    rounds = [
        last_green_round(n) for n, q in qs.items() if is_stale(n, q.build)
    ]
    assert rounds == sorted(rounds), (
        "stale queue not ordered by last-green recency"
    )


def test_ledger_mismatch_marks_stale(tmp_path, monkeypatch):
    qs = all_queries()
    name = "rl_pricing_summary"
    fn = qs[name].build
    ledger = tmp_path / "VERIFIED.json"
    ledger.write_text(
        json.dumps({name: {"round": "r99", "fingerprint": "0" * 16}})
    )
    monkeypatch.setattr(staleness, "LEDGER_PATH", str(ledger))
    staleness.clear_caches()
    try:
        assert is_stale(name, fn)  # fingerprint differs
        ledger.write_text(
            json.dumps({name: {"round": "r99", "fingerprint": fingerprint(fn)}})
        )
        staleness.clear_caches()
        assert not is_stale(name, fn)  # matches → fresh
        assert is_stale("never_verified_query", fn)  # absent → stale
    finally:
        staleness.clear_caches()


def test_file_digest_tracks_in_process_edits(tmp_path, monkeypatch):
    """The digest cache is keyed on (path, mtime, size): rewriting a file
    in-process must yield a fresh fingerprint, not the first call's cached
    one (ADVICE r04 — refresh_verified/live-reload sessions)."""
    monkeypatch.setattr(staleness, "REPO_ROOT", str(tmp_path))
    f = tmp_path / "mod.py"
    f.write_text("x = 1\n")
    d1 = staleness._file_digest("mod.py")
    f.write_text("x = 2  # changed\n")
    d2 = staleness._file_digest("mod.py")
    assert d1 != d2


def test_ledger_tracks_in_process_rewrite(tmp_path, monkeypatch):
    monkeypatch.setattr(staleness, "LEDGER_PATH", str(tmp_path / "VERIFIED.json"))
    staleness.clear_caches()
    (tmp_path / "VERIFIED.json").write_text(json.dumps({"q": {"round": "r01"}}))
    assert staleness._ledger() == {"q": {"round": "r01"}}
    (tmp_path / "VERIFIED.json").write_text(
        json.dumps({"q": {"round": "r02", "fingerprint": "abcd"}})
    )
    assert staleness._ledger()["q"]["round"] == "r02"
    staleness.clear_caches()
