"""Refresh the VERIFIED.json staleness ledger from driver CORRECTNESS files.

Usage::

    python tools/refresh_verified.py CORRECTNESS_r02.json r02 6d4639b
    python tools/refresh_verified.py CORRECTNESS_r03.json r03 669b4b9
    python tools/refresh_verified.py --current CORRECTNESS_r04.json r04

For every green row (no err, all *_match flags true) the ledger records the
query's implementation fingerprint **as of the git commit the driver actually
ran against** (``git show <commit>:<path>``), so later edits to any file in
the query's implementation closure make ``plans.staleness.is_stale`` flag it
and ``all_queries()`` re-prioritizes it into the driver's verification
budget.  ``--current`` hashes the working tree instead (use when the ledger
is refreshed in the same state the driver verified).

Run older rounds first: later rounds overwrite earlier entries per query.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from data_engineering_project_utn_spark.plans import all_queries  # noqa: E402
from data_engineering_project_utn_spark.plans import staleness  # noqa: E402


def _fingerprint_at_commit(fn, commit: str) -> str | None:
    """Fingerprint of fn's impl files with contents taken from ``commit``.
    Returns None if any file is missing at that commit (can't attest)."""
    h = hashlib.sha256()
    for rel in staleness.impl_files(fn):
        proc = subprocess.run(
            ["git", "show", f"{commit}:{rel}"],
            cwd=REPO_ROOT,
            capture_output=True,
        )
        if proc.returncode != 0:
            return None
        h.update(rel.encode())
        h.update(hashlib.sha256(proc.stdout).digest())
    return h.hexdigest()[:16]


def _is_green(row: dict) -> bool:
    if row.get("err") is not None:
        return False
    flags = [v for k, v in row.items() if k.endswith("_match")]
    return bool(flags) and all(flags)


def main(argv: list[str]) -> int:
    use_current = "--current" in argv
    argv = [a for a in argv if a != "--current"]
    if use_current and len(argv) == 3:
        # refusing is safer than guessing: silently fingerprinting the
        # working tree while the caller named a commit would record edited
        # code as verified — the exact staleness the ledger exists to catch
        print("error: pass EITHER --current OR a commit, not both")
        return 2
    if len(argv) not in (2, 3) or (not use_current and len(argv) != 3):
        print(__doc__)
        return 2
    correctness_path, round_name = argv[0], argv[1]
    commit = argv[2] if len(argv) == 3 else None

    with open(os.path.join(REPO_ROOT, correctness_path), encoding="utf-8") as fh:
        rows = json.load(fh)
    if "queries_checked" in rows and "fails" in rows:
        # A sweep record (``tools/run.py check --out``): every oracle-bearing
        # registry query the sweep ran that is not listed in ``fails``
        # passed it.  Records without ``queries`` come from full-registry
        # sweeps.  Synthesize per-query green rows so the sweep attests the
        # entries the driver's per-round budget did not re-check.
        fails = set(rows["fails"])
        ran = rows.get("queries") or all_queries()
        rows = {
            name: {"err": None, "sweep_match": True}
            for name, q in all_queries().items()
            if q.oracle is not None and name in ran and name not in fails
        }

    try:
        with open(staleness.LEDGER_PATH, encoding="utf-8") as fh:
            ledger = json.load(fh)
    except (OSError, ValueError):
        ledger = {}

    queries = all_queries()
    updated = skipped = 0
    for name, row in rows.items():
        if name not in queries or not _is_green(row):
            continue
        if use_current:
            fp = staleness.fingerprint(queries[name].build)
        else:
            fp = _fingerprint_at_commit(queries[name].build, commit)
        if fp is None:
            skipped += 1
            continue
        ledger[name] = {"round": round_name, "fingerprint": fp}
        updated += 1

    with open(staleness.LEDGER_PATH, "w", encoding="utf-8") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{round_name}: {updated} entries updated, {skipped} unattestable")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
