#!/usr/bin/env python
"""Pre-commit preflight gate — rejects commits that would ship an
unimportable or structurally-broken snapshot.

Why this exists: rounds 4 and 6 both lost their entire driver artifact
(CORRECTNESS/BENCH empty or rc=1) to a final edit that was never executed
before commit.  Round 6's failure was a module-level f-string referencing
a constant defined below it — a one-line NameError that killed every
import of the package.  The round checklist said "re-run the checks";
prose doesn't gate.  This script does.

Checks (fast — no Spark session, no data):
  1. ``import __spark_entry__`` succeeds (this alone would have caught
     both historical failures).
  2. ``queries()`` / ``oracle_sql()`` structural invariants: oracle keys
     are a subset of query keys, no empty SQL strings, every callable is
     callable, DRIVER_WINDOW (asserted at registry import) holds.
  3. ``mini_hadoop_spark.worker_daemon`` imports: every Python task
     forks from it, so a broken one fails them all.
  4. ``pytest --collect-only -q`` exits 0 — no test file is dead at
     collection time.

Wire-up (committed): ``.githooks/pre-commit`` runs this against a
``git checkout-index`` copy of the STAGED INDEX (not the working tree —
a partially staged commit whose fix is unstaged must still be rejected);
enable with ``git config core.hooksPath .githooks`` (done once per
clone; bench.py and the round snapshot flow assume it is active).
"""
from __future__ import annotations

import os
import subprocess
import sys

# The hook points this at its index checkout; tests at deliberately
# broken trees.  The fallback is derived (tools/..), never hardcoded, so
# a direct invocation checks whatever clone it lives in.
REPO = os.environ.get(
    "PREFLIGHT_REPO", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def check_entry_import() -> list[str]:
    errors: list[str] = []
    try:
        sys.path.insert(0, REPO)
        import __spark_entry__  # noqa: F401

        q = __spark_entry__.queries()
        o = __spark_entry__.oracle_sql()
        if not q:
            errors.append("queries() is empty")
        extra = sorted(set(o) - set(q))
        if extra:
            errors.append(f"oracle_sql() has keys missing from queries(): {extra}")
        for name, fn in q.items():
            if not callable(fn):
                errors.append(f"queries()[{name!r}] is not callable")
        for name, sql in o.items():
            if not isinstance(sql, str) or not sql.strip():
                errors.append(f"oracle_sql()[{name!r}] is empty or not a string")
    except Exception as exc:  # noqa: BLE001 — the whole point is to catch import death
        errors.append(f"import __spark_entry__ failed: {type(exc).__name__}: {exc}")
    return errors


def check_worker_daemon() -> list[str]:
    """Imported in a subprocess whose path holds only the checked tree
    and the interpreter's own, the way a worker imports it: nothing this
    process already imported, and no other copy of the package, stands
    in for the checked module."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", "import mini_hadoop_spark.worker_daemon"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    if proc.returncode != 0:
        tail = "\n".join(proc.stderr.strip().splitlines()[-5:])
        return [f"import mini_hadoop_spark.worker_daemon failed:\n{tail}"]
    return []


def check_pytest_collection() -> list[str]:
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    if proc.returncode != 0:
        tail = "\n".join((proc.stdout + proc.stderr).strip().splitlines()[-15:])
        return [f"pytest collection failed (rc={proc.returncode}):\n{tail}"]
    return []


def main() -> int:
    errors = check_entry_import() + check_worker_daemon()
    # Collection is only meaningful if the package imports at all.
    if not errors:
        errors += check_pytest_collection()
    if errors:
        print("PREFLIGHT FAILED — commit rejected:", file=sys.stderr)
        for e in errors:
            print(f"  - {e}", file=sys.stderr)
        return 1
    print("preflight OK: entry and worker daemon import, registry invariants hold, tests collect")
    return 0


if __name__ == "__main__":
    sys.exit(main())
