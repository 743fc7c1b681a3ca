"""The pre-commit preflight gate must reject an unimportable snapshot.

Round 6 shipped a module-level f-string NameError that killed every
import; round 4 shipped a data-drift break.  Both would have been caught
by ``python -c "import __spark_entry__"`` run once before commit.  These
tests pin that tools/preflight.py (wired via .githooks/pre-commit)
actually fails on that class of break — a gate that passes everything
is worse than no gate.
"""
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PREFLIGHT = REPO / "tools" / "preflight.py"


def _run(repo_dir: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(PREFLIGHT)],
        env={"PREFLIGHT_REPO": repo_dir, "PATH": "/usr/bin:/bin", "HOME": "/root"},
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_preflight_rejects_unimportable_entry(tmp_path):
    # Reproduce the exact round-6 failure shape: f-string referencing a
    # name defined below it → NameError at import time.
    (tmp_path / "__spark_entry__.py").write_text(
        'BROKEN = f"{_DEFINED_BELOW}"\n_DEFINED_BELOW = "x"\n'
    )
    proc = _run(str(tmp_path))
    assert proc.returncode == 1
    assert "NameError" in proc.stderr


def test_preflight_rejects_missing_oracle_query_symmetry(tmp_path):
    (tmp_path / "__spark_entry__.py").write_text(
        "def queries():\n    return {'a': lambda s, d: None}\n"
        "def oracle_sql():\n    return {'a': 'SELECT 1', 'ghost': 'SELECT 2'}\n"
        "def entry(spark):\n    return None\n"
    )
    proc = _run(str(tmp_path))
    assert proc.returncode == 1
    assert "ghost" in proc.stderr


def test_preflight_rejects_broken_worker_daemon(tmp_path):
    """Every Python task forks from the worker daemon module: a tree
    whose daemon does not import is rejected even when the entry does."""
    (tmp_path / "__spark_entry__.py").write_text(
        "def queries():\n    return {'a': lambda s, d: None}\n"
        "def oracle_sql():\n    return {'a': 'SELECT 1'}\n"
        "def entry(spark):\n    return None\n"
    )
    pkg = tmp_path / "mini_hadoop_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "worker_daemon.py").write_text("def broken(:\n")
    proc = _run(str(tmp_path))
    assert proc.returncode == 1
    assert "worker_daemon failed" in proc.stderr
    assert "SyntaxError" in proc.stderr


def test_hook_script_invokes_preflight():
    hook = REPO / ".githooks" / "pre-commit"
    assert hook.exists(), "committed pre-commit hook missing"
    text = hook.read_text()
    assert "tools/preflight.py" in text
    # Executable bit must survive — a non-executable hook silently no-ops.
    assert hook.stat().st_mode & 0o111, "pre-commit hook is not executable"


def test_hook_checks_staged_index_not_working_tree(tmp_path):
    """A broken STAGED entry must be rejected even when the working tree
    holds the fix — the exact partial-staging hole ADVICE r7 flagged: the
    committed snapshot is what the driver runs, and it is the index, not
    the tree."""
    import os

    repo = tmp_path / "scratch"
    repo.mkdir()
    # the hook invokes bare `python`: guarantee it resolves to THIS
    # interpreter regardless of whether the host ships a python shim
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    (bin_dir / "python").symlink_to(sys.executable)
    env = {
        "PATH": f"{bin_dir}:/usr/bin:/bin",
        "HOME": "/root",
        "GIT_AUTHOR_NAME": "t",
        "GIT_AUTHOR_EMAIL": "t@t",
        "GIT_COMMITTER_NAME": "t",
        "GIT_COMMITTER_EMAIL": "t@t",
    }

    def git(*args):
        return subprocess.run(
            ["git", "-C", str(repo), *args], env=env, capture_output=True, text=True
        )

    git("init", "-q")
    # stage the round-6 failure shape...
    entry = repo / "__spark_entry__.py"
    entry.write_text('BROKEN = f"{_DEFINED_BELOW}"\n_DEFINED_BELOW = "x"\n')
    git("add", "__spark_entry__.py")
    # ...then "fix" it in the working tree only (unstaged)
    entry.write_text(
        "def queries():\n    return {'a': lambda s, d: None}\n"
        "def oracle_sql():\n    return {'a': 'SELECT 1'}\n"
        "def entry(spark):\n    return None\n"
    )
    hook = REPO / ".githooks" / "pre-commit"
    proc = subprocess.run(
        ["sh", str(hook)], cwd=str(repo), env=env, capture_output=True, text=True
    )
    assert proc.returncode == 1, (
        "hook passed a commit whose STAGED entry is unimportable "
        f"(working-tree fix must not mask it):\n{proc.stdout}{proc.stderr}"
    )
    assert "NameError" in proc.stderr


def test_every_package_module_imports_standalone():
    """Round-11 shape generalized: a half-finished rename left a deleted
    name inside a module-level f-string, so ONE module's import error
    took down all 189 queries.  Import every module in the package
    individually — any module-level NameError/SyntaxError fails here,
    not only the ones on __spark_entry__'s transitive path."""
    import importlib

    pkg_root = REPO / "mini_hadoop_spark"
    mods = sorted(
        ".".join(("mini_hadoop_spark", *p.relative_to(pkg_root).with_suffix("").parts))
        for p in pkg_root.rglob("*.py")
        if p.name != "__init__.py"
    )
    assert len(mods) > 20
    for mod in mods:
        importlib.import_module(mod)


def test_no_dangling_sampling_constant_names():
    """The r11 break specifically: QUERY_MODULUS was deleted but still
    referenced in 4 module-level f-strings.  Pin that retired sampling
    constants never reappear in package source (grep-level insurance —
    the import test above is the real gate, this names the incident)."""
    retired = ("QUERY_MODULUS",)
    hits = []
    for p in (REPO / "mini_hadoop_spark").rglob("*.py"):
        src = p.read_text()
        for name in retired:
            if name in src:
                hits.append(f"{p}:{name}")
    assert not hits, f"retired sampling constants referenced: {hits}"
