"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Generates the seed's MapReduce inputs (cached under ``.perfbench_work/``), starts
one fresh driver process (``perfbench/driver.py``) with the Spark
session sized from this host, and prints the run's result as the last
line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones.  A fuller report (per-pass and per-call timings, host
load stamps, oracle verdicts, errors; spans for a traced run) is written
under ``.perfbench_work/reports/``.  Exits non-zero, without a result
line, when the engine is missing or the run does not finish in time;
exits 1 with ``"correct": false`` when any call fails or any output
differs from its check.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170
#: driver heap as a share of physical memory, and its ceiling
HEAP_SHARE = 0.25
HEAP_CAP_MB = 4096


def program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("__spark_entry__.py", "bench_parity.py", "mini_hadoop_spark/__init__.py",
                  "mini_hadoop_spark/session.py")
    )


def physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def heap_mb() -> int:
    return max(1024, min(HEAP_CAP_MB, int(physical_mb() * HEAP_SHARE)))


def program_digest() -> str:
    """sha256 over the engine's sources, identifying the code measured
    (the checkout need not be a git repository)."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "mini_hadoop_spark"))):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def oracle_digests(workload: str, inputs: dict[str, str]) -> dict[str, str]:
    """DuckDB digests of the workload's registry queries over the corpus,
    computed before the driver starts (and cached in the work dir)."""
    import __spark_entry__

    from perfbench import check, gen
    from perfbench.workload import registry_names

    sqls = __spark_entry__.oracle_sql()
    cache = os.path.join(WORK, f"oracle-{os.path.basename(inputs['sf_dir'])}.json")
    return check.oracle_digests(inputs["sf_dir"], gen.TABLES,
                                {n: sqls[n] for n in registry_names(workload)}, cache)


def driver_env(tmp: str) -> dict[str, str]:
    env = dict(os.environ)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "PYSPARK_SUBMIT_ARGS"):
        env.pop(var, None)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_DRIVER_MEMORY"] = f"{heap_mb()}m"
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["TMPDIR"] = tmp
    env["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate the driver's process group (the driver and its JVM) and
    wait until every member has exited.  PySpark's worker daemon runs in
    a group of its own and exits when the JVM closes its pipe."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        until = time.monotonic() + 10
        while time.monotonic() < until:
            if proc.poll() is None:
                time.sleep(0.1)
                continue
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)
    proc.wait()


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    started = time.monotonic()
    # a SIGTERM or SIGINT to the launcher still stops the driver's group,
    # through the ``finally`` below
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _exit_on_signal)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("olap_mix", "llm_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not program_present():
        print(f"perfbench: the engine (mini_hadoop_spark, __spark_entry__.py) is not under {ROOT}",
              file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import gen

    inputs = gen.prepare(WORK, args.seed)
    t_gen = time.monotonic()
    oracle = oracle_digests(args.workload, inputs)
    t_oracle = time.monotonic()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    report_dir = os.path.join(WORK, "reports")
    os.makedirs(tmp)
    os.makedirs(report_dir, exist_ok=True)
    inputs_path = os.path.join(run_dir, "inputs.json")
    oracle_path = os.path.join(run_dir, "oracle.json")
    for path, obj in ((inputs_path, inputs), (oracle_path, oracle)):
        with open(path, "w") as f:
            json.dump(obj, f)
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(report_dir, f"{tag}.log")

    cmd = [
        sys.executable, "-m", "perfbench.driver",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inputs", inputs_path, "--oracle", oracle_path, "--work-dir", run_dir,
        "--report-dir", report_dir, "--result", result_path,
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=driver_env(tmp), stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            t_driver = time.monotonic()
            stop_group(proc)
    if rc != 0 or not os.path.exists(result_path):
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: driver {why}; log: {log_path}", file=sys.stderr)
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 3

    with open(result_path) as f:
        result = json.load(f)
    report = result.pop("report")
    report["program_sha256"] = program_digest()
    report["git_commit"] = git_commit()
    report["driver_heap_mb"] = heap_mb()
    report["pyspark"] = _pyspark_version()
    report["launcher_s"] = {"inputs": t_gen - started, "oracle": t_oracle - t_gen,
                            "driver": t_driver - t_oracle, "stop": time.monotonic() - t_driver}
    with open(os.path.join(report_dir, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for err in report["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _pyspark_version() -> str:
    from importlib.metadata import version

    return version("pyspark")


if __name__ == "__main__":
    sys.exit(main())
