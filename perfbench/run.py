"""Benchmark entry point.

    python3 perfbench/run.py --workload market --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Generates the seeded inputs, starts the
Spark application (worker.py) in a fresh interpreter inside a temporary run
directory under ``.perfbench/``, and prints as the last line of standard output one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  The line before
it is the full result with provenance, which is also kept under
``.perfbench/results/``; traced runs keep their spans under
``.perfbench/spans/``.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "stock_market_big_data_project_spark"
WORKLOADS = ("market", "stream_ingest")
HEAP = "4g"  # session.py's 16g default would not fit beside other jobs on a 15 GB host
DEADLINE_S = 175  # a run must end within 180 s
SCALE = 0.01  # input size as a multiple of sf0.1: an sf0.001-equivalent input


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest() -> str:
    """sha256 over the package sources: the checkout need not be a git repo."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def cpu_jiffies() -> list[int]:
    """Aggregate /proc/stat cpu counters: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def reap_group(proc: subprocess.Popen) -> None:
    """Stop every process the worker left behind and wait until all ended."""
    pgid = proc.pid
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    deadline = time.time() + 20
    while _group_alive(pgid) and time.time() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)


def main() -> None:
    t_start = time.time()
    ap = argparse.ArgumentParser(description="spark-market-engine benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (f"{PACKAGE}/session.py", "tests/oracle_utils.py", "tools/gen_sf1.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repo")

    base = os.path.join(ROOT, ".perfbench")
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(base, "tmp", run_id)
    data_dir, work_dir, tmp_dir, local_dir = (
        os.path.join(run_dir, d) for d in ("data", "work", "tmp", "spark-local"))
    for d in (data_dir, work_dir, tmp_dir, local_dir,
              os.path.join(base, "results"), os.path.join(base, "spans")):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(base, "spans", f"{run_id}.json")
    log_path = os.path.join(base, "results", f"{run_id}.log")

    try:
        sys.path.insert(0, HERE)
        from gen import generate

        rows = generate(data_dir, a.seed, SCALE)

        cpus = len(os.sched_getaffinity(0))
        java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}"
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join([ROOT, HERE]),
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_DRIVER_MEMORY=HEAP,
            SPARK_LOCAL_DIRS=local_dir,
            TMPDIR=tmp_dir,
            JAVA_TOOL_OPTIONS=java_opts,
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        env.pop("SPARK_GRAFT_SF_DIR", None)
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", a.workload, "--data", data_dir,
               "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--run-id", run_id,
               "--result", result_path, "--spans", spans_path]
        with open(log_path, "w") as log:
            env["PERFBENCH_T_LAUNCH"] = repr(time.time())
            proc = subprocess.Popen(cmd, cwd=work_dir, env=env, stdout=log,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            jiffies0 = cpu_jiffies()
            try:
                proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                pass
            finally:
                timed_out = proc.poll() is None
                jiffies = [y - x for x, y in zip(jiffies0, cpu_jiffies())]
                reap_group(proc)
        if timed_out or proc.returncode != 0 or not os.path.exists(result_path):
            with open(log_path) as fh:
                tail = [ln for ln in fh.read().splitlines() if "[Stage" not in ln]
            print("\n".join(tail[-40:]), file=sys.stderr)
            fail("worker timed out" if timed_out else
                 f"worker exited with code {proc.returncode}; log: {log_path}")
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["metrics"]
    units = {k: ("s" if k.endswith("_s") else "MB" if k.endswith("_mb")
                 else "ratio" if k.endswith("_frac") else "count")
             for k in metrics}
    res["provenance"].update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "scale_vs_sf0.1": SCALE, "rows": rows,
        # host CPU time stolen by other guests and spent waiting on I/O
        # during the worker's life, as shares of all CPU time: noise evidence
        "host_steal_frac": jiffies[7] / max(1, sum(jiffies)),
        "host_iowait_frac": jiffies[4] / max(1, sum(jiffies)),
        "git_sha": git_sha(), "source_sha256": source_digest(),
        "utc": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    })
    detail = {**res, "run_s": time.time() - t_start, "spans": spans_path if a.trace else None}
    with open(os.path.join(base, "results", f"{run_id}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
