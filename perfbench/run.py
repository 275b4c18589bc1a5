"""Benchmark entry point.

    python3 perfbench/run.py --workload cold_extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Starts one run of the workload in a
child process (``bench_main.py``) on ``local[nproc]`` with BLAS pinned
to one thread, captures its log, and prints, as the last line of
standard output, ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is the run stamp. A run whose log shows an ERROR with a
stack trace counts as failed even when it exits 0. Exits non-zero, with
no result line, when the run itself fails. See README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("cold_extract", "resume_tail", "corpus_prep")
CHILD_TIMEOUT_S = 150  # leaves time to stop the JVM within the 180 s limit
_ERROR = re.compile(r"\bERROR\b")
_STACK = re.compile(r"^\s+at \S+\(|^Traceback \(most recent call last\)")


def loud_errors(log: str) -> list[str]:
    """ERROR lines followed within a few lines by a JVM or Python stack."""
    lines = log.splitlines()
    return [
        ln
        for i, ln in enumerate(lines)
        if _ERROR.search(ln) and any(_STACK.search(x) for x in lines[i + 1 : i + 8])
    ]


def git_commit() -> str | None:
    """HEAD of the checkout when it is a git work tree."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def metric_units(trace: int) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(f"{ROOT}/ocr_dataset_builder_spark/**/*.py", recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _group_alive(pgid: int) -> bool:
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command: state, ppid, pgrp, ...
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """Stop every process the run started (its JVM and Python workers
    share the child's process group) and wait until they have ended."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.1)
    if _group_alive(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def run_child(args, cores: int, work: str) -> tuple[int | None, str, dict | None]:
    os.makedirs(f"{work}/tmp")
    env = dict(
        os.environ,
        OPENBLAS_NUM_THREADS="1",
        OMP_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        TMPDIR=f"{work}/tmp",
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp",
        PYSPARK_PYTHON=sys.executable,
        # bind Spark to loopback even where no profile sets it
        SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP", "127.0.0.1"),
        SPARK_LOCAL_HOSTNAME=os.environ.get("SPARK_LOCAL_HOSTNAME", "localhost"),
    )
    result = f"{work}/result.json"
    cmd = [
        sys.executable,
        os.path.join(HERE, "bench_main.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--work={work}",
        f"--cores={cores}",
        f"--result={result}",
    ]
    log_path = f"{work}/run.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    with open(log_path, errors="replace") as f:
        log_text = f.read()
    res = None
    if rc == 0:
        with open(result) as f:
            res = json.load(f)
    return rc, log_text, res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ocr_dataset_builder_spark")):
        print("perfbench: the program (ocr_dataset_builder_spark/) is not in this checkout",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_root, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    try:
        rc, log_text, res = run_child(args, cores, work)
        with open(os.path.join(work_root, f"last-{args.workload}.log"), "w") as f:
            f.write(log_text)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        sys.stderr.write(log_text[-6000:])
        print(f"perfbench: run failed (exit {rc}, timeout {CHILD_TIMEOUT_S}s)", file=sys.stderr)
        return 1

    loud = loud_errors(log_text)
    for line in loud[:5]:
        print(f"perfbench: logged error: {line}", file=sys.stderr)
    if res["check_error"]:
        print(f"perfbench: output check failed: {res['check_error']}", file=sys.stderr)
    guard = res.get("guard_error")
    if guard:
        print(f"perfbench: same-work guard: {guard}", file=sys.stderr)
    attempted = res["attempted"]
    failed = attempted if (loud or res["check_error"] or guard) else 0

    units = metric_units(args.trace)
    if args.trace:
        values, counts = res["metrics"], res["counts"]
        if res["missing_entry_points"]:
            print(f"perfbench: untagged layers, entry points or actions missing: "
                  f"{res['missing_entry_points']}", file=sys.stderr)
        # the layers must account for the traced task time; when they do
        # not, the per-layer figures are not trusted and the run fails
        if values["trace.accounted_share"] < 1 - res["account_tolerance"]:
            print("perfbench: layer task times cover only "
                  f"{values['trace.accounted_share']:.3f} of the traced task time",
                  file=sys.stderr)
            failed = attempted
    else:
        values = dict(res["metrics"], ok_share=1 - failed / attempted)
        counts = dict(res["counts"], ok_share=attempted)
    if set(values) != set(units):
        raise RuntimeError(f"metric set mismatch: {sorted(set(values) ^ set(units))}")

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cores,
        "master": res["master"],
        "loadavg_before": res["load_before"],
        "loadavg_after": res["load_after"],
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "input_digest": res["digest"],
        "calib_s": res["calib_s"],
        "sample_counts": counts,
        "samples_s": res.get("samples") or {"untraced": res["untraced"], "traced": res["traced"]},
        "jobs_per_sample": res.get("jobs_per_sample"),
        "steal_share": res.get("steal_share"),
        "warmup_calls_s": res["warmup_calls_s"],
        "layer_wall_s": res.get("layer_wall_s"),
        "layer_task_s": res.get("layer_task_s"),
        "input_s": res["input_s"],
        "prepare_s": res["prepare_s"],
        "check_s": res["check_s"],
        "logged_errors": len(loud),
    }
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
