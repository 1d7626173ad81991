"""Repo benchmark for review_recommender_spark: one workload, one run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout. Workloads (see workloads.py):

* ``serve`` -- warm served BM25 top-k (``bm25_topk_served``), a quarter
  of the requests with ``min_match="all"``, a page-2 ``after=`` cursor or
  a seeded ``filter_docs`` subset.
* ``cold`` -- on-disk pruned BM25 top-k (``bm25_topk_pruned``) over a
  bursty corpus with 78 doc-ranges, never warmed.

The run prepares its corpus once per checkout (in ``.perfbench_work/``,
by ``prepare.py`` in a process of its own), then starts the timed
process (``worker.py``) fresh on ``local[nproc]`` with the driver heap
pinned, samples the summed memory of that process tree while it runs, waits
for every process of the tree to end and prints, as its last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones (``p50_ms``, ``qps``,
``setup_s``, ``peak_mem_mb``, ``index_mb``); with ``--trace 1`` the
per-layer ones, and the spans go to ``.perfbench_work/traces/``. A line
before it records the host, ``nproc``, the heap and the sample counts.

Exits non-zero without a result when the engine package is missing, a
corpus cannot be prepared, or the timed process fails.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "2g"
PREPARE_TIMEOUT_S = 600
RUN_TIMEOUT_S = 150
MEM_PERIOD_S = 0.2

sys.path.insert(0, HERE)
from procs import session_procs  # noqa: E402
from workloads import WORKLOADS, corpus_key  # noqa: E402


def session_mem_mb(sid: int) -> dict:
    """Summed memory of a session's processes. Python processes count
    their proportional set size: a page shared by n processes (the
    workers fork from one daemon) counts 1/n in each, so shared pages
    are not counted twice. The JVM shares no pages with them and counts
    its RSS, which is cheap to read; its PSS would need a walk of its
    whole page table on every sample."""
    page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
    out = {"total": 0.0, "jvm": 0.0, "py": 0.0, "n": 0}
    for pid, comm in session_procs(sid):
        kind = "jvm" if comm == "java" else "py"
        try:
            if kind == "jvm":
                with open(f"/proc/{pid}/statm") as f:
                    mb = int(f.read().split()[1]) * page_mb
            else:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    mb = next(int(line.split()[1]) for line in f
                              if line.startswith("Pss:")) / 1024
        except (OSError, StopIteration):
            continue
        out["total"] += mb
        out[kind] += mb
        out["n"] += 1
    return out


def reap(proc: subprocess.Popen, grace_s: float = 15.0) -> None:
    """Wait until every process of ``proc``'s session has ended, killing
    what is left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        left = [pid for pid, _ in session_procs(proc.pid)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run_child(cmd: list[str], env: dict, log: str, timeout: float,
              sample=None) -> int:
    """Run ``cmd`` in a session of its own; returns its exit code. With
    ``sample``, calls it with the session id every MEM_PERIOD_S."""
    with open(log, "ab") as out:
        proc = subprocess.Popen(cmd, env=env, cwd=env["TMPDIR"],
                                stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
    stop = threading.Event()

    def loop():
        while not stop.wait(MEM_PERIOD_S):
            sample(proc.pid)
    sampler = threading.Thread(target=loop, daemon=True) if sample else None
    if sampler:
        sampler.start()
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        code = proc.wait()
    finally:
        stop.set()
        if sampler:
            sampler.join()
        reap(proc)
    return code


def fail(msg: str, log: str | None = None) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return 1


def corpus_format_version() -> str:
    """``CORPUS_FORMAT_VERSION`` of the checkout's corpus generator, read
    from its source so that this process does not import Spark."""
    with open(os.path.join(ROOT, "review_recommender_spark", "corpus",
                           "pages.py")) as f:
        m = re.search(r"^CORPUS_FORMAT_VERSION = (\d+)$", f.read(), re.M)
    return m.group(1) if m else "unknown"


def prepare_corpus(name: str, env: dict, log: str) -> str | None:
    path = os.path.join(WORK, "corpus",
                        corpus_key(name, corpus_format_version()))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(path):
            code = run_child([sys.executable, os.path.join(HERE, "prepare.py"),
                              "--corpus", name, "--out", path],
                             env, log, PREPARE_TIMEOUT_S)
            if code != 0 or not os.path.isdir(path):
                return None
    return path


def host_info(nproc: int) -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"host": platform.node(), "cpu": model, "nproc": nproc,
            "mem_gb": round(mem_kb / 2**20, 1), "heap": HEAP,
            "python": platform.python_version()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "review_recommender_spark",
                                       "__init__.py")):
        return fail(f"engine package not found under {ROOT}")

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    trace_dir = os.path.join(WORK, "traces")
    for d in ("tmp", "spark-local", "index"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(trace_dir, exist_ok=True)
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
               PYSPARK_PYTHON=sys.executable,
               SPARK_GRAFT_CPUS=str(nproc),
               SPARK_DRIVER_MEM=HEAP,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               TMPDIR=os.path.join(run_dir, "tmp"),
               # every JVM (the launcher's too): temp files in the run
               # directory, no hsperfdata file under /tmp
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir="
                                 f"{os.path.join(run_dir, 'tmp')}")
    log = os.path.join(run_dir, "log.txt")
    try:
        corpus = prepare_corpus(WORKLOADS[args.workload]["corpus"], env, log)
        if corpus is None:
            return fail("corpus preparation failed", log)
        samples: list[tuple[float, dict]] = []

        def sample(sid):
            samples.append((time.monotonic(), session_mem_mb(sid)))
        out = os.path.join(run_dir, "result.json")
        code = run_child(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--corpus", corpus, "--work", os.path.join(run_dir, "index"),
             "--trace-dir", trace_dir, "--out", out],
            env, log, RUN_TIMEOUT_S, sample=sample)
        if code != 0 or not os.path.exists(out):
            return fail(f"timed process exited with code {code}", log)
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # memory while serving: from the end of set-up, whose transient
    # build buffers are not part of the serving footprint
    since = result.pop("serving_since")
    peak = max((m for t, m in samples if t >= since),
               key=lambda m: m["total"], default={"total": 0.0})
    if not args.trace:
        result["metrics"]["peak_mem_mb"] = {"value": peak["total"],
                                            "unit": "MB"}
    info = dict(host_info(nproc), workload=args.workload, seed=args.seed,
                trace=args.trace, peak_mem=peak, **result.pop("info"))
    print(json.dumps({"perfbench": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
