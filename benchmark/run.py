#!/usr/bin/env python3
"""Benchmark of the identifier-extraction job, end to end and by layer.

    python3 benchmark/run.py --workload pages_hitheavy --seed 1 \\
        --seconds 45 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed`` (benchmark/gen.py), submits ``job.py`` through ``spark-submit``
the way a user does, checks the output against the per-row kernel oracle
and the generator's sidecar, prints a human-readable report, and ends with
one JSON line ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` measures the end-to-end metrics: every pass is a cold
``spark-submit job.py`` into a fresh output directory, and passes repeat
while the next one is expected to end within ``--seconds``.
``--trace 1`` is the separate traced run (benchmark/traced.py): it calls
the package's public functions in-process with a span around each call
and reports the per-layer metrics.

All state lives under ``.bench_state/<invocation>/`` in the checkout and
is removed when the run ends; span files and per-run result records go
to ``.bench_out/``.
"""
from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
JOB = os.path.join(ROOT, "job.py")

# local[N] with N <= the cores this process may use (4 on the reference
# host); shuffle partitions sized for it, as a deployment would
CORES = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 2 * CORES
DRIVER_MEMORY = "2g"
SUBMIT_TIMEOUT_S = 150

WORKLOADS = {
    # 14 of 16 pages.py categories carry an identifier: the regex cascade,
    # meta scan, sharded result write and cache merge do the work
    "pages_hitheavy": {"n_pages": 50_000, "shards": 16},
    # real-crawl regime: range reads, gunzip, WARC parsing, prefilter and
    # main-content extraction, then the near-dup probe and index merge;
    # small because the probe's signature pass costs tens of ms per doc
    # and one cold pass has to stay near a minute
    "warc_dedup": {"n_urls": 600, "hit_share": 0.02, "dup_share": 0.04,
                   "recrawl_share": 0.02, "shards": 8},
}


def die(msg: str) -> None:
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_submit_path() -> str:
    """``spark-submit`` on PATH, else the one bundled with pyspark."""
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")
    if os.access(cand, os.X_OK):
        return cand
    die("spark-submit not found on PATH or in the pyspark package")


class State:
    """The invocation's private directory tree and the environment every
    child process gets: temp files, Spark local dirs and the JVM's tmpdir
    all point inside it."""

    def __init__(self, workload: str, seed: int):
        key = f"{workload}-s{seed}-p{os.getpid()}-{time.time_ns()}"
        self.root = os.path.join(ROOT, ".bench_state", key)
        self.tmp = os.path.join(self.root, "tmp")
        self.inputs = os.path.join(self.root, "inputs")
        os.makedirs(self.tmp)
        os.makedirs(self.inputs)
        self.out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(self.out_dir, exist_ok=True)
        self.key = key
        self.java_opts = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("SPARK_GRAFT_", "PYSPARK_SUBMIT_ARGS",
                                    "PDF2DOI_SPARK_"))}
        env.update(TMPDIR=self.tmp, SPARK_LOCAL_DIRS=self.tmp,
                   PYSPARK_PYTHON=sys.executable,
                   PYSPARK_DRIVER_PYTHON=sys.executable)
        self.env = env

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def reset(self, *names: str) -> None:
        for n in names:
            shutil.rmtree(self.path(n), ignore_errors=True)

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


# Spark's INFO line for ship_package's addPyFile of the package zip; its
# timestamp is when the session is built and the package shipped
_SHIPPED = re.compile(rb"SparkContext: Added file \S*pdf2doi_spark_pyfiles_"
                      rb"\S* at \S+ with timestamp (\d+)")


def _shipped_epoch(log_path: str) -> float:
    """Time (epoch s) at which the job's ``build_session`` shipped the
    package, from the submit log. Both workloads reach it through the same
    code, before the job touches its input."""
    with open(log_path, "rb") as fh:
        m = _SHIPPED.search(fh.read())
    if m is None:
        raise RuntimeError(f"no package-shipped log line in {log_path}")
    return int(m.group(1)) / 1000.0


def submit(state: State, spark_submit: str, job_args: list, tag: str) -> dict:
    """One cold ``spark-submit job.py``: wall time, set-up time (launch
    until ``build_session`` has shipped the package), CPU time and peak
    RSS of the process tree, and exit code."""
    cmd = [spark_submit, "--master", f"local[{CORES}]",
           "--driver-memory", DRIVER_MEMORY,
           "--driver-java-options", state.java_opts,
           "--conf", f"spark.sql.shuffle.partitions={SHUFFLE_PARTITIONS}",
           JOB, *job_args]
    log_path = state.path(f"submit-{tag}.log")
    with open(log_path, "wb") as log:
        launch = time.time()
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=state.root, env=state.env,
                                start_new_session=True)
        timer = threading.Timer(SUBMIT_TIMEOUT_S, _kill_group, (proc.pid,))
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
        wall = time.perf_counter() - t0
        proc.returncode = os.waitstatus_to_exitcode(status)
    _kill_group(proc.pid)  # stray python workers, if any outlived the JVM
    rec = {"tag": tag, "rc": proc.returncode, "wall_s": wall,
           "cpu_s": usage.ru_utime + usage.ru_stime,
           "peak_rss_mb": usage.ru_maxrss / 1024.0, "log": log_path}
    if proc.returncode == 0:
        rec["setup_s"] = _shipped_epoch(log_path) - launch
    else:
        with open(log_path, "rb") as fh:
            tail = fh.read()[-3000:].decode("utf-8", "replace")
        print(f"benchmark: pass {tag} exited {proc.returncode}:\n{tail}",
              file=sys.stderr)
    return rec


def _kill_group(pid: int, wait_s: float = 10.0) -> None:
    """SIGKILL what is left of a submit's process group and wait until
    the group is empty."""
    deadline = time.monotonic() + wait_s
    try:
        os.killpg(pid, signal.SIGKILL)
        while time.monotonic() < deadline:
            time.sleep(0.05)
            os.killpg(pid, 0)
    except (ProcessLookupError, PermissionError):
        pass


# ------------------------------------------------------------ workloads

def generate(workload: str, seed: int, state: State) -> dict:
    import gen

    cfg = WORKLOADS[workload]
    if workload == "pages_hitheavy":
        truth = gen.gen_pages_hitheavy(seed, state.inputs, cfg["n_pages"])
    else:
        truth = gen.gen_warc_dedup(seed, state.inputs, cfg["n_urls"],
                                   cfg["hit_share"], cfg["dup_share"],
                                   cfg["recrawl_share"])
    gen.write_sidecar(state.path("truth.json"), truth)
    return truth


def job_args(workload: str, state: State) -> list:
    """The job's command line; --output, --cache and --dedup-index all
    live in the invocation's state tree."""
    cfg = WORKLOADS[workload]
    out = ["--output", state.path("out"), "--shards", str(cfg["shards"])]
    if workload == "pages_hitheavy":
        return ["--input", os.path.join(state.inputs, "pages"),
                "--cache", state.path("cache"), *out]
    return ["--cdx-index", os.path.join(state.inputs, "cdx"),
            "--warc-base", os.path.join(state.inputs, "warc") + "/",
            "--dedup-index", state.path("index"), *out]


def check(workload: str, state: State, truth: dict) -> dict:
    import checks

    cfg = WORKLOADS[workload]
    if workload == "pages_hitheavy":
        return checks.check_pages(state.path("out"), truth, cfg["shards"])
    return checks.check_warc_dedup(state.path("out"), truth, cfg["shards"])


def measure(workload: str, state: State, truth: dict, seconds: float,
            spark_submit: str) -> tuple:
    """Cold passes, each from the workload's starting point (no output,
    no cache, no index), while the next is expected to fit in
    ``seconds``; then the output checks on the last pass."""
    passes = []
    t0 = time.perf_counter()
    while True:
        state.reset("out", "cache", "index")
        rec = submit(state, spark_submit, job_args(workload, state),
                     f"pass{len(passes) + 1}")
        passes.append(rec)
        if rec["rc"] != 0:
            break
        mean_wall = statistics.fmean(p["wall_s"] for p in passes)
        if time.perf_counter() - t0 + mean_wall > seconds:
            break
    outcome = check(workload, state, truth) if passes[-1]["rc"] == 0 \
        else {"correct": False}
    return passes, outcome


def end_to_end(truth: dict, passes: list) -> dict:
    from spans import summarize

    ok = [p for p in passes if p["rc"] == 0]
    return {
        "setup_s": summarize([p["setup_s"] for p in ok]),
        "job_pages_per_s": summarize([truth["n_pages"] / p["wall_s"]
                                      for p in ok]),
        # CPU time of the whole process tree (JVM and Python workers): the
        # cost side, and far less sensitive than wall time to other load
        # on a shared host
        "job_cpu_ms_per_page": summarize([p["cpu_s"] * 1e3 / truth["n_pages"]
                                          for p in ok]),
        "peak_rss_mb": summarize([p["peak_rss_mb"] for p in ok]),
    }


E2E_UNITS = {"setup_s": "s", "job_pages_per_s": "1/s",
             "job_cpu_ms_per_page": "ms", "peak_rss_mb": "MB"}
# peak RSS swings with the JVM's heap growth (1.0-1.6 GB across seeds of
# one workload), wider than any bound the metric could have: it is
# reported, not gated
GATED = ("setup_s", "job_pages_per_s", "job_cpu_ms_per_page")


def print_report(workload: str, seed: int, load: tuple, truth: dict,
                 passes: list, e2e: dict, outcome: dict) -> None:
    print(f"workload {workload}  seed {seed}  local[{CORES}]  "
          f"loadavg-at-start {load[0]:.2f} {load[1]:.2f} {load[2]:.2f}")
    print(f"input: {truth['n_pages']} pages, "
          f"{truth['input_bytes'] / 1e6:.1f} MB")
    for p in passes:
        extra = (f"setup {p['setup_s']:.2f} s" if p["rc"] == 0
                 else "FAILED")
        print(f"  {p['tag']}: wall {p['wall_s']:.2f} s, {extra}, "
              f"peak rss {p['peak_rss_mb']:.0f} MB, rc {p['rc']}")
    for name, s in e2e.items():
        tail = "".join(f", {k} {v:.4g}" for k, v in s.items()
                       if k.startswith("p"))
        print(f"  {name:<16} median {s['median']:.4g} {E2E_UNITS[name]}"
              f"{tail} (n={s['n']})")
    failed = sum(p["rc"] != 0 for p in passes)
    print(f"  failed_ops {failed}/{len(passes)}")
    if "wrong_rows" in outcome:
        print(f"  wrong_rows {outcome['wrong_rows']} of "
              f"{outcome['sampled_rows']} sampled; rows {outcome['rows']}"
              f"/{outcome['expected_rows']}; urls {outcome['urls']}"
              f"/{outcome['expected_urls']}; result_files "
              f"{outcome['result_files']} (shards {outcome['shards']})")
    if "dedup_recall" in outcome:
        print(f"  dedup_recall {outcome['dedup_recall']:.4f} of "
              f"{outcome['planted_pairs']} planted pairs; false_flags "
              f"{outcome['false_flags']}; dup_rows_extra "
              f"{outcome['dup_rows_extra']} (verdict rows beyond one per "
              "flagged doc_id: the open job.py dups-join defect on "
              "recrawled urls)")
    print(f"  correct {outcome['correct']}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(JOB)
            and os.path.isfile(os.path.join(ROOT, "pdf2doi_spark",
                                            "__init__.py"))):
        die(f"job.py and pdf2doi_spark/ must sit next to {BENCH_DIR}")
    spark_submit = spark_submit_path()
    sys.path[:0] = [ROOT, BENCH_DIR]

    load = os.getloadavg()
    state = State(args.workload, args.seed)
    try:
        truth = generate(args.workload, args.seed, state)
        if args.trace:
            import traced

            result, record = traced.run(args.workload, state, truth,
                                        spark_submit)
        else:
            passes, outcome = measure(args.workload, state, truth,
                                      args.seconds, spark_submit)
            e2e = end_to_end(truth, passes) \
                if any(p["rc"] == 0 for p in passes) else {}
            print_report(args.workload, args.seed, load, truth, passes,
                         e2e, outcome)
            failed = sum(p["rc"] != 0 for p in passes)
            result = {
                "correct": bool(outcome["correct"]) and failed == 0,
                "attempted": len(passes), "failed": failed,
                "metrics": {k: {"value": e2e[k]["median"],
                                "unit": E2E_UNITS[k]}
                            for k in GATED if k in e2e},
            }
            record = {"passes": passes, "checks": outcome, "e2e": e2e}
        record.update(workload=args.workload, seed=args.seed, cores=CORES,
                      trace=args.trace, loadavg_at_start=load,
                      result=result)
        with open(os.path.join(state.out_dir, f"{state.key}.json"),
                  "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        state.cleanup()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
