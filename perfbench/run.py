#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload message_plane|query_mix --seed N
                             --seconds S --trace 0|1

Run from the root of a checkout. The run gets a fresh scratch directory
(spools, topic root, Spark local dirs, temp files) under
``.perfbench_runs/`` in the checkout, removed at the end, also on failure.
The workload itself runs in a child process (``perfbench/worker.py``) in
its own process group; this parent samples the memory of that whole
group (Python driver, JVM, Python workers), stops every process of it
and prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
is a report with the resolved core count, the load average before and
after the run and the error rate. With ``--trace 1`` the metrics are the
per-layer ones (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("message_plane", "query_mix")
RUN_LIMIT_S = 170
HEAP = "1g"  # driver heap cap; the engine's own default is 24g


def cpu_times() -> list[int]:
    """Aggregate CPU tick counters from /proc/stat (steal is index 7)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def spark_cores() -> int:
    """Spark cores sit below the machine's core count (two on a 4-vCPU
    box), which keeps same-code runs comparable; see README.md."""
    n = os.cpu_count() or 1
    return 2 if n >= 4 else max(1, n - 1)


def group_members(pgid: int) -> dict[int, int]:
    """{pid: bytes} of the live processes in a process group. Memory is the
    proportional set size: a child the JVM forks (Hadoop shells out for
    file permissions) briefly maps the whole parent heap, and counting
    its RSS would count that heap twice."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            fields = stat[stat.rindex(")") + 2:].split()
            if int(fields[2]) != pgid or fields[0] == "Z":
                continue
            with open(f"/proc/{name}/smaps_rollup") as f:
                pss = next(line for line in f if line.startswith("Pss:"))
            out[int(name)] = int(pss.split()[1]) * 1024
        except (OSError, StopIteration, ValueError):
            continue
    return out


def timed_region(run_dir: str) -> bool:
    """True between the worker's timed.start and timed.end markers."""
    return os.path.exists(os.path.join(run_dir, "timed.start")) and not os.path.exists(
        os.path.join(run_dir, "timed.end")
    )


def stop_group(pgid: int) -> None:
    """SIGTERM the group, then SIGKILL what is left, and wait until no
    process of it remains."""
    for sig, grace in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while time.time() < deadline:
            if not group_members(pgid):
                return
            time.sleep(0.1)


def child_env(run_dir: str, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    for sub in ("spool", "local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # The heap is capped (SPARK_DRIVER_MEMORY below) but neither sized up
    # front nor pre-touched, so its resident part follows what the program
    # uses.
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
    confs = [
        f"spark.driver.extraJavaOptions={java_opts}",
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    submit = []
    for conf in confs:
        submit += ["--conf", conf]
    env.update({
        "SPARK_GRAFT_SPOOL_DIR": os.path.join(run_dir, "spool"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_DRIVER_MEMORY": HEAP,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH", "")) if p),
        "PYTHONHASHSEED": "0",
    })
    env.pop("SPARK_GRAFT_ON_CLUSTER", None)
    return env


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta)) if len(delta) > 7 else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    out_dir = os.path.join(ROOT, ".perfbench_out")
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    cpus = spark_cores()
    load_before = os.getloadavg()
    ticks_before = cpu_times()
    peak = [0]
    rc = 1
    try:
        env = child_env(run_dir, bool(args.trace))
        log_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
        t_spawn = time.time()
        with open(log_path, "w") as log:
            child = subprocess.Popen(
                [
                    sys.executable, "-m", "perfbench.worker",
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--run-dir", run_dir, "--cpus", str(cpus),
                    "--t-spawn", repr(t_spawn), "--result", result_path,
                ],
                cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
            done = threading.Event()

            def sample():
                # Peak memory of the process group over the timed region.
                while not done.is_set():
                    if timed_region(run_dir):
                        peak[0] = max(peak[0], sum(group_members(child.pid).values()))
                    done.wait(0.2)

            sampler = threading.Thread(target=sample, daemon=True)
            sampler.start()
            try:
                rc = child.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - t_spawn)))
            except subprocess.TimeoutExpired:
                print(f"run exceeded {RUN_LIMIT_S} s; stopped", file=sys.stderr)
                rc = 1
            finally:
                done.set()
                sampler.join()
                stop_group(child.pid)
                child.wait()
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            print(f"workload {args.workload} failed (exit {rc}); log: {log_path}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()}
    if not args.trace:
        metrics["peak_rss_mb"] = {"value": peak[0] / 2**20, "unit": "MB"}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "spark_cores": res["cores"],
        "nproc": os.cpu_count(),
        "load_before": load_before,
        "load_after": os.getloadavg(),
        "cpu_steal_share": steal_share(ticks_before, cpu_times()),
        "error_rate": res["failed"] / res["attempted"],
        "setup_s": res["setup_s"],
        "peak_rss_mb": peak[0] / 2**20,
    }
    final = {
        "correct": bool(res["correct"]),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"report": report, "result": final}) + "\n")
    print(json.dumps({"report": report}))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
