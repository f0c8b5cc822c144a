"""Benchmark entry point.

    python3 perfbench/run.py --workload <tag_paced|batch_mix>
                             --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. Pins the environment (cores, driver
memory, worker import path, scratch, temp dir), runs the workload in a
child process, samples the peak resident memory of everything that
process starts, prints one line per metric and, as the last line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tag_paced", "batch_mix")
RUN_TIMEOUT_S = 150  # leaves room to stop the process group inside 180 s

# the names the end-to-end metrics carry in the report, per workload
REPORT_NAMES = {
    "tag_paced": ("tag_latency_p50_s", "tag_latency_p99_s", "drain_rec_per_s"),
    "batch_mix": ("job_latency_geomean_s", "job_latency_max_s", "jobs_per_s"),
}


def pinned_env(run_dir: str) -> dict:
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.pop("SPARK_GRAFT_SF_DIR", None)
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # a quarter of RAM, at most 8g: the session default (24g) is sized
    # for a much larger host
    driver_gb = max(1, min(8, mem_kb // (4 << 20)))
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
        # Python workers must import the package (kinesis_emu reader)
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        # per-run temp dir: q_ann_persisted memoises its index under it
        TMPDIR=os.path.join(run_dir, "tmp"),
        # the driver JVM's temp files (native libs, session artifacts) too
        SPARK_SUBMIT_OPTS=" ".join(
            p for p in (
                env.get("SPARK_SUBMIT_OPTS"),
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                "-XX:-UsePerfData",
            ) if p
        ),
    )
    return env


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # field 5 of stat: process group
            pids.append(int(d))
    return pids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop_group(pgid: int) -> None:
    """Terminate every process the worker started and wait for them."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline and _group_pids(pgid):
            time.sleep(0.1)


def run_worker(args, run_dir: str) -> tuple[dict | None, float, str]:
    """(result or None, peak RSS in MB of the worker's process group,
    log path)."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--result", result,
        "--trace-out", os.path.join(
            ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"
        ),
    ] + (["--smoke"] if args.smoke else [])
    peak_kb = 0
    with open(log, "w") as out:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=pinned_env(run_dir), stdout=out,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        deadline = time.time() + RUN_TIMEOUT_S
        try:
            while proc.poll() is None and time.time() < deadline:
                peak_kb = max(peak_kb, sum(_rss_kb(p) for p in _group_pids(proc.pid)))
                time.sleep(0.1)
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        return None, peak_kb / 1024.0, log
    with open(result) as fh:
        return json.load(fh), peak_kb / 1024.0, log


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "arc_kinesis_tagging_spark", "__init__.py")):
        print(f"perfbench: no arc_kinesis_tagging_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(
        ROOT, ".perfbench", "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res, peak_mb, log = run_worker(args, run_dir)
        if res is None:
            with open(log) as fh:
                tail = fh.read()[-4000:]
            print(f"perfbench: {args.workload} run failed; worker log tail:\n{tail}", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = int(res["attempted"]), int(res["failed"])
    correct = failed == 0 and res["gen_late_ok"]
    lat, tail, thr = REPORT_NAMES[args.workload]
    n_lat, n_thr = res["samples"]["latency"], res["samples"]["throughput"]
    e2e = {
        "latency_s": (res["latency_s"], "s", lat, n_lat),
        "throughput_per_s": (res["throughput_per_s"], "1/s", thr, n_thr),
        "setup_s": (res["setup_s"], "s", "setup_s", 1),
    }
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} env={json.dumps(res['env'])}")
    print(f"# inputs {json.dumps(res['measured_inputs'])}")
    print(f"# setup parts {json.dumps(res['setup_parts_s'])}")
    if res["jobs_s"]:
        print(f"# job latencies {json.dumps(res['jobs_s'])}")
    if res["batches"]:
        print(f"# paced batches (records, seconds, measured) {json.dumps(res['batches'])}")
    for key, (value, unit, label, n) in e2e.items():
        print(f"{args.workload} {label} = {value:.6g} {unit} (n={n}) [{key}]")
    print(f"{args.workload} {tail} = {res['latency_tail_s']:.6g} s (n={n_lat})")
    print(f"{args.workload} peak_rss_mb = {peak_mb:.6g} MB (n=1)")
    print(f"{args.workload} failed_share = {failed / max(1, attempted):.6g} share (n={attempted})")
    for label, value in res["extra"].items():
        print(f"{args.workload} {label} = {value:.6g}")
    if args.trace:
        layers = {**res["layers"], "mem.peak_rss_mb": {"value": peak_mb, "unit": "MB", "n": 1}}
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in layers.items()}
        for k, v in layers.items():
            print(f"{args.workload} layer {k} = {v['value']:.6g} {v['unit']} (n={v['n']})")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _, _) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
