"""One benchmark run in its own process: start the session, set the
workload up, warm it up, measure it, check it, and write the result.

Started by ``run.py`` with the pinned environment; run it through
``run.py``, not directly.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from perfbench.trace import Tracer

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
# A per-layer metric's source in the tracer is a recorded value (median
# of its samples) or a span (median duration) of the same name; these
# are the metrics whose source is named without the ``_s``/``_p50``.
SPAN_OF = {
    "kinesis_source.scan_s": "kinesis_source.scan",
    "microbatch.trigger_ms_p50": "microbatch.trigger_ms",
    "microbatch.query_planning_ms_p50": "microbatch.query_planning_ms",
    "microbatch.wal_commit_ms_p50": "microbatch.wal_commit_ms",
    "pipeline.decode_route_s": "pipeline.decode_route",
    "pipeline.filter_project_s": "pipeline.filter_project",
    "sinks.batch_s_p50": "sinks.batch",
    "text.quality_gate_s": "text.quality_gate",
    "dedup.exact_s": "dedup.exact",
    "dedup.minhash_s": "dedup.minhash",
    "clusters.cc_s": "clusters.cc",
    "readers.write_s": "readers.write",
}
# measured by run.py, outside this process
FROM_RUNNER = {"mem.peak_rss_mb"}


class Ctx:
    """What a workload needs: the session, its seed and run length, the
    tracer, and a private scratch directory."""

    def __init__(self, args) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.run_dir = args.run_dir
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self._n = 0

    def path(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.run_dir, "work", f"{self._n:03d}-{tag}")

    def start_session(self) -> float:
        from arc_kinesis_tagging_spark.session import get_session

        t0 = time.time()
        self.spark = get_session(
            "perfbench",
            **{
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            },
        )
        self.spark.range(1).count()  # the session is usable, not just built
        return time.time() - t0

    def restart_session(self, master: str) -> None:
        self.spark.stop()
        os.environ["SPARK_MASTER"] = master
        self.start_session()


def _workload(name: str, ctx: Ctx):
    if name == "tag_paced":
        from perfbench.tagstream import TagPaced as W
    elif name == "batch_mix":
        from perfbench.batchmix import BatchMix as W
    else:
        raise SystemExit(f"unknown workload {name!r}")
    return W(ctx)


def layer_metrics(tr: Tracer) -> dict:
    """Every per-layer metric; 0 where this workload does not exercise
    the layer."""
    with open(BENCHMARK) as fh:
        per_layer = json.load(fh)["per_layer"]
    out = {}
    for m in per_layer:
        if m["name"] in FROM_RUNNER:
            continue
        src = SPAN_OF.get(m["name"], m["name"])
        vals = tr.values.get(src) or tr.durations(src)
        out[m["name"]] = {
            "value": statistics.median(vals) if vals else 0.0,
            "unit": m["unit"],
            "n": len(vals),
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args(argv)

    ctx = Ctx(args)
    wl = _workload(args.workload, ctx)
    # inputs come from the benchmark's generators, not from the program,
    # so making them is not part of the set-up time
    t0 = time.time()
    inputs_dir = os.path.join(args.run_dir, "inputs")
    os.makedirs(inputs_dir)
    wl.prepare(inputs_dir)
    inputs_s = time.time() - t0
    # set-up: session start (JVM launch) and the untimed warm-up
    session_s = ctx.start_session()
    t0 = time.time()
    wl.warm_up()
    warm_s = time.time() - t0
    setup_s = session_s + warm_s
    # the benchmark's own checks of the warm-up's outputs, not timed
    if hasattr(wl, "check_warm_up"):
        wl.check_warm_up()

    res = wl.measure()
    tr = ctx.tracer
    if tr.enabled:
        tr.value("session.start_s", session_s)
        if args.trace_out:
            tr.write(args.trace_out)
    env = {
        "nproc": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": __import__("pyspark").__version__,
        "java": ctx.spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
    ctx.spark.stop()
    out = {
        "workload": args.workload,
        "setup_s": setup_s,
        "setup_parts_s": {"session": session_s, "warm_up": warm_s, "inputs (not counted)": inputs_s},
        "latency_s": res["latency_s"],
        "latency_tail_s": res["latency_tail_s"],
        "throughput_per_s": res["throughput_per_s"],
        "samples": res["samples"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "extra": res.get("extra", {}),
        "jobs_s": res.get("jobs_s", {}),
        "batches": res.get("batches", []),
        "gen_late_ok": res.get("gen_late_ok", True),
        "measured_inputs": res["measured_inputs"],
        "layers": layer_metrics(tr) if tr.enabled else {},
        "env": env,
    }
    with open(args.result, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
