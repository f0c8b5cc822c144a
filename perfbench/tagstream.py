"""``tag_paced``: gzip'd ANS events appended on a fixed schedule (open
loop) to a 4-shard ``kinesis_emu`` stream, consumed by
``story_pipeline`` and ``foreachBatch(autotag_batch_sink)`` against a
seeded keyed parquet store, exactly as a deployment wires them.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

import numpy as np

from perfbench import gen
from perfbench.trace import jobs_and_tasks, percentile

def _store_schema():
    import pyarrow as pa

    tag = pa.struct([("slug", pa.string()), ("text", pa.string())])
    return pa.schema(
        [
            ("_id", pa.string()),
            ("revision", pa.string()),
            ("tags", pa.list_(tag)),
            ("seq", pa.int64()),
        ]
    )


def write_store(rows, path: str) -> None:
    """Seed the keyed document store (the program's upsert target)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _store_schema()
    cols = list(zip(*rows))
    table = pa.table([pa.array(list(c), t.type) for c, t in zip(cols, schema)], schema=schema)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def reset_dir(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def check_tag_state(
    spark, store_path: str, inputs: gen.StreamInputs, lo: int, hi: int
) -> tuple[int, int]:
    """(attempted, failed) over events ``lo..hi-1``, the ones the store
    received: every publish insert-story event with a known id leaves
    its document with exactly one autotag; every unknown id is in
    ``.deadletter``; every other document keeps its seeded tags."""
    head = gen.StreamInputs(
        inputs.store_rows, inputs.payloads[lo:hi], inputs.shards[lo:hi],
        inputs.kinds[lo:hi], inputs.ids[lo:hi], inputs.measured,
    )
    want_tagged, want_dead = gen.expected_tag_state(head)
    got = {
        r["_id"]: [(t["slug"], t["text"]) for t in (r["tags"] or [])]
        for r in spark.read.parquet(store_path).collect()
    }
    dl_path = store_path + ".deadletter"
    got_dead = (
        {r["_id"] for r in spark.read.parquet(dl_path).select("_id").collect()}
        if os.path.isdir(dl_path)
        else set()
    )
    seeded = {
        i: [(t["slug"], t["text"]) for t in tags] for i, _, tags, _ in inputs.store_rows
    }
    autotag = (gen.AUTOTAG["slug"], gen.AUTOTAG["text"])
    bad_docs = set()
    for i, tags in seeded.items():
        now = got.get(i)
        if i in want_tagged:
            if now is None or now.count(autotag) != 1:
                bad_docs.add(i)
        elif now != tags:
            bad_docs.add(i)
    failed = 0
    for kind, i in zip(head.kinds, head.ids):
        if kind == gen.UNKNOWN:
            failed += i not in got_dead
        elif i is not None:
            failed += i in bad_docs
    failed += len(got_dead - want_dead)  # dead-lettered something it should not
    failed += len(set(got) - set(seeded))  # created a document
    return len(head.kinds), failed


def _register(spark) -> None:
    from arc_kinesis_tagging_spark.streaming.kinesis_source import KinesisEmuDataSource

    spark.dataSource.register(KinesisEmuDataSource)


def _records(spark, stream_dir: str):
    return spark.readStream.format("kinesis_emu").option("streamDir", stream_dir).load()


def _store_files(path: str) -> dict:
    """{parquet file: (inode, mtime, size)} of a store directory."""
    out = {}
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            st = os.stat(os.path.join(path, name))
            out[name] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def rows_written(path: str, before: dict) -> int:
    """Rows in the store files that are new or changed since ``before``
    (a ``_store_files`` snapshot): what the sink wrote, whether it
    rewrote the table or only the files a batch touched."""
    import pyarrow.parquet as pq

    after = _store_files(path)
    return sum(
        pq.read_metadata(os.path.join(path, name)).num_rows
        for name, stat in after.items()
        if before.get(name) != stat
    )


class TracedBatch:
    """foreachBatch body over the raw records for the traced run.

    Batches that start before ``t_measured`` (warm-up, pre-roll) run the
    production composition unrecorded. From ``t_measured`` to
    ``t_layered`` they still run the production composition, timed as a
    whole under a job group: the sink's wall time, its Spark jobs and
    the store rows it wrote. From ``t_layered`` on they run the layered
    composition, which times each layer (source scan, decode/route,
    filter/project) by materialising its output and counts what each
    layer did. Comparing the two halves gives the tracing overhead."""

    def __init__(self, spark, store_path: str, tracer) -> None:
        from arc_kinesis_tagging_spark.streaming.sinks import autotag_batch_sink

        self.spark = spark
        self.store_path = store_path
        self.tracer = tracer
        self.sink = autotag_batch_sink(spark, store_path)
        self.t_measured = self.t_layered = float("inf")
        self.returned: dict[int, float] = {}
        self.batch_s: dict[int, tuple[str, float]] = {}  # (phase, seconds)
        self.rewritten: dict[int, int] = {}  # production batch -> store rows written

    def __call__(self, records, batch_id: int) -> None:
        from arc_kinesis_tagging_spark.streaming.pipeline import story_pipeline

        t0 = time.time()
        if t0 < self.t_measured:
            phase = "unmeasured"
            self.sink(story_pipeline(records), batch_id)
        elif t0 < self.t_layered:
            phase = "production"
            before = _store_files(self.store_path)
            sc = self.spark.sparkContext
            group = f"perfbench-sink-{batch_id}"
            sc.setJobGroup(group, "autotag sink")
            try:
                with self.tracer.span("sinks.batch", f"batch-{batch_id}"):
                    self.sink(story_pipeline(records), batch_id)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            phase = "layered"
            self._layered(records, batch_id)
        end = time.time()
        self.returned[batch_id] = end
        self.batch_s[batch_id] = (phase, end - t0)
        if phase == "production":  # bookkeeping after the batch's return
            self.tracer.value("sinks.spark_jobs_per_batch", jobs_and_tasks(sc, group)[0])
            self.rewritten[batch_id] = rows_written(self.store_path, before)

    def _layered(self, records, batch_id: int) -> None:
        from arc_kinesis_tagging_spark.streaming.pipeline import (
            decode_and_route,
            filter_publish_events,
            project_story_fields,
        )

        tr = self.tracer
        with tr.span("batch", f"batch-{batch_id}"):
            with tr.span("kinesis_source.scan"):
                recs = records.localCheckpoint(eager=True)
            tr.value("pipeline.records_in", recs.count())
            with tr.span("pipeline.decode_route"):
                dec = decode_and_route(recs).localCheckpoint(eager=True)
            routes = {r["route"]: r["count"] for r in dec.groupBy("route").count().collect()}
            for route in ("ok", "url_pointer", "dead_letter"):
                tr.value(f"pipeline.route_{route}", routes.get(route, 0))
            with tr.span("pipeline.filter_project"):
                proj = project_story_fields(filter_publish_events(dec)).localCheckpoint(
                    eager=True
                )
            tr.value("pipeline.publish_kept", proj.count())
            ids = proj.select("_id").distinct()
            store_ids = self.spark.read.parquet(self.store_path).select("_id")
            n_ids, tagged = ids.count(), ids.join(store_ids, "_id").count()
            tr.value("sinks.tagged", tagged)
            tr.value("sinks.dead_letters", n_ids - tagged)
            with tr.span("sinks.materialised_call"):
                self.sink(proj, batch_id)


def drain_pass(spark, stream_dir: str, seed_store: str, work_dir: str) -> tuple[float, str]:
    """Drain everything in ``stream_dir`` with ``availableNow`` through
    the production wiring into a fresh copy of the seed store; returns
    the wall time from query start to termination, and the store."""
    from arc_kinesis_tagging_spark.streaming.pipeline import story_pipeline
    from arc_kinesis_tagging_spark.streaming.sinks import autotag_batch_sink

    store = os.path.join(work_dir, "store")
    reset_dir(seed_store, store)
    t0 = time.time()
    q = (
        story_pipeline(_records(spark, stream_dir))
        .writeStream.foreachBatch(autotag_batch_sink(spark, store))
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(150)
    dt = time.time() - t0
    if q.isActive:
        q.stop()
        raise RuntimeError("drain did not finish in 150 s")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return dt, store


def _offsets(progress: dict, key: str) -> dict:
    """{shard: sequence number} of a batch's ``startOffset`` or
    ``endOffset`` (the next sequence number to read)."""
    off = progress["sources"][0].get(key) if progress.get("sources") else None
    return json.loads(off) if isinstance(off, str) else (off or {})


def _end_offsets(progress: dict) -> dict:
    return _offsets(progress, "endOffset")


def _records_in(progress: dict) -> int:
    """Source records a batch covers (each counted once)."""
    start = _offsets(progress, "startOffset")
    return sum(int(hi) - int(start.get(k, 0)) for k, hi in _end_offsets(progress).items())


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _microbatch_layers(progress: list[dict], batch_ids, tracer) -> None:
    live = [p for p in progress if p["batchId"] in batch_ids and p.get("numInputRows", 0) > 0]
    tracer.value("microbatch.batches", len(live))
    for p in live:
        d = p.get("durationMs") or {}
        tracer.value("microbatch.trigger_ms", d.get("triggerExecution", 0))
        tracer.value("microbatch.query_planning_ms", d.get("queryPlanning", 0))
        tracer.value("microbatch.wal_commit_ms", d.get("walCommit", 0))
        tracer.value("kinesis_source.latest_offset_ms", d.get("latestOffset", 0))


# -- tag_paced -------------------------------------------------------------


class PacedGenerator(threading.Thread):
    """Open-loop producer: appends chunk k at t0 + k * interval whatever
    the consumer does, and records how late each append finished."""

    def __init__(self, stream_dir, chunks, interval, t0) -> None:
        super().__init__(daemon=True)
        self.stream_dir = stream_dir
        self.chunks = chunks
        self.interval = interval
        self.t0 = t0
        self.written = 0
        self.late: list[float] = []
        self.log: list[tuple[float, int]] = []  # (append finished, records so far)
        self.error: Exception | None = None
        self._stop_evt = threading.Event()

    def run(self) -> None:
        from arc_kinesis_tagging_spark.streaming.kinesis_source import write_kinesis_fixture

        try:
            for k, chunk in enumerate(self.chunks):
                due = self.t0 + k * self.interval
                if self._stop_evt.wait(max(0.0, due - time.time())):
                    return
                self.written += write_kinesis_fixture(self.stream_dir, chunk)
                now = time.time()
                self.late.append(now - due)
                self.log.append((now, self.written))
        except Exception as exc:  # re-raised by the workload after join
            self.error = exc

    def stop(self) -> None:
        self._stop_evt.set()


def _seq_numbers(shards: np.ndarray, n_shards: int) -> np.ndarray:
    """Per-shard sequence number of each event in stream order."""
    seq = np.zeros(len(shards), dtype=np.int64)
    for s in range(n_shards):
        idx = np.nonzero(shards == s)[0]
        seq[idx] = np.arange(len(idx))
    return seq


def _consumed(query) -> int:
    """Records the query has committed, summed over shards."""
    prog = query.lastProgress
    prog = json.loads(prog.json) if hasattr(prog, "json") else prog
    return sum(int(v) for v in _end_offsets(prog).values()) if prog else 0


def _event_batches(progress, returned, due, shards, seqs, n_events):
    """For events ``0..n_events-1``: (the batch that holds each event,
    -1 if no returned batch does; its latency, the sink return of that
    batch minus the event's due time, NaN if unplaced)."""
    ends = [
        (p["batchId"], returned[p["batchId"]], _end_offsets(p))
        for p in sorted(progress, key=lambda p: p["batchId"])
        if p["batchId"] in returned and p.get("sources")
    ]
    batch = np.full(n_events, -1, dtype=np.int64)
    lat = np.full(n_events, np.nan)
    ids = np.asarray([b for b, _, _ in ends], dtype=np.int64)
    times = np.asarray([t for _, t, _ in ends])
    for s in np.unique(shards[:n_events]):
        name = f"shardId-{int(s):012d}"
        bounds = np.asarray([int(o.get(name, 0)) for _, _, o in ends], dtype=np.int64)
        idx = np.nonzero(shards[:n_events] == s)[0]
        pos = np.searchsorted(bounds, seqs[idx], side="right")
        ok = pos < len(bounds)
        batch[idx[ok]] = ids[pos[ok]]
        lat[idx[ok]] = times[pos[ok]] - due[idx[ok]]
    return batch, lat


def _trigger_start(progress: dict) -> float:
    """Epoch seconds at which the batch's trigger started."""
    from datetime import datetime

    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def measured_batches(progress, t_from: float, count: int) -> list[dict]:
    """The first ``count`` batches with input whose trigger started at
    or after ``t_from``. Each holds the events appended while the batch
    before it ran, so every run measures the same number of whole batch
    periods, whatever the phase of the schedule or the host's speed."""
    live = sorted(
        (p for p in progress if p.get("numInputRows", 0) > 0 and p.get("sources")),
        key=lambda p: p["batchId"],
    )
    return [p for p in live if _trigger_start(p) >= t_from][:count]


class TagPaced:
    name = "tag_paced"
    N_SHARDS = 4
    WARM_CHUNKS = 2

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        tiny = ctx.smoke
        self.rate = 40 if tiny else 200  # events/s offered, below drain capacity
        self.interval = 0.25  # s between appended chunks
        # Micro-batches start on a 3 s processing-time trigger: the
        # reference consumer polls every shard on a fixed 3 s cadence
        # (SURVEY.md, R5), which maps to trigger(processingTime="3
        # seconds"). Spark starts the next batch at once when a batch
        # overruns the interval, which the sink's per-batch cost makes
        # every batch do on 4 cores: the batches run back to back.
        self.trigger_s = 3
        self.spec = gen.StreamSpec(store_docs=500 if tiny else 5_000, events=0)
        self.late_bound_s = 0.5 * self.interval

    def prepare(self, work_dir: str) -> None:
        """Generate the warm-up events, the event schedule, the seed
        store and the backlog stream."""
        from arc_kinesis_tagging_spark.streaming.kinesis_source import write_kinesis_fixture

        self.per_chunk = max(1, int(round(self.rate * self.interval)))
        # one trigger interval of pre-roll traffic, then the measured
        # schedule: the first paced batch starts at an arbitrary point
        # of the trigger interval and runs up to a second slower
        self.n_pre = int(round(self.trigger_s / self.interval))
        # a traced run measures two halves of --seconds each: production
        # batches, then layered ones
        halves = 2 if self.ctx.tracer.enabled else 1
        self.n_chunks = self.n_pre + halves * int(round(self.ctx.seconds / self.interval))
        self.n_warm = self.WARM_CHUNKS * self.per_chunk
        self.spec.events = self.n_warm + self.n_chunks * self.per_chunk
        self.inputs = gen.stream_inputs(self.ctx.seed, self.spec, self.N_SHARDS)
        self.seed_store = os.path.join(work_dir, "store-seed")
        write_store(self.inputs.store_rows, self.seed_store)
        # the measured schedule's events as one backlog, for the drain
        self.drain_lo = self.n_warm + self.n_pre * self.per_chunk
        self.backlog = os.path.join(work_dir, "backlog")
        write_kinesis_fixture(self.backlog, self._chunk(self.drain_lo, self.spec.events))

    def _chunk(self, lo: int, hi: int) -> list:
        return [(self.inputs.payloads[j], int(self.inputs.shards[j])) for j in range(lo, hi)]

    def _wait_consumed(self, n: int, timeout_s: float) -> None:
        deadline = time.time() + timeout_s
        while _consumed(self.query) < n:
            if not self.query.isActive or time.time() > deadline:
                raise RuntimeError(f"stream stalled: {self.query.status} {self.query.exception()}")
            time.sleep(0.05)

    def warm_up(self) -> None:
        """Start the query on a stream that already holds the warm-up
        events (JIT, codegen, Python worker start). The emulator's first
        latestOffset offer is uncapped, so they enter as one batch; the
        schedule starts only after that batch, so no later backlog
        exists before the query runs."""
        from arc_kinesis_tagging_spark.streaming.kinesis_source import write_kinesis_fixture
        from arc_kinesis_tagging_spark.streaming.pipeline import story_pipeline

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        _register(spark)
        d = ctx.path("run")
        self.stream, self.store = os.path.join(d, "stream"), os.path.join(d, "store")
        reset_dir(self.seed_store, self.store)
        write_kinesis_fixture(self.stream, self._chunk(0, self.n_warm))
        self.traced = tr.enabled
        self.body = body = TracedBatch(spark, self.store, tr)
        if self.traced:
            writer = _records(spark, self.stream).writeStream.foreachBatch(body)
        else:
            # the production wiring, untouched
            sink = body.sink

            def timed_sink(df, batch_id):
                sink(df, batch_id)
                body.returned[batch_id] = time.time()

            writer = story_pipeline(_records(spark, self.stream)).writeStream.foreachBatch(
                timed_sink
            )
        self.query = (
            writer.option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(processingTime=f"{self.trigger_s} seconds")
            .start()
        )
        self._wait_consumed(self.n_warm, 120)

    def measure(self) -> dict:
        ctx, spark, tr, body, query = self.ctx, self.ctx.spark, self.ctx.tracer, self.body, self.query
        inp, w, per = self.inputs, self.n_warm, self.per_chunk
        chunks = [self._chunk(w + k * per, w + (k + 1) * per) for k in range(self.n_chunks)]
        g = None
        try:
            t0 = time.time() + 0.1
            t_measured = t0 + self.n_pre * self.interval
            # a traced run's phases go by each batch's start: batches that
            # start in the first --seconds of the measured schedule run
            # production, later ones layered
            body.t_measured = t_measured
            body.t_layered = t_measured + ctx.seconds
            g = PacedGenerator(self.stream, chunks, self.interval, t0)
            g.start()
            g.join(self.n_chunks * self.interval + 60)
            if g.error is not None:
                raise g.error
            total = w + g.written
            self._wait_consumed(total, 120)
            progress = _progress(query)
        finally:
            if g is not None:
                g.stop()
            query.stop()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        # the drain: every event of the run as one backlog, read with
        # availableNow through the production wiring into a fresh store
        drain_s, drain_store = drain_pass(spark, self.backlog, self.seed_store, ctx.path("drain"))

        per_shard_seq = _seq_numbers(inp.shards, self.N_SHARDS)
        due = t0 + ((np.arange(len(inp.payloads)) - w) // per) * self.interval
        batch, lat = _event_batches(progress, body.returned, due, inp.shards, per_shard_seq, total)
        attempted, failed = check_tag_state(spark, self.store, inp, 0, total)
        drain_attempted, drain_failed = check_tag_state(
            spark, drain_store, inp, self.drain_lo, len(inp.kinds)
        )
        failed += int((batch[w:] < 0).sum())  # events no returned batch reported
        # the latency covers whole batches: the first ones that start in
        # the measured schedule, as many as --seconds holds at ~5 s each
        measured = measured_batches(progress, t_measured, max(1, round(ctx.seconds / 5)))
        lat = lat[np.isin(batch, [p["batchId"] for p in measured])]
        late_max = max(g.late) if g.late else 0.0
        late_ok = late_max <= self.late_bound_s
        out = {
            "latency_s": float(np.median(lat)) if len(lat) else 0.0,
            "latency_tail_s": percentile(lat.tolist(), 99),
            "throughput_per_s": (len(inp.kinds) - self.drain_lo) / drain_s,
            "samples": {"latency": int(len(lat)), "throughput": len(inp.kinds) - self.drain_lo},
            "attempted": attempted + drain_attempted,
            "failed": failed + drain_failed + (0 if late_ok else attempted),
            "gen_late_ok": late_ok,
            "extra": {
                "gen_late_max_s": late_max,
                # what the paced stream's batches processed per second
                # of batch time (Spark's processedRowsPerSecond without
                # the sink's re-reads); near the offered rate while the
                # batches overrun the trigger
                "paced_rec_per_busy_s": sum(_records_in(p) for p in measured)
                / sum(p["durationMs"]["triggerExecution"] / 1000.0 for p in measured),
            },
            # (records, seconds, measured) of each paced batch
            "batches": [
                (_records_in(p), p["durationMs"]["triggerExecution"] / 1000.0, p in measured)
                for p in sorted(progress, key=lambda p: p["batchId"])
                if p["batchId"] > 0 and p.get("numInputRows", 0) > 0
            ],
            "measured_inputs": inp.measured,
        }
        if self.traced:
            tr.value("gen.late_max_s", late_max)
            production = {b for b, (phase, _) in body.batch_s.items() if phase == "production"}
            _microbatch_layers(progress, production, tr)
            self._trace_layers(progress, body, g, per_shard_seq)
            self._drain_local1()
        return out

    def _drain_local1(self) -> None:
        """A diagnostic, not an end-to-end metric: the backlog drained
        single-threaded, as a baseline for the drain at local[nproc]."""
        ctx = self.ctx
        ctx.restart_session("local[1]")
        _register(ctx.spark)
        dt, _ = drain_pass(ctx.spark, self.backlog, self.seed_store, ctx.path("drain-local1"))
        ctx.tracer.value("diag.drain_local1_rec_per_s", (self.spec.events - self.drain_lo) / dt)

    def _trace_layers(self, progress, body, g, seqs) -> None:
        tr, inp = self.ctx.tracer, self.inputs
        # lag: records appended but not yet consumed when a batch returned
        t_log = np.asarray([t for t, _ in g.log])
        n_log = self.n_warm + np.asarray([n for _, n in g.log])
        lag_max = 0
        for p in progress:
            b = p["batchId"]
            if b not in body.returned or not p.get("sources"):
                continue
            i = np.searchsorted(t_log, body.returned[b], side="right") - 1
            written = int(n_log[i]) if i >= 0 else self.n_warm
            lag_max = max(lag_max, written - sum(int(v) for v in _end_offsets(p).values()))
        tr.value("kinesis_source.lag_records_max", lag_max)
        # the production batches: how often the sink reads each source
        # record (it evaluates the lazy batch once per action), and the
        # store rows it wrote per document it tagged (ground truth: the
        # distinct known ids of the batch's publish events)
        for p in progress:
            b = p["batchId"]
            if b not in body.rewritten or not p.get("sources"):
                continue
            start = _offsets(p, "startOffset")
            end = _offsets(p, "endOffset")
            ids = set()
            for name, hi in end.items():
                lo = int(start.get(name, 0))
                shard = np.nonzero(inp.shards == int(name.rsplit("-", 1)[1]))[0]
                for j in shard[(seqs[shard] >= lo) & (seqs[shard] < int(hi))]:
                    if inp.kinds[j] == gen.PUBLISH:
                        ids.add(inp.ids[j])
            n_records = _records_in(p)
            if n_records:
                tr.value("sinks.source_reads_per_record", p["numInputRows"] / n_records)
            if ids:
                tr.value("sinks.store_rows_rewritten_per_tagged", body.rewritten[b] / len(ids))
        # overhead: batch time in the layered half vs the production half
        halves = {"production": [], "layered": []}
        for phase, dt in body.batch_s.values():
            halves.get(phase, []).append(dt)
        if all(halves.values()):
            tr.value(
                "trace.overhead_share",
                statistics.median(halves["layered"]) / statistics.median(halves["production"])
                - 1.0,
            )
