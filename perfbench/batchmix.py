"""``batch_mix``: one closed-loop client issuing a seeded sequence of
batch jobs: the registry queries (TPC-H-style, event analytics,
similarity) over seeded catalog tables, and the corpus curation job
(perfbench/curate.py) over a seeded corpus with planted duplicates.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time

import numpy as np

from perfbench import curate, gen
from perfbench.trace import jobs_and_tasks, percentile

QUERIES = (
    "q_agg_group",
    "q_tpch_q3ish",
    "q_tpch_q5ish",
    "q_tpch_q6ish",
    "q_tpch_q21ish",
    "q_join_smj",
    "q_window_session",
    "q_events_funnel_k",
    "q_cohort_retention",
    "q_sketch_hll",
    "q_similarity_topk",
    "q_ann_persisted",
)
CURATE = "curate_corpus"
OPS = QUERIES + (CURATE,)
BLOCK_S = 20  # nominal: a block takes ~17 s on 4 cores


def result_hash(pdf) -> str:
    """Order-insensitive hash of a result frame (column names + rows),
    canonicalised as the repository's oracle harness does."""
    from tools.verify_oracle import canon_rows

    return hashlib.md5(repr(canon_rows(pdf)).encode()).hexdigest()


class BatchMix:
    name = "batch_mix"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf = 0.002 if ctx.smoke else 0.01
        self.corpus_spec = gen.CorpusSpec(docs=300 if ctx.smoke else 2_000)

    def prepare(self, work_dir: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.tables = os.path.join(work_dir, "tables")
        self.counts = gen.write_tables(self.ctx.seed, self.sf, self.tables)
        self.corpus = gen.corpus_inputs(self.ctx.seed, self.corpus_spec)
        self.corpus_path = os.path.join(work_dir, "corpus.parquet")
        keys, texts = zip(*self.corpus.rows)
        pq.write_table(pa.table({"doc_id": list(keys), "text": list(texts)}), self.corpus_path)
        # the curation warm-up compiles the same plans on a quarter of
        # the corpus
        self.warm_corpus_path = os.path.join(work_dir, "corpus-warm.parquet")
        n = len(keys) // 4
        pq.write_table(
            pa.table({"doc_id": list(keys[:n]), "text": list(texts[:n])}), self.warm_corpus_path
        )

    def warm_up(self) -> None:
        """Runs every job once, in order, from the one client (JIT,
        codegen, Python worker start, the persisted IVF index build) and
        keeps each query's result for ``check_warm_up``."""
        from arc_kinesis_tagging_spark.plans.registry import QUERIES as REG

        self.warm_results = {
            name: REG[name].builder(self.ctx.spark, self.tables).toPandas() for name in QUERIES
        }
        curate.curate(self.ctx.spark, self.warm_corpus_path, self.ctx.path("warm-curated"))

    def check_warm_up(self) -> None:
        """Checks each warm-up result against its DuckDB oracle on the
        same tables; the verified hash is what the timed loop compares
        against. Not part of set-up: this is the benchmark's checking."""
        import duckdb

        from arc_kinesis_tagging_spark.plans.registry import QUERIES as REG
        from arc_kinesis_tagging_spark.sources.tables import TABLES

        con = duckdb.connect()
        try:
            for name in TABLES:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.tables}/{name}.parquet')"
                )
            self.expected, self.oracle_mismatch = {}, set()
            for name, pdf in self.warm_results.items():
                h = result_hash(pdf)
                oracle = REG[name].oracle
                if oracle is not None and result_hash(con.execute(oracle).df()) != h:
                    self.oracle_mismatch.add(name)
                self.expected[name] = (h, len(pdf))
        finally:
            con.close()
        del self.warm_results

    def _sequence(self, blocks: int) -> list[str]:
        rng = np.random.default_rng(self.ctx.seed)
        return [OPS[i] for _ in range(blocks) for i in rng.permutation(len(OPS))]

    def _run_query(self, name: str) -> tuple[float, bool]:
        from arc_kinesis_tagging_spark.plans.registry import QUERIES as REG

        t0 = time.time()
        pdf = REG[name].builder(self.ctx.spark, self.tables).toPandas()
        dt = time.time() - t0
        h, n_rows = self.expected[name]
        if REG[name].oracle is not None:
            ok = name not in self.oracle_mismatch and result_hash(pdf) == h
        else:  # rows-only query (engine-private sketch): row count
            ok = len(pdf) == n_rows
        return dt, ok

    def _run_curate(self, k: int, traced: bool) -> tuple[float, bool]:
        out = self.ctx.path(f"curated{k}")
        t0 = time.time()
        if traced:
            curate.curate_traced(self.ctx.spark, self.corpus_path, out, self.ctx.tracer, f"curate-{k}")
        else:
            curate.curate(self.ctx.spark, self.corpus_path, out)
        dt = time.time() - t0
        _, failed, recall = curate.check_curated(self.ctx.spark, out, self.corpus)
        self.recalls.append(recall)
        self.docs_s.append(len(self.corpus.rows) / dt)
        return dt, failed == 0

    def _run_job(self, i: int, name: str, traced: bool) -> tuple[float, bool]:
        if name == CURATE:
            return self._run_curate(i, traced)
        if not traced:
            return self._run_query(name)
        sc, tr = self.ctx.spark.sparkContext, self.ctx.tracer
        group = f"perfbench-q{i}"
        sc.setJobGroup(group, name)
        try:
            dt, ok = self._run_query(name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tr.value(f"plans.{name}_s", dt)
        tr.value("plans.tasks_per_query", jobs_and_tasks(sc, group)[1])
        return dt, ok

    def measure(self) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        traced = tr.enabled
        lat, split, jobs_s, query_s = [], {True: [], False: []}, {}, []
        self.recalls, self.docs_s = [], []
        failed = 0
        # whole blocks only, so every run does the same work: one block
        # per started BLOCK_S of --seconds
        seq = self._sequence(math.ceil(ctx.seconds / BLOCK_S))
        for i, name in enumerate(seq):
            # a traced run times every job untraced and traced, in
            # alternating order, so warm-up drift favours neither side
            for on in (((False, True) if i % 2 == 0 else (True, False)) if traced else (False,)):
                dt, ok = self._run_job(i, name, on)
                lat.append(dt)
                split[on].append(dt)
                failed += not ok
                if not on:
                    jobs_s[name] = round(dt, 3)
                    if name != CURATE:
                        query_s.append(dt)
        if traced:
            tr.value("dedup.planted_recall", min(self.recalls))
            tr.value("trace.overhead_share", sum(split[True]) / sum(split[False]) - 1.0)
        return {
            # the jobs differ in size by 20x: a median would follow
            # whichever job sits in the middle, a geometric mean weighs
            # every job's relative change alike
            "latency_s": statistics.geometric_mean(lat),
            "latency_tail_s": max(lat),
            "throughput_per_s": len(lat) / sum(lat),
            "samples": {"latency": len(lat), "throughput": len(lat)},
            "attempted": len(lat),
            "failed": failed,
            "extra": {
                # the query-mix and curation figures on their own, printed
                # but not bounded (12 query latencies a block: too few for
                # a steady p90)
                "query_latency_p50_s": percentile(query_s, 50),
                "query_latency_p90_s": percentile(query_s, 90),
                "query_per_s": len(query_s) / sum(query_s),
                "curate_docs_per_s": statistics.median(self.docs_s),
            },
            "jobs_s": jobs_s,
            "measured_inputs": {
                "sf": self.sf,
                **{f"rows_{k}": v for k, v in self.counts.items()},
                **self.corpus.measured,
                "planted_recall": min(self.recalls),
            },
        }
