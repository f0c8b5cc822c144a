"""The curation job of ``batch_mix``: the LLM-data curation operators
as one batch job:

quality gate (``text_metrics_struct``) -> ``dedup_exact`` ->
``minhash_near_duplicates`` -> ``dedup_keep_best`` (via
``connected_components``) -> parquet write, over a seeded corpus with
planted exact duplicates, near duplicates and low-quality documents.
"""

from __future__ import annotations

from perfbench import gen

MIN_TOKENS = 20
MIN_STOPWORD_RATIO = 0.05
JACCARD = 0.5
# Planted near duplicates edit ~5% of the words (Jaccard ~0.7 on
# 3-shingles); 16 hashes in 4 bands find ~3 in 4 of those pairs. Below
# this share the run is wrong, not slow.
RECALL_FLOOR = 0.6


def _gate(docs):
    from arc_kinesis_tagging_spark.functions.text import text_metrics_struct
    from pyspark.sql import functions as F

    m = docs.withColumn("m", text_metrics_struct(F.col("text")))
    return m.filter(
        (F.col("m.n_tokens") >= MIN_TOKENS) & (F.col("m.stopword_ratio") >= MIN_STOPWORD_RATIO)
    ).select("doc_id", "text", F.col("m.n_tokens").alias("score"))


def _exact(gated):
    from arc_kinesis_tagging_spark.operators.dedup import dedup_exact
    from pyspark.sql import functions as F

    keepers = dedup_exact(gated, "text", "doc_id").select(F.col("keeper").alias("doc_id"))
    return gated.join(keepers, "doc_id", "left_semi")


def curate(spark, in_path: str, out_path: str) -> None:
    """The untraced composition: one lazy plan, written once."""
    from arc_kinesis_tagging_spark.operators.clusters import dedup_keep_best
    from arc_kinesis_tagging_spark.operators.dedup import minhash_near_duplicates

    kept = _exact(_gate(spark.read.parquet(in_path)))
    pairs = minhash_near_duplicates(kept, "text", "doc_id", jaccard_threshold=JACCARD)
    dedup_keep_best(kept, pairs, "doc_id", "score").write.mode("overwrite").parquet(out_path)


def curate_traced(spark, in_path: str, out_path: str, tr, trace: str) -> None:
    """Same stages, each materialised inside its own span."""
    from arc_kinesis_tagging_spark.operators.clusters import dedup_keep_best
    from arc_kinesis_tagging_spark.operators.dedup import minhash_near_duplicates
    from pyspark.sql import functions as F

    with tr.span("curate.pass", trace):
        docs = spark.read.parquet(in_path)
        n_docs = docs.count()
        with tr.span("text.quality_gate"):
            gated = _gate(docs).localCheckpoint(eager=True)
        n_gated = gated.count()
        tr.value("text.kept_ratio", n_gated / max(1, n_docs))
        with tr.span("dedup.exact"):
            kept = _exact(gated).localCheckpoint(eager=True)
        with tr.span("dedup.minhash"):
            # threshold 0 keeps every LSH candidate with its Jaccard, so
            # the candidate and verified counts come from one run
            cands = minhash_near_duplicates(
                kept, "text", "doc_id", jaccard_threshold=0.0
            ).localCheckpoint(eager=True)
            pairs = cands.filter(F.col("jaccard") >= JACCARD)
        n_cand, n_ver = cands.count(), pairs.count()
        tr.value("dedup.minhash_candidates", n_cand)
        tr.value("dedup.minhash_verified", n_ver)
        tr.value("dedup.minhash_precision", n_ver / n_cand if n_cand else 1.0)
        with tr.span("clusters.cc"):
            best = dedup_keep_best(kept, pairs, "doc_id", "score").localCheckpoint(eager=True)
        tr.value("clusters.components", best.filter(F.col("cluster").isNotNull()).count())
        with tr.span("readers.write"):
            best.write.mode("overwrite").parquet(out_path)


def check_curated(spark, out_path: str, inputs: gen.CorpusInputs) -> tuple[int, int, float]:
    """(attempted, failed, planted recall). Fails: a planted exact
    duplicate or low-quality document that survives, a clean document
    that is dropped, and near-duplicate recall under the floor."""
    kept = {r["doc_id"] for r in spark.read.parquet(out_path).select("doc_id").collect()}
    planted = set(inputs.exact_of) | set(inputs.near_of) | inputs.low_quality
    clean = {k for k, _ in inputs.rows} - planted
    failed = len(kept & set(inputs.exact_of)) + len(kept & inputs.low_quality)
    failed += len(clean - kept)
    recall = 1.0 - len(kept & set(inputs.near_of)) / max(1, len(inputs.near_of))
    if recall < RECALL_FLOOR:
        failed += len(kept & set(inputs.near_of))
    return len(inputs.rows), failed, recall
