"""End-to-end batch job: source table -> graph tables, resumable.

    read source (only pending buckets — partition-pruned)
      -> parse/validate/derive/assemble (one Arrow-batched fold, pyfold.py)
      -> upp + quarantine + triples, written per bucket with ledger commits
      -> optional connected-components canonicalization over the full edge set
      -> per-partition metrics manifest

Resume: ledger-done buckets are excluded from the *scan* (predicate on the
bucket expression pushes to the parquet reader / Iceberg manifest), so a
re-run after a kill only pays for unfinished partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cc import canonical_triples
from .io_tables import CheckpointLedger, with_bucket
from .metrics import gtg_check, partition_metrics, write_run_manifest
from .transform import split_unified, transform_unified
from .triples import emit_triples


def run_pipeline(
    spark: SparkSession,
    source: DataFrame,
    out_root: str,
    n_buckets: int = 16,
    run_cc: bool = True,
    cc_salt: int = 0,
) -> dict:
    os.makedirs(out_root, exist_ok=True)
    ledger = CheckpointLedger(out_root, n_buckets=n_buckets)
    done = ledger.done_buckets()

    src = with_bucket(source, n_buckets)
    if done:
        # Resume: prune completed partitions before any work happens.
        src = src.filter(~F.col("bucket").isin(*sorted(done)))

    # ONE op-typed frame, persisted before the three-sink fan-out: the
    # parse UDF and the source scan run exactly once per run — an
    # unpersisted fan-out would re-run both once per sink (3x at 100 TB).
    unified = transform_unified(src, carry=("bucket",)).persist()
    good, quarantine = split_unified(unified, carry=("bucket",))
    triples = emit_triples(good, carry=("bucket",))

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    good.write.mode("overwrite").partitionBy("bucket").parquet(os.path.join(out_root, "upp"))
    quarantine.write.mode("overwrite").partitionBy("bucket").parquet(os.path.join(out_root, "quarantine"))
    triples.write.mode("overwrite").partitionBy("bucket").parquet(os.path.join(out_root, "triples"))

    metrics_df = partition_metrics(good, quarantine, triples, unified=unified)
    metrics_rows = metrics_df.persist()

    # Ledger commit per bucket, after data is durable.
    written = {int(r["bucket"]) for r in metrics_rows.select("bucket").distinct().collect()}
    bucket_rows = {
        int(r["bucket"]): int(r["value"])
        for r in metrics_rows.filter(F.col("metric").startswith("triples_")).groupBy("bucket").agg(F.sum("value").alias("value")).collect()
    }
    for b in sorted(written - done):
        ledger.record(b, rows=bucket_rows.get(b, 0))
    # Buckets with zero surviving docs still need a ledger mark.
    for b in sorted(set(range(n_buckets)) - done - written):
        ledger.record(b, rows=0)

    extra = {}
    if run_cc:
        edges = (
            spark.read.parquet(os.path.join(out_root, "triples"))
            .filter((F.col("pred") == "concordsWith") & (F.col("op") == "upsert"))
        )
        canon = canonical_triples(edges, salt=cc_salt)
        canon.write.mode("overwrite").parquet(os.path.join(out_root, "canonical_triples"))
        extra["canonical_edges"] = spark.read.parquet(os.path.join(out_root, "canonical_triples")).count()

    manifest = write_run_manifest(out_root, metrics_rows, extra=extra)
    metrics_rows.unpersist()
    unified.unpersist()

    # GTG: the batch analog of the reference healthcheck/__gtg surface
    # (smartlogic/healthcheck.go:1-147) — instead of probing live
    # dependencies, reconcile the run: ledger complete, docs in = valid +
    # quarantined, and the durable outputs re-read to the counts the job
    # claims. Written into the manifest so an orchestrator can gate on it.
    manifest = gtg_check(spark, out_root, n_buckets=n_buckets, write=True)
    return manifest
