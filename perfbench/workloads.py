"""The benchmark's workloads: input, job, checks and trace wrappers.

A job runs one of the product's public entry points from an input that is
already on disk to a durable result: ``pipeline.run_pipeline`` for the KG
workloads, ``datapipe.curation.pretraining_pipeline`` written to parquet
for curation.
"""

from __future__ import annotations

import json
import os

from perfbench import checks, inputs
from perfbench.tracing import Tracer

MIX = {"src0": 64, "src1": 128}

# Per-table output digests every job must write, one entry per workload.
# Every seed permutes the rows of the same documents and the digests
# ignore row order, so they do not depend on the seed.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as _f:
    EXPECTED = json.load(_f)


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class KG:
    """``run_pipeline`` over a ``gen.generate_source_repos`` table."""

    def __init__(self, name: str, n_docs: int, run_cc: bool, warm_docs: int = 1_000):
        self.name, self.n_docs, self.run_cc, self.warm_docs = name, n_docs, run_cc, warm_docs
        self.tables = ("upp", "quarantine", "triples") + (("canonical_triples",) if run_cc else ())
        self.expected = EXPECTED.get(name)

    def prepare(self, spark, cache: str, seed: int) -> str:
        return inputs.kg_source(spark, cache, seed, self.n_docs)

    def prepare_warmup(self, spark, cache: str) -> str:
        return inputs.kg_source(spark, cache, 0, self.warm_docs)

    def docs(self, inp: str) -> int:
        return inputs.footer_rows(inp)

    def job(self, spark, inp: str, out: str) -> dict:
        from smartlogic_concordance_transformer_spark.pipeline import run_pipeline

        return run_pipeline(spark, spark.read.parquet(inp), out, run_cc=self.run_cc)

    def check(self, inp: str, out: str, manifest: dict) -> list[str]:
        from tests.reference_model import convert

        # every 97th doc by the id in its path: ~1% of the input
        sample = checks.query(
            "select repo, path, commit, content from read_parquet(?) "
            "where cast(regexp_extract(path, '(\\d+)', 1) as bigint) % 97 = 0",
            [os.path.join(inp, "*.parquet")],
        )
        keys = [checks.doc_key(*r) for r in sample]
        upp, quar, edges, canon = checks.kg_outputs(out, keys)
        bad = checks.check_gtg(manifest)
        bad += checks.check_reference_sample(sample, upp, quar, convert)
        if self.run_cc:
            bad += checks.check_canonical(edges, canon)
        return bad

    def digest(self, out: str) -> dict:
        return {t: checks.table_digest(os.path.join(out, t)) for t in self.tables}

    def traced(self, tracer: Tracer) -> list[tuple]:
        """Wrappers around the calls ``run_pipeline`` makes into each layer.
        The transform and triples prefixes are single narrow stages that
        would otherwise execute inside the first sink, so the wrapper around
        ``emit_triples`` forces each to the noop sink in its own span:
        ``transform.materialize`` fills the pipeline's persisted frame (the
        one parse pass the job makes), and ``triples.emit_triples`` then
        explodes the cached frame."""
        from pyspark.sql.readwriter import DataFrameWriter

        from smartlogic_concordance_transformer_spark import io_tables, pipeline

        w = tracer.wrap

        def emit(good, *a, **kw):
            with tracer.span("transform.materialize"):
                force(good)
            with tracer.span("triples.emit_triples"):
                out = orig_emit(good, *a, **kw)
                force(out)
            return out

        def sink(self_, path, *a, **kw):
            with tracer.span("io_tables.sink." + os.path.basename(os.path.normpath(path))):
                return orig_parquet(self_, path, *a, **kw)

        orig_emit = pipeline.emit_triples
        orig_parquet = DataFrameWriter.parquet
        return [
            (pipeline, "transform_unified", w("transform.transform_unified", pipeline.transform_unified)),
            (pipeline, "split_unified", w("transform.split_unified", pipeline.split_unified)),
            (pipeline, "emit_triples", emit),
            (pipeline, "partition_metrics", w("metrics.partition_metrics", pipeline.partition_metrics)),
            (pipeline, "write_run_manifest", w("metrics.write_run_manifest", pipeline.write_run_manifest)),
            (pipeline, "gtg_check", w("metrics.gtg_check", pipeline.gtg_check)),
            (pipeline, "canonical_triples", w("cc.canonical_triples", pipeline.canonical_triples)),
            (io_tables.CheckpointLedger, "record",
             w("io_tables.CheckpointLedger.record", io_tables.CheckpointLedger.record)),
            (DataFrameWriter, "parquet", sink),
        ]

    def traced_job(self, spark, tracer: Tracer, inp: str, out: str) -> dict:
        with tracer.span("pipeline.run_pipeline"):
            return self.job(spark, inp, out)

    def counts(self, out: str, manifest: dict) -> dict:
        totals = manifest.get("totals", {})
        edges = checks.query(
            "select count(*) from read_parquet(?) where pred = 'concordsWith' and op = 'upsert'",
            [os.path.join(out, "triples", "**", "*.parquet")],
        )[0][0] if self.run_cc else 0
        return {
            "transform.rows": totals.get("docs_in", 0),
            "triples.rows": sum(v for k, v in totals.items() if k.startswith("triples_")),
            "cc.edges_in": edges,
        }


class Curation:
    """``pretraining_pipeline`` (lazy ``localCheckpoint`` barriers) over the
    ``pipeline_e2e`` raw corpus, ledger written to parquet."""

    name = "curation"

    def __init__(self, warm_docs: int = 500):
        self.warm_docs = warm_docs
        self.expected = EXPECTED.get(self.name)

    def prepare(self, spark, cache: str, seed: int) -> str:
        return inputs.curation_dir(cache, seed)

    def prepare_warmup(self, spark, cache: str) -> str:
        return inputs.curation_dir(cache, 0, self.warm_docs)

    def docs(self, inp: str) -> int:
        """Raw corpus rows: base docs plus one exact twin per 40th and one
        spam twin per 60th base doc."""
        ids = [r[0] for r in checks.query(
            "select doc_id from read_parquet(?)", [os.path.join(inp, "documents.parquet")])]
        return len(ids) + sum(1 for i in ids if i % 40 == 0) + sum(1 for i in ids if i % 60 == 0)

    def build(self, spark, inp: str):
        import __spark_entry__ as entry
        from smartlogic_concordance_transformer_spark.datapipe.curation import pretraining_pipeline

        raw, bench = entry._pipeline_raw(spark, inp)
        return pretraining_pipeline(raw, bench, mix_fractions=MIX).select("doc_id", "kept", "stage", "split")

    def job(self, spark, inp: str, out: str) -> None:
        self.build(spark, inp).write.mode("overwrite").parquet(os.path.join(out, "ledger"))

    def check(self, inp: str, out: str, _result) -> list[str]:
        src = dict(checks.query(
            "select doc_id, source from read_parquet(?)", [os.path.join(inp, "documents.parquet")]))
        sources = dict(src)
        sources.update({i + 200000: s for i, s in src.items() if i % 40 == 0})
        sources.update({i + 300000: s for i, s in src.items() if i % 60 == 0})
        rows = checks.query(
            "select doc_id, kept, stage, split from read_parquet(?)",
            [os.path.join(out, "ledger", "*.parquet")],
        )
        return checks.check_ledger(rows, set(sources)) + checks.check_planted(rows, sources)

    def digest(self, out: str) -> dict:
        return {"ledger": checks.table_digest(os.path.join(out, "ledger"))}

    def traced(self, tracer: Tracer) -> list[tuple]:
        import pyspark.sql.classic.dataframe as cdf

        from smartlogic_concordance_transformer_spark.datapipe import curation, dedup

        w = tracer.wrap
        ops = {
            "strip_boilerplate": "hygiene", "flag_contaminated": "hygiene",
            "scrub_pii": "text", "repetition_stats": "text", "quality_score": "text",
            "minhash_signatures": "dedup", "minhash_lsh_candidates": "dedup",
            "ngram_jaccard_pairs": "dedup",
            "stratified_sample": "sampling", "train_test_split": "sampling",
        }
        targets = [(curation, op, w(f"{mod}.{op}", getattr(curation, op))) for op, mod in ops.items()]
        targets.append((dedup, "shingles", w("dedup.shingles", dedup.shingles)))
        targets.append((cdf.DataFrame, "localCheckpoint", w("curation.barrier", cdf.DataFrame.localCheckpoint)))
        return targets

    def traced_job(self, spark, tracer: Tracer, inp: str, out: str) -> None:
        """The job with bench.py's compile/exec split: barrier calls and the
        final plan's ``toRdd`` are driver-side compile."""
        with tracer.span("curation.pretraining_pipeline"):
            ledger = self.build(spark, inp)
        with tracer.span("curation.compile_final"):
            ledger._jdf.queryExecution().toRdd()
        with tracer.span("curation.write"):
            ledger.write.mode("overwrite").parquet(os.path.join(out, "ledger"))

    def counts(self, out: str, _result) -> dict:
        return {}


WORKLOADS = {
    "kg_build": KG("kg_build", n_docs=10_000, run_cc=True),
    "kg_ingest": KG("kg_ingest", n_docs=80_000, run_cc=False),
    "curation": Curation(),
}
