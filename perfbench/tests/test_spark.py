"""Checks that need a Spark session: the event-log reducer reproduces two
known facts about the product's plans, and the curation job over part of
the committed corpus matches the DuckDB ``pipeline_e2e`` oracle."""

from __future__ import annotations

import os
import time

import pytest

from perfbench import checks, eventlog, inputs
from perfbench.tracing import Tracer
from perfbench.workloads import WORKLOADS, force


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from smartlogic_concordance_transformer_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(
        app_name="perfbench-tests", master="local[4]", shuffle_partitions=4,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + str(log_dir),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield spark, str(log_dir)
    spark.stop()


def _rows_for(log_dir: str, desc: str, jobs: int) -> dict:
    """Reduced row for ``desc`` once the event log holds ``jobs`` finished
    jobs for it (the listener bus writes asynchronously)."""
    deadline = time.time() + 30
    while True:
        row = eventlog.reduce_events(eventlog.read_events(log_dir)).get(desc)
        if row is not None and row["jobs"] >= jobs and row["stages"] >= jobs:
            return row
        if time.time() > deadline:
            raise AssertionError(f"event log has no complete row for {desc!r}: {row}")
        time.sleep(0.5)


def test_transform_and_triples_have_no_shuffle_stage(traced_spark):
    """Same fact as tests/test_plan_shape.py, read from the event log."""
    from smartlogic_concordance_transformer_spark.gen import generate_source_repos
    from smartlogic_concordance_transformer_spark.transform import split_unified, transform_unified
    from smartlogic_concordance_transformer_spark.triples import emit_triples

    spark, log_dir = traced_spark
    tracer = Tracer(spark.sparkContext)
    good, _ = split_unified(transform_unified(generate_source_repos(spark, 2000, seed=5)))
    with tracer.span("test.transform_emit"):
        force(emit_triples(good))
    row = _rows_for(log_dir, "test.transform_emit", 1)
    assert row["jobs"] == 1 and row["stages"] == 1
    assert row["shuffle_map_stages"] == 0 and row["shuffle_write_bytes"] == 0


def test_cc_job_count_matches_status_tracker(traced_spark, tmp_path):
    from smartlogic_concordance_transformer_spark.cc import canonical_triples
    from smartlogic_concordance_transformer_spark.gen import generate_source_repos
    from smartlogic_concordance_transformer_spark.transform import split_unified, transform_unified
    from smartlogic_concordance_transformer_spark.triples import emit_triples

    spark, log_dir = traced_spark
    good, _ = split_unified(transform_unified(generate_source_repos(spark, 3000, seed=6)))
    emit_triples(good).filter("pred = 'concordsWith' and op = 'upsert'").write.parquet(
        str(tmp_path / "edges"))
    edges = spark.read.parquet(str(tmp_path / "edges"))
    sc = spark.sparkContext
    tracer = Tracer(sc)
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    with tracer.span("cc.canonical_triples"):
        canonical_triples(edges)
    tracked = len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)
    assert tracked > 3
    assert _rows_for(log_dir, "cc.canonical_triples", tracked)["jobs"] == tracked


def test_curation_job_matches_duckdb_oracle(traced_spark, tmp_path):
    """The curation job over the committed corpus's first 500 docs equals
    the all-pairs DuckDB oracle row for row, and passes the run's own
    checks. (The oracle is quadratic, so it does not run on all 5,000.)"""
    spark, _ = traced_spark
    wl = WORKLOADS["curation"]
    docs = inputs.curation_dir(str(tmp_path), seed=3, n_docs=500)
    out = str(tmp_path / "out")
    wl.job(spark, docs, out)
    got = checks.query("select doc_id, kept, stage, split from read_parquet(?)",
                       [os.path.join(out, "ledger", "*.parquet")])
    assert checks.check_rows_equal(got, checks.oracle_rows(docs), "oracle") == []
    assert wl.check(docs, out, None) == []
    assert {r[2] for r in got} >= {"kept", "exact_dup", "near_dup", "contaminated", "mix"}
