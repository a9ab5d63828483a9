"""Each correctness check passes on a correct output and fires on one
planted mismatch. No Spark: outputs are small literals or parquet files
written with pyarrow."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, eventlog, inputs, run, workloads
from tests.reference_model import convert

VALID = json.dumps({"@graph": [{
    "@id": "http://www.ft.com/thing/2d3e16e0-61cb-4322-8aff-3b01c59f4daa",
    "@type": ["http://www.ft.com/ontology/Brand"],
    "http://www.ft.com/ontology/TMEIdentifier": [{"@value": "AbCdEf-QnJhbmRz"}],
}]})
MALFORMED = '{"@graph": [{'


def _sample():
    rows = [("r", "concepts/1.json", "c" * 40, VALID), ("r", "concepts/2.json", "c" * 40, MALFORMED)]
    upp, quar = {}, {}
    for r in rows:
        status, val = convert(r[3])
        (upp if status == "valid" else quar)[checks.doc_key(*r)] = val if status == "valid" else status
    return rows, upp, quar


def test_gtg_check_fires_on_failed_gtg():
    assert checks.check_gtg({"gtg": {"ok": True}}) == []
    assert checks.check_gtg({"gtg": {"ok": False, "missing_ledger": [3], "mismatches": []}})
    assert checks.check_gtg({})


def test_reference_sample_passes_and_fires_on_one_byte():
    rows, upp, quar = _sample()
    assert convert(VALID)[0] == "valid" and convert(MALFORMED)[0] != "valid"
    assert checks.check_reference_sample(rows, upp, quar, convert) == []
    key = checks.doc_key(*rows[0])
    bad_upp = dict(upp, **{key: upp[key].replace("}", " }", 1)})
    assert len(checks.check_reference_sample(rows, bad_upp, quar, convert)) == 1


def test_reference_sample_fires_on_wrong_status_or_missing_row():
    rows, upp, quar = _sample()
    key = checks.doc_key(*rows[1])
    assert len(checks.check_reference_sample(rows, upp, {key: "SemanticallyIncorrect"}, convert)) == 1
    assert len(checks.check_reference_sample(rows, {}, quar, convert)) == 1


def test_union_find_roots_each_class_at_its_minimum():
    edges = [("d", "c"), ("c", "b"), ("x", "y"), ("e", "e"), ("b", None)]
    assert checks.union_find_canonical(edges) == {("b", "c"), ("b", "d"), ("x", "y")}


def test_canonical_check_fires_on_missing_extra_and_duplicate_rows():
    edges = [("d", "c"), ("c", "b"), ("x", "y")]
    good = [("b", "concordsWith", "c"), ("b", "concordsWith", "d"), ("x", "concordsWith", "y")]
    assert checks.check_canonical(edges, good) == []
    assert checks.check_canonical(edges, good[:2])
    assert checks.check_canonical(edges, good + [("c", "concordsWith", "d")])
    assert checks.check_canonical(edges, good + good[:1])
    assert checks.check_canonical(edges, [("c", "concordsWith", "d")] + good[1:])


def _write(path, table, parts):
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def test_digest_ignores_order_and_files_but_not_values(tmp_path):
    t = pa.table({"k": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]})
    _write(tmp_path / "a", t, 1)
    _write(tmp_path / "b", t.take([3, 1, 0, 2]), 3)
    _write(tmp_path / "c", t.set_column(1, "v", pa.array(["a", "b", "c", "e"])), 1)
    da, db, dc = (checks.table_digest(str(tmp_path / x)) for x in "abc")
    assert da == db and da[0] == 4
    assert dc != da


def _ledger(n_base=120):
    """A consistent ledger over base ids 0..n-1 plus their planted twins."""
    sources = {i: f"src{i % 20}" for i in range(n_base)}
    sources.update({i + 200000: sources[i] for i in range(n_base) if i % 40 == 0})
    sources.update({i + 300000: sources[i] for i in range(n_base) if i % 60 == 0})
    rows = []
    for d, src in sources.items():
        if d >= 300000:
            rows.append((d, False, "repetition", None))
        elif d >= 200000:
            rows.append((d, False, "exact_dup", None))
        elif d % 50 == 0:
            rows.append((d, False, "contaminated", None))
        elif checks._sampled(d, src):
            rows.append((d, True, "kept", "test" if d % 5 == 0 else "train"))
        else:
            rows.append((d, False, "mix", None))
    return rows, sources


def test_ledger_conservation_fires_on_each_violation():
    rows, sources = _ledger()
    assert checks.check_ledger(rows, set(sources)) == []
    assert checks.check_ledger(rows + rows[:1], set(sources))
    assert checks.check_ledger(rows[1:], set(sources))
    kept = next(i for i, r in enumerate(rows) if r[1])
    no_split = rows[:kept] + [rows[kept][:3] + (None,)] + rows[kept + 1:]
    assert checks.check_ledger(no_split, set(sources))
    unknown_stage = rows[:kept] + [(rows[kept][0], False, "lost", None)] + rows[kept + 1:]
    assert checks.check_ledger(unknown_stage, set(sources))


def test_planted_facts_fire_on_each_violation():
    rows, sources = _ledger()
    assert checks.check_planted(rows, sources) == []

    def with_row(doc_id, row):
        return [row if r[0] == doc_id else r for r in rows]

    assert checks.check_planted(with_row(300000, (300000, True, "kept", "train")), sources)
    assert checks.check_planted(with_row(200040, (200040, False, "near_dup", None)), sources)
    assert checks.check_planted(with_row(50, (50, True, "kept", "train")), sources)
    mixed = next(r for r in rows if r[2] == "mix")
    assert checks.check_planted(with_row(mixed[0], (mixed[0], True, "kept", "train")), sources)


def test_oracle_comparison_ignores_order_and_fires_on_one_field():
    rows = [(1, True, "kept", "train"), (2, False, "mix", None)]
    assert checks.check_rows_equal(rows[::-1], rows, "oracle") == []
    assert checks.check_rows_equal([rows[0][:3] + ("test",), rows[1]], rows, "oracle")


def test_every_workload_has_expected_digests():
    assert set(workloads.EXPECTED) == set(workloads.WORKLOADS)
    for name, wl in workloads.WORKLOADS.items():
        assert wl.expected == workloads.EXPECTED[name]


def test_curation_seed_permutes_rows_of_a_fixed_corpus():
    a, b, c = (inputs.curation_documents(s, 200) for s in (1, 1, 2))
    assert a.equals(b) and not a.equals(c)
    assert a.sort_by("doc_id").equals(c.sort_by("doc_id"))
    assert sorted(a.column("doc_id").to_pylist()) == list(range(200))
    assert a.column("doc_id").to_pylist() != list(range(200))
    full = inputs.curation_documents(3)
    assert full.num_rows == 5000 and full.sort_by("doc_id").slice(0, 200).equals(a.sort_by("doc_id"))


class _FakeWorkload:
    """Writes one parquet row per job; ``value`` is what the job writes,
    ``expected`` the digest it must match."""

    name = "fake"

    def __init__(self, value, expected=None):
        self.value, self.expected = value, expected

    def job(self, spark, inp, out):
        os.makedirs(out)
        pq.write_table(pa.table({"v": [self.value]}), os.path.join(out, "p.parquet"))
        if self.value is None:
            raise RuntimeError("planted failure")

    def check(self, inp, out, result):
        return []

    def digest(self, out):
        return {"t": checks.table_digest(out)}

    def counts(self, out, result):
        return {}


def test_measure_fails_a_job_whose_digest_differs_from_the_expected_one(tmp_path):
    ref = str(tmp_path / "ref")
    _FakeWorkload(1).job(None, None, ref)
    expected = {"t": list(checks.table_digest(ref))}
    inp = str(tmp_path / "input")
    same = run.measure(None, _FakeWorkload(1, expected), inp, 0, lambda: 0.1, "t")
    assert len(same) == 1 and same[0]["bad"] == []
    changed = run.measure(None, _FakeWorkload(2, expected), inp, 0, lambda: 0.1, "t")
    assert changed[0]["bad"] and "digest" in changed[0]["bad"][0]
    unrecorded = run.measure(None, _FakeWorkload(1), inp, 0, lambda: 0.1, "t")
    assert unrecorded[0]["bad"] and "digest" in unrecorded[0]["bad"][0]


def test_measure_counts_a_raising_job_as_failed(tmp_path):
    recs = run.measure(None, _FakeWorkload(None), str(tmp_path / "input"), 0, lambda: 0.1, "t")
    assert recs[0]["bad"] and "planted failure" in recs[0]["bad"][0]


def _job(jid, desc, stages, t=1000.0):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t * 1000,
            "Stage IDs": stages, "Properties": {"spark.job.description": desc}}


def _stage(kind, sid):
    return {"Event": f"SparkListenerStage{kind}", "Stage Info": {
        "Stage ID": sid, "Submission Time": 0, "Completion Time": 10}}


def _task(sid, ms, kind="ResultTask", ok=True, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Type": kind,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": {"Executor Run Time": ms, "JVM GC Time": 1,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def test_reducer_attributes_stages_and_tasks_to_the_owning_job():
    events = [
        _job(0, "a", [0, 1]), _stage("Submitted", 0),
        _task(0, 10, "ShuffleMapTask", shuffle=100), _task(0, 30, "ShuffleMapTask", shuffle=50),
        _stage("Completed", 0), _stage("Submitted", 1), _task(1, 5), _stage("Completed", 1),
        # job 1 reuses stage 0 (skipped) and runs stage 2
        _job(1, "b", [0, 2], t=2000.0), _stage("Submitted", 2), _task(2, 7, ok=False),
        _stage("Completed", 2),
    ]
    rows = eventlog.reduce_events(events)
    assert rows["a"]["jobs"] == 1 and rows["a"]["stages"] == 2 and rows["a"]["tasks"] == 3
    assert rows["a"]["shuffle_map_stages"] == 1 and rows["a"]["shuffle_write_bytes"] == 150
    assert rows["a"]["skew"] == pytest.approx(30 / 20)
    assert rows["b"]["stages"] == 1 and rows["b"]["failed_tasks"] == 1
    only_b = eventlog.reduce_events(events, windows=[(1500.0, 2500.0)])
    assert set(only_b) == {"b"}
    assert eventlog.total(rows)["tasks"] == 4
