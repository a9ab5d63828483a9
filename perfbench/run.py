"""Product-path benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Spark runs at ``local[<cores>]`` from this
single driver process. The run starts the session, builds or reuses its
seeded inputs (untimed), and runs the workload's own job once on a small
input as a warm-up; ``setup_s`` is process start to the session being up
plus that warm-up. It then runs warm jobs until ``--seconds`` have passed
(at least one). The first successful job's outputs are checked against
independent references, and every job must write the per-table digests
committed in ``perfbench/expected.json``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs with
Spark's event log on: untraced jobs, then traced jobs (UDF profiler on and
spans around each layer's calls), then untraced jobs again, and prints the
per-layer metrics; spans and per-description event-log rows are written to
``.bench_build/perfbench/traces/``. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. Everything
the run writes stays under ``.bench_build/perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
MB = 1e6


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    return 0.0


def isolate() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    # import the harness as the ``perfbench`` package, not as loose modules
    # from the script's own directory
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(__file__)]


class Session:
    """The run's one Spark session and its JVM. pyspark cannot re-create a
    session in the same process (UDF objects keep the first context's
    accumulator), so each run sets up exactly once."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self, extra_conf: dict) -> float:
        """Start the session; returns the get_spark seconds."""
        from smartlogic_concordance_transformer_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            **extra_conf,
        }
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        return t1 - t0

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def make_canary(spark, path: str):
    """The phase canary: a fixed, plan-stable scan-agg timed before every
    job. Its plan never changes, so its time measures the box, not the
    engine."""
    from pyspark.sql import functions as F

    from perfbench.workloads import force

    ev = spark.read.parquet(path)

    def canary() -> float:
        t0 = time.perf_counter()
        force(ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))
        return time.perf_counter() - t0

    canary()
    return canary


def measure(spark, wl, inp: str, seconds: float, canary, tag: str, tracer=None) -> list[dict]:
    """Jobs until ``seconds`` have passed, at least one. One record
    per job: job_s, canary_s, bytes, files, result, failure reasons. The
    first successful job is checked in full; every job's per-table digests
    must equal the workload's expected ones."""
    from perfbench.workloads import dir_bytes

    jobs: list[dict] = []
    checked = False
    t0 = time.perf_counter()
    while not jobs or time.perf_counter() - t0 < seconds:
        i = len(jobs)
        out = os.path.join(WORK, "out", f"{tag}{i}")
        shutil.rmtree(out, ignore_errors=True)
        rec = {"canary_s": canary(), "bad": [], "result": None}
        if tracer is not None:
            tracer.trace_id = f"{wl.name}/{tag}{i}"
        t = time.perf_counter()
        try:
            if tracer is None:
                rec["result"] = wl.job(spark, inp, out)
            else:
                with tracer.span(f"{wl.name}.job") as root:
                    rec["result"] = wl.traced_job(spark, tracer, inp, out)
                rec["root"] = root
            rec["job_s"] = time.perf_counter() - t
        except Exception as e:  # a failed job is counted and reported, not fatal
            rec["job_s"] = time.perf_counter() - t
            rec["bad"].append(f"raised {type(e).__name__}: {str(e)[:200]}")
            log(traceback.format_exc())
        if not rec["bad"]:
            if not checked:
                rec["bad"] += wl.check(inp, out, rec["result"])
                checked = True
            digest = json.loads(json.dumps(wl.digest(out)))
            if digest != wl.expected:
                rec["bad"].append(f"output digest {json.dumps(digest)} differs from the "
                                  f"expected {json.dumps(wl.expected)}")
            rec["bytes"], rec["files"] = dir_bytes(out)
            rec["counts"] = wl.counts(out, rec["result"])
        log(f"[{wl.name}] {tag} job {i}: job_s={rec['job_s']:.3f} "
            f"session.canary_s={rec['canary_s']:.3f}" + "".join(f"\n  FAIL {b}" for b in rec["bad"]))
        jobs.append(rec)
        shutil.rmtree(out, ignore_errors=True)
    return jobs


def med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(wl, job: dict, spans: list[dict], events: list[dict]) -> dict:
    """Per-layer metrics of one traced job, from its spans and the event-log
    jobs submitted inside its root span."""
    from perfbench import eventlog
    from perfbench.tracing import self_times

    root = job["root"]
    mine = [s for s in spans if s["trace"] == root["trace"]]
    selft = self_times(mine)
    job_s = root["end"] - root["start"]
    rows = eventlog.reduce_events(events, [(root["start"], root["end"])])
    tot = eventlog.total(rows)
    zero = dict.fromkeys(tot, 0) | {"skew": 0.0}

    def dur(name: str) -> float:
        return sum(s["end"] - s["start"] for s in mine if s["name"] == name)

    def self_of(prefix: str) -> float:
        return sum(selft[s["id"]] for s in mine if s["name"].startswith(prefix))

    m = {
        "session.jobs": tot["jobs"], "session.stages": tot["stages"], "session.tasks": tot["tasks"],
        "session.shuffle_write_mb": tot["shuffle_write_bytes"] / MB,
        "session.shuffle_read_mb": tot["shuffle_read_bytes"] / MB,
        "session.spill_mb": tot["spill_bytes"] / MB,
        "session.gc_s": tot["gc_ms"] / 1000.0,
        "session.failed_tasks": tot["failed_tasks"],
        "transform.unified_s": dur("transform.materialize"),
        "transform.udf_s": job.get("transform_udf_s", 0.0),
        "session.udf_s": job.get("udf_s", 0.0),
        "transform.rows": 0, "triples.rows": 0, "cc.edges_in": 0,
        "triples.emit_s": dur("triples.emit_triples"),
        "io_tables.bytes_written": job.get("bytes", 0),
        "io_tables.files_written": job.get("files", 0),
        "io_tables.ledger_s": dur("io_tables.CheckpointLedger.record"),
        "cc.canonical_s": dur("cc.canonical_triples"),
        "metrics.partition_metrics_s": dur("metrics.partition_metrics"),
        "metrics.manifest_s": dur("metrics.write_run_manifest"),
        "metrics.gtg_s": dur("metrics.gtg_check"),
        "pipeline.self_s": self_of("pipeline.run_pipeline"),
        "curation.barrier_s": dur("curation.barrier"),
        "trace.job_s": job_s,
        "trace.attributed_frac": 1.0 - selft[root["id"]] / job_s,
    }
    m.update(job.get("counts", {}))
    for t in ("upp", "quarantine", "triples"):
        m[f"io_tables.sink_s.{t}"] = dur(f"io_tables.sink.{t}")
    cc = rows.get("cc.canonical_triples", zero)
    m.update({
        "cc.jobs": cc["jobs"], "cc.stages": cc["stages"], "cc.tasks": cc["tasks"],
        "cc.shuffle_write_mb": cc["shuffle_write_bytes"] / MB,
        "cc.task_max_over_median": cc["skew"],
    })
    compile_s = m["curation.barrier_s"] + dur("curation.compile_final")
    curation_s = sum(dur(f"curation.{n}") for n in ("pretraining_pipeline", "compile_final", "write"))
    m["curation.compile_s"], m["curation.exec_s"] = compile_s, curation_s - compile_s
    for op in DATAPIPE_OPS:
        r = rows.get(op, zero)
        m[f"{op}.call_s"] = dur(op)
        m[f"{op}.jobs"], m[f"{op}.stages"] = r["jobs"], r["stages"]
        m[f"{op}.shuffle_write_mb"] = r["shuffle_write_bytes"] / MB
    for layer in LAYERS:
        m[f"trace.share.{layer}"] = self_of(layer + ".") / job_s
    return m


DATAPIPE_OPS = (
    "hygiene.strip_boilerplate", "hygiene.flag_contaminated",
    "text.scrub_pii", "text.repetition_stats", "text.quality_score",
    "dedup.shingles", "dedup.minhash_signatures", "dedup.minhash_lsh_candidates",
    "dedup.ngram_jaccard_pairs",
    "sampling.stratified_sample", "sampling.train_test_split",
)
LAYERS = ("pipeline", "transform", "triples", "io_tables", "cc", "metrics",
          "curation", "hygiene", "text", "dedup", "sampling")


def run(args) -> dict:
    from perfbench import eventlog, inputs
    from perfbench.tracing import Tracer, patched
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    cache = os.path.join(WORK, "inputs")
    session = Session(cores)
    log_dir = os.path.join(WORK, "eventlog", f"{wl.name}-s{args.seed}-{os.getpid()}")
    conf = {}
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        }
    try:
        get_s = session.start(conf)
        up_s = process_age()
        spark = session.spark
        t = time.perf_counter()
        canary = make_canary(spark, inputs.canary_table(spark, cache))
        inp = wl.prepare(spark, cache, args.seed)
        warm_inp = wl.prepare_warmup(spark, cache)
        n_docs = wl.docs(inp)
        inputs_s = time.perf_counter() - t
        # warm-up: the workload's own job on a small input, so the first
        # use of each plan, UDF and code path is paid here, not in job_s
        warm_out = os.path.join(WORK, "out", "warmup")
        shutil.rmtree(warm_out, ignore_errors=True)
        t = time.perf_counter()
        wl.job(spark, warm_inp, warm_out)
        warm_s = time.perf_counter() - t
        shutil.rmtree(warm_out, ignore_errors=True)
        setup_s = up_s + warm_s
        log(f"[{wl.name}] setup_s={setup_s:.3f} (session up at {up_s:.3f}, get_spark {get_s:.3f}, "
            f"warm-up {warm_s:.3f}); inputs ready in {inputs_s:.3f} s, untimed")

        plain = measure(spark, wl, inp, args.seconds, canary, "job")
        ok = [j for j in plain if not j["bad"]] or plain
        job_s = med(j["job_s"] for j in ok)
        jobs = list(plain)
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "job_s": job_s,
                "docs_per_s": n_docs / job_s,
                "out_mb": med(j.get("bytes", 0) for j in ok) / MB,
            }
        else:
            jvm = session.jvm_pid()
            rss_mb = vm_hwm_mb("self") + (vm_hwm_mb(jvm) if jvm else 0.0)
            tracer = Tracer(spark.sparkContext)
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            spark.profile.clear(type="perf")
            traced = []
            with patched(wl.traced(tracer)):
                for rec in measure(spark, wl, inp, args.seconds, canary, "traced", tracer):
                    profiles = spark._profiler_collector._perf_profile_results.values()
                    rec["udf_s"] = sum(st.total_tt for st in profiles)
                    rec["transform_udf_s"] = sum(
                        st.total_tt for st in profiles if any("pyfold" in k[0] for k in st.stats))
                    spark.profile.clear(type="perf")
                    traced.append(rec)
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            # the overhead compares the traced jobs with the untraced ones
            # run before and after them, which bracket any drift as the
            # JVM keeps warming up
            after = measure(spark, wl, inp, args.seconds, canary, "after")
            jobs += traced + after
            job_s = med(j["job_s"] for j in plain + after if not j["bad"])
            session.shutdown()  # flushes the event log
            events = eventlog.read_events(log_dir)
            per_job = [layer_metrics(wl, j, tracer.spans, events) for j in traced if "root" in j]
            metrics = {k: med(p[k] for p in per_job) for k in per_job[0]} if per_job else {}
            metrics.update({
                "session.get_spark_s": get_s,
                "session.warmup_s": warm_s,
                "session.canary_s": med(j["canary_s"] for j in jobs),
                "trace.untraced_job_s": job_s,
                "session.peak_rss_mb": rss_mb,
            })
            if per_job and job_s > 0:
                metrics["trace.overhead_frac"] = metrics["trace.job_s"] / job_s - 1.0
            write_trace(wl, args.seed, tracer.spans, events, metrics)
    finally:
        session.shutdown()
    failed = sum(1 for j in jobs if j["bad"])
    return {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())},
    }


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if name == "docs_per_s":
        return "1/s"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.startswith("trace.share.") or last == "task_max_over_median":
        return "ratio"
    if last == "bytes_written":
        return "bytes"
    return "count"


def write_trace(wl, seed: int, spans: list[dict], events: list[dict], metrics: dict) -> None:
    from perfbench import eventlog

    d = os.path.join(WORK, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{wl.name}-s{seed}.json")
    windows = [(s["start"], s["end"]) for s in spans if s["parent"] is None]
    rows = eventlog.reduce_events(events, windows)
    with open(path, "w") as f:
        json.dump({
            "spans": spans,
            "event_log_by_description": {str(k): v for k, v in sorted(rows.items(), key=lambda kv: str(kv[0]))},
            "metrics": metrics,
        }, f, indent=1)
    log(f"[{wl.name}] trace written to {path}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("kg_build", "kg_ingest", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    isolate()
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
