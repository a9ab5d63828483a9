"""Correctness checks, independent of the Spark code under test.

Each check returns a list of failure reasons (empty when it passes).
Written outputs are read back with DuckDB or from the manifest, never
through the Spark session that produced them.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

# ---------------------------------------------------------------- reading


def _glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def table_digest(path: str) -> tuple[int, int]:
    """(rows, order-independent sum of row hashes) of a parquet directory,
    partition columns included."""
    con = duckdb.connect()
    try:
        cols = [r[0] for r in con.execute(
            f"describe select * from read_parquet('{_glob(path)}', hive_partitioning = true)"
        ).fetchall()]
        n, h = con.execute(
            f"select count(*), coalesce(sum(hash({', '.join(cols)})), 0) "
            f"from read_parquet('{_glob(path)}', hive_partitioning = true)"
        ).fetchone()
    finally:
        con.close()
    return int(n), int(h)


def query(sql: str, params: list | None = None) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(sql, params or []).fetchall()
    finally:
        con.close()


# ---------------------------------------------------------------- KG


def check_gtg(manifest: dict) -> list[str]:
    gtg = manifest.get("gtg", {})
    if gtg.get("ok") is True:
        return []
    return [f"gtg not ok: missing_ledger={gtg.get('missing_ledger')} "
            f"mismatches={gtg.get('mismatches', [])[:3]}"]


def doc_key(repo: str, path: str, commit: str, content: str) -> str:
    """The transform's doc key, sha256 over the \\x1f-joined lineage."""
    return hashlib.sha256("\x1f".join((repo, path, commit, content)).encode()).hexdigest()


def check_reference_sample(
    sample: list[tuple[str, str, str, str]],
    upp: dict[str, str],
    quarantine: dict[str, str],
    convert,
) -> list[str]:
    """Each sampled source row (repo, path, commit, content) re-derived by
    the pure-Python reference model ``convert``: a valid doc must be in
    ``upp`` (doc_key -> upp_json) with byte-identical JSON, an invalid one in
    ``quarantine`` (doc_key -> status) with the same status."""
    bad = []
    for repo, path, commit, content in sample:
        key = doc_key(repo, path, commit, content)
        status, expected = convert(content)
        if status == "valid":
            got = upp.get(key)
            if got != expected or key in quarantine:
                bad.append(f"reference: {path} upp_json {got!r:.80} != {expected!r:.80}")
        elif quarantine.get(key) != status or key in upp:
            bad.append(f"reference: {path} status {quarantine.get(key)!r} != {status!r}")
    return bad


def union_find_canonical(edges: list[tuple[str, str]]) -> set[tuple[str, str]]:
    """(canonical, member) for every non-canonical member of each connected
    class of ``edges``; canonical = the minimum node id of the class."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {(find(x), x) for x in parent if find(x) != x}


def check_canonical(edges: list[tuple[str, str]], canon: list[tuple[str, str, str]]) -> list[str]:
    """``canon`` (subj, pred, obj) must equal the union-find re-rooting of
    ``edges`` (subj, obj), row for row."""
    expected = union_find_canonical(edges)
    got = [(s, o) for s, _, o in canon]
    bad = []
    if len(got) != len(set(got)):
        bad.append(f"canonical: {len(got) - len(set(got))} duplicate rows")
    if any(p != "concordsWith" for _, p, _ in canon):
        bad.append("canonical: predicate other than concordsWith")
    missing, extra = expected - set(got), set(got) - expected
    if missing or extra:
        bad.append(f"canonical: {len(missing)} missing, {len(extra)} extra "
                   f"(e.g. {sorted(missing | extra)[:1]})")
    return bad


def kg_outputs(out_root: str, keys: list[str]) -> tuple[dict, dict, list, list]:
    """(upp doc_key -> upp_json, quarantine doc_key -> status) restricted to
    ``keys``, the concordsWith upsert edges, and the canonical triples."""
    con = duckdb.connect()
    try:
        con.execute("create temp table k(doc_key varchar)")
        con.executemany("insert into k values (?)", [(k,) for k in keys])
        upp = dict(con.execute(
            f"select doc_key, upp_json from read_parquet('{_glob(os.path.join(out_root, 'upp'))}') "
            "join k using (doc_key)").fetchall())
        quar = dict(con.execute(
            f"select doc_key, status from read_parquet('{_glob(os.path.join(out_root, 'quarantine'))}') "
            "join k using (doc_key)").fetchall())
        edges = con.execute(
            f"select subj, obj from read_parquet('{_glob(os.path.join(out_root, 'triples'))}') "
            "where pred = 'concordsWith' and op = 'upsert'").fetchall()
        canon_dir = os.path.join(out_root, "canonical_triples")
        canon = con.execute(
            f"select subj, pred, obj from read_parquet('{_glob(canon_dir)}')"
        ).fetchall() if os.path.isdir(canon_dir) else []
    finally:
        con.close()
    return upp, quar, edges, canon


# ---------------------------------------------------------------- curation

DROP_STAGES = ("quality", "repetition", "classifier", "exact_dup", "near_dup", "contaminated", "mix")


def check_ledger(rows: list[tuple], raw_ids: set[int]) -> list[str]:
    """Conservation over the per-doc ledger (doc_id, kept, stage, split):
    every raw doc appears once, raw = kept + sum of drops, and
    train + test = kept."""
    bad = []
    ids = [r[0] for r in rows]
    if len(ids) != len(set(ids)):
        bad.append(f"ledger: {len(ids) - len(set(ids))} docs appear more than once")
    if set(ids) != raw_ids:
        bad.append(f"ledger: {len(raw_ids - set(ids))} raw docs missing, "
                   f"{len(set(ids) - raw_ids)} unknown docs")
    kept = sum(1 for r in rows if r[1] is True and r[2] == "kept")
    drops = sum(1 for r in rows if r[1] is False and r[2] in DROP_STAGES)
    if len(raw_ids) != kept + drops:
        bad.append(f"ledger: raw {len(raw_ids)} != kept {kept} + drops {drops}")
    split = sum(1 for r in rows if r[3] in ("train", "test"))
    if split != kept or any(r[3] is not None for r in rows if r[1] is False):
        bad.append(f"ledger: train + test {split} != kept {kept}")
    return bad


def _sampled(doc_id: int, source: str) -> bool:
    """The mix rule of the pipeline's stratified sample (src0 64/256,
    src1 128/256, everything else kept), restated from its definition."""
    limit = {"src0": "40", "src1": "80"}.get(source)
    return limit is None or hashlib.md5(f"sample:{doc_id}".encode()).hexdigest()[:2] < limit


def check_planted(rows: list[tuple], sources: dict[int, str]) -> list[str]:
    """Facts planted by ``_pipeline_raw``, checked on the ledger: exact twins
    (id + 200000) and spam twins (id + 300000) never survive, eval docs
    (base id % 50 == 0) never survive, and a doc that reached the mix is
    kept exactly when the mix rule samples it."""
    bad = []
    for doc_id, kept, stage, _ in rows:
        if doc_id >= 300000 and stage not in ("quality", "repetition"):
            bad.append(f"planted: spam {doc_id} reached stage {stage}")
        elif 200000 <= doc_id < 300000 and stage not in ("quality", "repetition", "exact_dup"):
            bad.append(f"planted: exact twin {doc_id} reached stage {stage}")
        elif doc_id < 200000 and doc_id % 50 == 0 and kept:
            bad.append(f"planted: eval doc {doc_id} kept")
        elif stage in ("kept", "mix") and (stage == "kept") != _sampled(doc_id, sources[doc_id]):
            bad.append(f"planted: doc {doc_id} stage {stage} disagrees with the mix rule")
    return bad[:5]


def oracle_rows(docs_dir: str) -> list[tuple]:
    """The DuckDB ``pipeline_e2e`` oracle over ``docs_dir/documents.parquet``.
    All-pairs near-dedup: about 50 s at 500 documents and quadratic
    beyond, so it runs in the benchmark's tests, not in a timed run."""
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = docs_dir
    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        con.execute("create view documents as select * from "
                    f"read_parquet('{os.path.join(docs_dir, 'documents.parquet')}')")
        return con.execute(entry._pipeline_oracle()).fetchall()
    finally:
        con.close()


def check_rows_equal(got: list[tuple], expected: list[tuple], what: str) -> list[str]:
    g, e = sorted(map(tuple, got)), sorted(map(tuple, expected))
    if g == e:
        return []
    diff = set(g) ^ set(e)
    return [f"{what}: {len(g)} rows vs {len(e)} expected, {len(diff)} differ "
            f"(e.g. {sorted(diff, key=str)[:2]})"]
