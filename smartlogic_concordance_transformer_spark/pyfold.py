"""Fused Arrow engine: parse + validate + derive + assemble in ONE
Arrow-batched pandas UDF.

Why a Python kernel: expressed in Spark SQL, the per-doc fold needs
higher-order array functions, and Spark evaluates HOF lambdas interpreted
(CodegenFallback) — measured ~900us/doc on this workload. The same fold
in plain Python is ~53us/doc (17x), and Python workers are separate
processes, so it also *scales* better than a shared-heap JVM under
allocation pressure. ``input_hint`` mandates pandas/Arrow UDFs (no
per-row Python at the Spark level) — this is that path, one UDF call per
~10k-row Arrow batch.

Byte-exactness: the emitted JSON matches Go's ``json.Marshal`` key order
and Spark's ``to_json`` byte-for-byte (compact separators, raw UTF-8).
The fold is cross-checked against the pure-Python
``tests/reference_model.py`` (generated corpus, unicode, Hypothesis
payloads), and every quarantine branch's exact error text is pinned by
``tests/test_quarantine_errors.py``.

Parity map (reference file:line): ``convert_one`` follows
``service.go:96-300`` branch by branch; docs/COVERAGE.md maps each
operator.
"""

from __future__ import annotations

import hashlib
import json
import re

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .fastjson import loads as _loads

_UUID_RE = re.compile(r"^[\da-f]{8}-[\da-f]{4}-[\da-f]{4}-[\da-f]{4}-[\da-f]{12}$")
_THING = "http://www.ft.com/thing/"
_ML = "http://www.ft.com/ontology/managedlocation/"
_ED = "http://www.ft.com/ontology/"
_VAR = "89ab89ab89ab89ab"

SYNTACTIC = "SyntacticallyIncorrect"
SEMANTIC = "SemanticallyIncorrect"

# Slim Arrow return payload. The fold's natural output (a list<struct> of
# concordances + status/op strings per row) costs more to ship than to
# compute: pandas->Arrow conversion of an object column of list-of-dict is
# per-element Python introspection, and repeated enum strings are dead
# exchange volume. Measured on the 600k-doc bench corpus: status-only pass
# 2.03s -> 1.20s at local[32] (4.08 -> 2.16 at local[8]) after switching to
# this shape. So the UDF returns:
#   code      int8   — 0 valid / 1 syntactic / 2 semantic (status + http
#                      code reconstructed natively JVM-side)
#   error     string — null for valid rows (no payload for the 90%+ path)
#   conc_json string — concordances pre-serialized by json.dumps (C-speed);
#                      JVM re-materializes the struct array with from_json
#                      (Jackson) only where a query needs it, and upp_json
#                      becomes a native concat — no to_json, no list<struct>
#                      crossing the Arrow boundary.
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("code", T.ByteType()),
        T.StructField("error", T.StringType()),
        T.StructField("concept_uuid", T.StringType()),
        T.StructField("authority", T.StringType()),
        T.StructField("conc_json", T.StringType()),
    ]
)

CODE_VALID, CODE_SYNTACTIC, CODE_SEMANTIC = 0, 1, 2


_MD5 = hashlib.md5
# variant nibble keyed directly on the hex CHAR (r8): saves an int(c, 16)
# per derived uuid in the hot fold
_VAR_NIBBLE = {c: _VAR[int(c, 16)] for c in "0123456789abcdef"}


def _surgery(h: str) -> str:
    # single-pass hyphenation + version/variant splice (equivalent to
    # rewriting char 12 to '3' and char 16 to the variant nibble, then
    # formatting 8-4-4-4-12); one f-string, no intermediate 32-char string
    return (
        f"{h[:8]}-{h[8:12]}-3{h[13:16]}-{_VAR_NIBBLE[h[16]]}{h[17:20]}-{h[20:32]}"
    )


def _md5_uuid(v: str) -> str:
    return _surgery(_MD5(v.encode("utf-8")).hexdigest())


def _factset_uuid(v: str) -> str:
    return _surgery(_MD5(_MD5(v.encode("utf-8")).digest()).hexdigest())


def _values(node: dict, key: str) -> list[str]:
    raw = node.get(key)
    if raw is None:
        return []
    if not isinstance(raw, list):
        raise ValueError(f"json: cannot unmarshal value for {key}")
    out = []
    for item in raw:
        if not isinstance(item, dict):
            raise ValueError(f"json: cannot unmarshal entry for {key}")
        v = item.get("@value")
        out.append("" if v is None else str(v))
    return out


# chars that force a concordance value through json.dumps escaping; the
# overwhelmingly common clean value is emitted raw (byte-identical to
# json.dumps(ensure_ascii=False), which also leaves non-ASCII unescaped)
_NEEDS_ESC = re.compile(r'[\\"\x00-\x1f]')


def _jstr(s: str) -> str:
    if _NEEDS_ESC.search(s) is None:
        return '"%s"' % s
    return json.dumps(s, ensure_ascii=False)


def _fail(code: int, error: str, uuid: str | None = None, authority: str | None = None):
    return (code, error, uuid, authority, None)


def convert_one(content: str) -> tuple:
    """The full reference fold (service.go:96-183) over one payload.

    Returns the slim result row directly — ``(code, error, concept_uuid,
    authority, conc_json)`` matching RESULT_SCHEMA — with the
    concordance JSON parts rendered inline (r8: the former dict-shaped
    return plus a second rendering pass in the UDF loop cost ~20% of the
    whole fold in allocation/marshalling; tuple construction and direct
    '%'-formatting are the measured-fastest CPython forms here).
    ``conc_json`` parts are byte-identical to
    ``json.dumps(separators=(",", ":"), ensure_ascii=False)`` — which
    matches Spark ``to_json`` / Go ``json.Marshal`` bytes (cross-checked
    in tests)."""
    if not content:
        return (CODE_SYNTACTIC, "EOF", None, None, None)
    try:
        doc = _loads(content)
    except Exception as exc:
        return (CODE_SYNTACTIC, f"invalid json: {exc}", None, None, None)
    if not isinstance(doc, dict):
        return (CODE_SYNTACTIC, "invalid json: payload is not an object", None, None, None)

    graph = doc.get("@graph")
    if not isinstance(graph, list):
        graph = []
    if len(graph) == 0:
        return (
            CODE_SEMANTIC,
            "invalid Request Json: Missing/invalid @graph field",
            None, None, None,
        )
    if len(graph) > 1:
        return (
            CODE_SEMANTIC,
            "invalid Request Json: More than 1 concept in smartlogic concept "
            "payload which is currently not supported",
            None, None, None,
        )
    node = graph[0]
    if not isinstance(node, dict):
        return (CODE_SYNTACTIC, "invalid json: concept is not an object", None, None, None)

    cid = node.get("@id")
    if not isinstance(cid, str):
        cid = ""
    if cid.startswith(_THING) and _UUID_RE.match(cid[len(_THING):]):
        uuid, upp_authority = cid[len(_THING):], "Smartlogic"
    elif cid.startswith(_ML) and _UUID_RE.match(cid[len(_ML):]):
        uuid, upp_authority = cid[len(_ML):], "ManagedLocation"
    else:
        return (
            CODE_SEMANTIC,
            "invalid Request Json: Missing/invalid @id field",
            None, None, None,
        )

    types = node.get("@type")
    if isinstance(types, str):
        types = [types]
    if not isinstance(types, list) or not types:
        return _fail(
            CODE_SYNTACTIC,
            f"bad Request: Type has not been set for concept: {uuid})",
            uuid, upp_authority,
        )
    first_type = str(types[0])
    if first_type == "skos:Concept":
        return _fail(CODE_SEMANTIC, "concept type not allowed", uuid, upp_authority)
    short = first_type[first_type.rfind("/") + 1:]

    # namespace dispatch on contains (model.go:78)
    is_ml = "managedlocation" in cid
    try:
        if is_ml:
            tme = _values(node, _ML + "TMEIdentifier")
            factset = _values(node, _ML + "factsetIdentifier")
            locations = [
                ("DBPedia", _values(node, _ML + "dbpediaId")),
                ("Geonames", _values(node, _ML + "geonamesId")),
                ("Wikidata", _values(node, _ML + "wikidataId")),
            ]
        else:
            tme = _values(node, _ED + "TMEIdentifier")
            factset = _values(node, _ED + "factsetIdentifier")
            locations = [
                ("DBPedia", []),  # editorial has no dbpedia field (model.go:117-119)
                ("Geonames", _values(node, _ED + "geonamesIdentifier")),
                ("Wikidata", _values(node, _ED + "wikidataIdentifier")),
            ]
    except ValueError as exc:
        return _fail(CODE_SYNTACTIC, str(exc), uuid, upp_authority)

    if short in ("Membership", "MembershipRole") and tme:
        return _fail(
            CODE_SYNTACTIC,
            f"bad Request: Concept type {short} does not support concordance",
            uuid,
            upp_authority,
        )

    conc: list[str] = []
    seen: set[str] = set()

    for v in tme:
        parts = v.split("-")
        ok = len(parts) == 2 and parts[0] != "" and parts[1] != ""
        u = _md5_uuid(v) if ok else ""
        if u == uuid:
            return _fail(
                CODE_SYNTACTIC,
                "bad Request: Payload from smartlogic has a smartlogic uuid that "
                "is the same as the uuid generated from the TME id",
                uuid,
                upp_authority,
            )
        if not ok:
            return _fail(
                CODE_SYNTACTIC,
                f"Bad Request: Concordance id {v} is not a valid TME Id",
                uuid, upp_authority,
            )
        if u in seen:
            return _fail(
                CODE_SYNTACTIC,
                "bad Request: Payload from smartlogic contains duplicate TME id values",
                uuid,
                upp_authority,
            )
        seen.add(u)
        conc.append('{"authority":"TME","authorityValue":%s,"uuid":"%s"}' % (_jstr(v), u))

    for v in factset:
        ok = len(v) == 8 and v[0] == "0" and v[6:8] == "-E"
        u = _factset_uuid(v) if ok else ""
        if u == uuid:
            return _fail(
                CODE_SYNTACTIC,
                "bad Request: Payload from smartlogic has a smartlogic uuid that "
                "is the same as the uuid generated from the FACTSET id",
                uuid,
                upp_authority,
            )
        if not ok:
            return _fail(
                CODE_SYNTACTIC,
                f"Bad Request: Concordance id {v} is not a valid FACTSET Id",
                uuid,
                upp_authority,
            )
        if u in seen:
            return _fail(
                CODE_SYNTACTIC,
                "bad Request: Payload from smartlogic contains duplicate FACTSET id values",
                uuid,
                upp_authority,
            )
        seen.add(u)
        conc.append(
            '{"authority":"FACTSET","authorityValue":%s,"uuid":"%s"}' % (_jstr(v), u)
        )

    for auth, ids in locations:
        for v in ids:
            if not v.strip():
                continue  # F7: blank skipped (service.go:255-258)
            u = _md5_uuid(v)
            if u == uuid:
                return _fail(
                    CODE_SYNTACTIC,
                    "bad Request: Payload from Smartlogic has a Smartlogic uuid that "
                    f"is the same as the uuid generated from {auth} id",
                    uuid,
                    upp_authority,
                )
            if u in seen:
                continue  # D2: location dups keep-first (service.go:266-269)
            seen.add(u)
            conc.append(
                '{"authority":"%s","authorityValue":%s,"uuid":"%s"}' % (auth, _jstr(v), u)
            )

    # upp_json is rendered JVM-side (native concat over conc_json) —
    # byte-equal (cross-checked in tests). op (upsert/delete) is likewise
    # reconstructed natively from the concordance count.
    return (CODE_VALID, None, uuid, upp_authority, "[%s]" % ",".join(conc))


@pandas_udf(RESULT_SCHEMA)
def convert_udf(content: pd.Series) -> pd.DataFrame:
    # convert_one already returns the RESULT_SCHEMA row tuple; one
    # transpose, no per-row re-marshalling (r8)
    rows = list(map(convert_one, content))
    codes, errs, uuids, auths, concs = zip(*rows) if rows else ((),) * 5
    return pd.DataFrame(
        {
            "code": pd.Series(codes, dtype="int8"),
            "error": errs,
            "concept_uuid": uuids,
            "authority": auths,
            "conc_json": concs,
        }
    )


# The fold IS deterministic; the flag only forbids the optimizer from
# duplicating it. Without it, PushDownPredicates substitutes the
# good/quarantine split condition (`_r.code == 0`) through the fold's
# projection, and ExtractPythonUDFs then plans TWO ArrowEvalPython nodes
# — the whole kernel ran twice over every row (measured: full KG job
# 6.24s -> 3.87s best-of-3 at local[32] on the 2.4M-doc scaling corpus,
# 2.3 -> 3.7M triples/s, from this one line; plan now shows a single
# ArrowEvalPython with the split filter ABOVE it).
convert_udf = convert_udf.asNondeterministic()
