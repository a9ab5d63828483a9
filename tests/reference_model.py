"""Pure-Python executable model of the reference's convertToUppConcordance
(/root/reference/smartlogic/service.go:96-183) — written from the SURVEY
semantics, used as the property-test oracle against the Spark pipeline.
"""

from __future__ import annotations

import hashlib
import json
import re

UUID_RE = re.compile(r"^[\da-f]{8}-[\da-f]{4}-[\da-f]{4}-[\da-f]{4}-[\da-f]{12}$")
THING = "http://www.ft.com/thing/"
ML = "http://www.ft.com/ontology/managedlocation/"
ED_NS = "http://www.ft.com/ontology/"

_VAR = "89ab89ab89ab89ab"


def _surgery(h: str) -> str:
    h = h[:12] + "3" + h[13:16] + _VAR[int(h[16], 16)] + h[17:]
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def md5_uuid(v: str) -> str:
    return _surgery(hashlib.md5(v.encode()).hexdigest())


def factset_uuid(v: str) -> str:
    return _surgery(hashlib.md5(hashlib.md5(v.encode()).digest()).hexdigest())


def convert(payload: str):
    """Returns ("valid", upp_json) or (status, error_substring)."""
    try:
        doc = json.loads(payload)
        if not isinstance(doc, dict):
            raise ValueError("not an object")
    except Exception:
        return "SyntacticallyIncorrect", "parse"
    graph = doc.get("@graph")
    if not isinstance(graph, list):
        graph = []
    if len(graph) == 0:
        return "SemanticallyIncorrect", "Missing/invalid @graph field"
    if len(graph) > 1:
        return "SemanticallyIncorrect", "More than 1 concept"
    node = graph[0]
    cid = node.get("@id") or ""

    if cid.startswith(THING) and UUID_RE.match(cid[len(THING):]):
        uuid, authority = cid[len(THING):], "Smartlogic"
    elif cid.startswith(ML) and UUID_RE.match(cid[len(ML):]):
        uuid, authority = cid[len(ML):], "ManagedLocation"
    else:
        return "SemanticallyIncorrect", "Missing/invalid @id field"

    types = node.get("@type") or []
    if isinstance(types, str):
        types = [types]
    if not types:
        return "SyntacticallyIncorrect", "Type has not been set"
    if types[0] == "skos:Concept":
        return "SemanticallyIncorrect", "concept type not allowed"
    short = types[0].rsplit("/", 1)[-1]

    is_ml = "managedlocation" in cid
    ns = ML if is_ml else ED_NS

    def vals(key):
        out = []
        for item in node.get(key, []) or []:
            v = item.get("@value")
            out.append("" if v is None else str(v))
        return out

    if is_ml:
        tme = vals(ns + "TMEIdentifier")
        factset = vals(ns + "factsetIdentifier")
        dbp = vals(ns + "dbpediaId")
        geo = vals(ns + "geonamesId")
        wd = vals(ns + "wikidataId")
    else:
        tme = vals(ns + "TMEIdentifier")
        factset = vals(ns + "factsetIdentifier")
        dbp = []  # editorial has no dbpedia field (model.go:117-119)
        geo = vals(ns + "geonamesIdentifier")
        wd = vals(ns + "wikidataIdentifier")

    if short in ("Membership", "MembershipRole") and tme:
        return "SyntacticallyIncorrect", "does not support concordance"

    conc = []

    def seen(u):
        return any(c["uuid"] == u for c in conc)

    for v in tme:
        parts = v.split("-")
        ok = len(parts) == 2 and all(parts)
        u = md5_uuid(v) if ok else ""
        if u == uuid:
            return "SyntacticallyIncorrect", "same as the uuid generated from the TME id"
        if not ok:
            return "SyntacticallyIncorrect", f"Concordance id {v} is not a valid TME Id"
        if seen(u):
            return "SyntacticallyIncorrect", "duplicate TME id values"
        conc.append({"authority": "TME", "authorityValue": v, "uuid": u})
    for v in factset:
        ok = len(v) == 8 and v[0] == "0" and v[6:8] == "-E"
        u = factset_uuid(v) if ok else ""
        if u == uuid:
            return "SyntacticallyIncorrect", "same as the uuid generated from the FACTSET id"
        if not ok:
            return "SyntacticallyIncorrect", f"Concordance id {v} is not a valid FACTSET Id"
        if seen(u):
            return "SyntacticallyIncorrect", "duplicate FACTSET id values"
        conc.append({"authority": "FACTSET", "authorityValue": v, "uuid": u})
    for auth, ids in (("DBPedia", dbp), ("Geonames", geo), ("Wikidata", wd)):
        for v in ids:
            if not v.strip():
                continue  # blank skipped (service.go:255-258)
            u = md5_uuid(v)
            if u == uuid:
                return "SyntacticallyIncorrect", f"same as the uuid generated from {auth} id"
            if seen(u):
                continue  # location dups skipped, keep first (service.go:266-269)
            conc.append({"authority": auth, "authorityValue": v, "uuid": u})

    # Go's json.Marshal writes non-ASCII as raw UTF-8, not \u escapes
    return "valid", json.dumps(
        {"authority": authority, "uuid": uuid, "concordances": conc},
        separators=(",", ":"),
        ensure_ascii=False,
    )
