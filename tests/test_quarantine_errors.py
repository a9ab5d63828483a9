"""Every quarantine branch of the KG fold, pinned byte-for-byte.

One inline payload per branch of ``pyfold.convert_one``; each test
asserts the exact ``(status, http_code, error)`` triple the quarantine
table carries. The error strings are the reference service's
(``service.go:96-300``), so a drift in any of them is a contract break
for downstream consumers that match on the text. Malformed JSON is the
one exception: its message comes from the JSON decoder, so only the
status, the code and the ``invalid json: `` prefix are pinned.
"""

import json

import pytest

from smartlogic_concordance_transformer_spark.transform import transform
from tests.reference_model import factset_uuid, md5_uuid

UUID = "20db1bd6-59f9-4404-adb5-3165a448f8b0"
THING = "http://www.ft.com/thing/"
ML = "http://www.ft.com/ontology/managedlocation/"
ED = "http://www.ft.com/ontology/"
BRAND = [ED + "Brand"]
SYN, SEM = "SyntacticallyIncorrect", "SemanticallyIncorrect"


def _concept(cid=THING + UUID, types=BRAND, **ids):
    node = {"@id": cid}
    if types is not None:
        node["@type"] = types
    for key, values in ids.items():
        node[key] = values
    return json.dumps({"@graph": [node]})


def _ids(*values):
    return [{"@value": v} for v in values]


# self-concordance: the concept's own uuid is the one its id derives
_TME_SELF, _FS_SELF, _GEO_SELF = "self-tme", "012345-E", "http://sws.geonames.org/1/"

# branch -> (payload, status, http_code, exact error)
CASES = {
    "empty_content": ("", SYN, 400, "EOF"),
    "malformed_json": ('{"@graph": [', SYN, 400, None),
    "non_object_payload": ("[1, 2]", SYN, 400, "invalid json: payload is not an object"),
    "missing_graph": ("{}", SEM, 422, "invalid Request Json: Missing/invalid @graph field"),
    "more_than_one_concept": (
        json.dumps({"@graph": [{}, {}]}),
        SEM,
        422,
        "invalid Request Json: More than 1 concept in smartlogic concept payload "
        "which is currently not supported",
    ),
    "concept_not_object": (
        json.dumps({"@graph": [1]}), SYN, 400, "invalid json: concept is not an object"
    ),
    "invalid_id": (
        _concept(cid="http://example.com/x"),
        SEM,
        422,
        "invalid Request Json: Missing/invalid @id field",
    ),
    "no_type": (
        _concept(types=None),
        SYN,
        400,
        f"bad Request: Type has not been set for concept: {UUID})",
    ),
    "skos_concept": (_concept(types=["skos:Concept"]), SEM, 422, "concept type not allowed"),
    "id_list_not_a_list": (
        _concept(**{ED + "TMEIdentifier": "abc-def"}),
        SYN,
        400,
        f"json: cannot unmarshal value for {ED}TMEIdentifier",
    ),
    "id_entry_not_an_object": (
        _concept(**{ED + "TMEIdentifier": ["abc-def"]}),
        SYN,
        400,
        f"json: cannot unmarshal entry for {ED}TMEIdentifier",
    ),
    "membership_with_tme": (
        _concept(types=[ED + "Membership"], **{ED + "TMEIdentifier": _ids("abc-def")}),
        SYN,
        400,
        "bad Request: Concept type Membership does not support concordance",
    ),
    "tme_invalid": (
        _concept(**{ED + "TMEIdentifier": _ids("abc-def", "plain")}),
        SYN,
        400,
        "Bad Request: Concordance id plain is not a valid TME Id",
    ),
    "tme_duplicate": (
        _concept(**{ED + "TMEIdentifier": _ids("abc-def", "abc-def")}),
        SYN,
        400,
        "bad Request: Payload from smartlogic contains duplicate TME id values",
    ),
    "tme_self_concordant": (
        _concept(cid=THING + md5_uuid(_TME_SELF), **{ED + "TMEIdentifier": _ids(_TME_SELF)}),
        SYN,
        400,
        "bad Request: Payload from smartlogic has a smartlogic uuid that is the "
        "same as the uuid generated from the TME id",
    ),
    "factset_invalid": (
        _concept(**{ED + "factsetIdentifier": _ids("000D63-E", "123456-E")}),
        SYN,
        400,
        "Bad Request: Concordance id 123456-E is not a valid FACTSET Id",
    ),
    "factset_duplicate": (
        _concept(**{ED + "factsetIdentifier": _ids("000D63-E", "000D63-E")}),
        SYN,
        400,
        "bad Request: Payload from smartlogic contains duplicate FACTSET id values",
    ),
    "factset_self_concordant": (
        _concept(
            cid=THING + factset_uuid(_FS_SELF), **{ED + "factsetIdentifier": _ids(_FS_SELF)}
        ),
        SYN,
        400,
        "bad Request: Payload from smartlogic has a smartlogic uuid that is the "
        "same as the uuid generated from the FACTSET id",
    ),
    "location_self_concordant": (
        _concept(
            cid=ML + md5_uuid(_GEO_SELF),
            types=[ED + "Location"],
            **{ML + "geonamesId": _ids(_GEO_SELF)},
        ),
        SYN,
        400,
        "bad Request: Payload from Smartlogic has a Smartlogic uuid that is the "
        "same as the uuid generated from Geonames id",
    ),
}


@pytest.fixture(scope="module")
def quarantine(spark):
    rows = [("r", name, "c" * 40, "json", payload) for name, (payload, *_) in CASES.items()]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    good, quar = transform(df, carry=("path",))
    assert good.count() == 0
    return {r.path: r for r in quar.collect()}


@pytest.mark.parametrize("branch", sorted(CASES))
def test_quarantine_branch_exact_error(quarantine, branch):
    _, status, http_code, error = CASES[branch]
    row = quarantine[branch]
    if error is None:
        assert (row.status, row.http_code) == (status, http_code)
        assert row.error.startswith("invalid json: "), row.error
    else:
        assert (row.status, row.http_code, row.error) == (status, http_code, error)
