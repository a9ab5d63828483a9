"""Property test: Spark pipeline vs the pure-Python reference model on
Hypothesis-generated JSON-LD payloads covering valid, duplicate, blank,
invalid, self-concordant, and mixed-namespace shapes."""

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from smartlogic_concordance_transformer_spark.transform import transform
from tests.reference_model import convert, md5_uuid

UUID = "20db1bd6-59f9-4404-adb5-3165a448f8b0"
THING = "http://www.ft.com/thing/"
ML = "http://www.ft.com/ontology/managedlocation/"
ED = "http://www.ft.com/ontology/"

# id values: mostly valid TME shapes, some invalid, some blank, plus the
# magic value whose derived UUID equals the concept UUID cannot be forged
# easily — self-concordance is covered by the fixture corpus instead.
id_value = st.one_of(
    st.from_regex(r"[A-Za-z0-9=]{1,12}-[A-Za-z0-9]{1,8}", fullmatch=True),
    st.from_regex(r"0[A-F0-9]{5}-E", fullmatch=True),
    st.sampled_from(["", " ", "no-hyphen-extra-x", "plain", "a-b-c", "dup-1", "dup-1"]),
    st.text(alphabet="abcXYZ-:/. ", min_size=0, max_size=20),
)
id_list = st.lists(
    st.builds(lambda v: {"@value": v}, id_value), min_size=0, max_size=4
)
types = st.sampled_from(
    [
        ["http://www.ft.com/ontology/Brand"],
        ["http://www.ft.com/ontology/Membership"],
        ["skos:Concept"],
        ["http://www.ft.com/ontology/Location"],
        [],
        None,
    ]
)


@st.composite
def payloads(draw):
    is_ml = draw(st.booleans())
    bad_id = draw(st.integers(0, 9)) == 0
    n_graph = draw(st.sampled_from([0, 1, 1, 1, 1, 2]))
    prefix = ML if is_ml else THING
    cid = (prefix + UUID) if not bad_id else "http://example.com/x"
    node = {"@id": cid}
    t = draw(types)
    if t is not None:
        node["@type"] = t
    ns = ML if is_ml else ED
    keymap = (
        {
            "TMEIdentifier": ns + "TMEIdentifier",
            "factsetIdentifier": ns + "factsetIdentifier",
            "dbpediaId": ns + "dbpediaId",
            "geonamesId": ns + "geonamesId",
            "wikidataId": ns + "wikidataId",
        }
        if is_ml
        else {
            "TMEIdentifier": ns + "TMEIdentifier",
            "factsetIdentifier": ns + "factsetIdentifier",
            "wikidataIdentifier": ns + "wikidataIdentifier",
            "geonamesIdentifier": ns + "geonamesIdentifier",
            # wrong-namespace key that must be ignored:
            "ml_wikidata": ML + "wikidataId",
        }
    )
    for key in keymap.values():
        if draw(st.booleans()):
            node[key] = draw(id_list)
    graph = [node] * n_graph
    return json.dumps({"@graph": graph})


@pytest.mark.slow
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(payloads(), min_size=1, max_size=12))
def test_spark_matches_reference_model(spark, batch):
    rows = [("r", f"p{i}", "c" * 40, "json", content) for i, content in enumerate(batch)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    good, quar = transform(df, carry=("path",))
    got = {}
    for r in good.collect():
        got[int(r.path[1:])] = ("valid", r.upp_json)
    for r in quar.collect():
        got[int(r.path[1:])] = (r.status, r.error)

    for i, content in enumerate(batch):
        status, expected = convert(content)
        g_status, g_val = got[i]
        assert g_status == status, (content, got[i], (status, expected))
        if status == "valid":
            assert g_val == expected, (content, g_val, expected)
        else:
            # error strings must agree on the discriminating substring
            assert expected.split(" is not a valid ")[-1] in g_val or expected in g_val or "parse" == expected, (
                content,
                g_val,
                expected,
            )
