"""The transform (fused Arrow UDF fold) vs the pure-Python reference model
on generated data, including unicode and every quarantine branch the
generator plants: valid rows must be byte-equal, quarantined rows must
agree on status and error."""

from smartlogic_concordance_transformer_spark.gen import generate_source_repos
from smartlogic_concordance_transformer_spark.transform import STATUS_HTTP, transform
from tests.reference_model import convert


def _collect(df):
    good, quar = transform(df, carry=("path",))
    g = {r.path: r.upp_json for r in good.collect()}
    q = {r.path: (r.status, r.http_code, r.error) for r in quar.collect()}
    return g, q


def _assert_matches_reference(contents, good, quar):
    assert set(good) | set(quar) == set(contents)
    assert not (set(good) & set(quar))
    for path, content in contents.items():
        status, expected = convert(content)
        if status == "valid":
            assert good.get(path) == expected, (path, content, quar.get(path))
        else:
            assert path in quar, (path, content, good.get(path))
            g_status, http_code, error = quar[path]
            assert g_status == status, (content, quar[path], expected)
            assert http_code == STATUS_HTTP[g_status]
            # the same discriminating-substring check as
            # test_property_transform::test_spark_matches_reference_model
            assert (
                expected.split(" is not a valid ")[-1] in error
                or expected in error
                or expected == "parse"
            ), (content, error, expected)


def test_engines_byte_equal_on_generated_corpus(spark):
    src = generate_source_repos(spark, 3000, seed=123)
    contents = {r.path: r.content for r in src.select("path", "content").collect()}
    assert len(contents) == 3000
    good, quar = _collect(src)
    assert good and quar
    _assert_matches_reference(contents, good, quar)


def test_engines_equal_on_unicode(spark):
    payload = (
        '{"@graph":[{"@id":"http://www.ft.com/thing/20db1bd6-59f9-4404-adb5-3165a448f8b0",'
        '"@type":["http://www.ft.com/ontology/Brand"],'
        '"http://www.ft.com/ontology/TMEIdentifier":[{"@value":"éüñ-tæx"}],'
        '"http://www.ft.com/ontology/wikidataIdentifier":[{"@value":"http://w.org/中文"}]}]}'
    )
    df = spark.createDataFrame(
        [("r", "p0", "c", "json", payload)],
        "repo string, path string, commit string, lang string, content string",
    )
    good, quar = _collect(df)
    _assert_matches_reference({"p0": payload}, good, quar)
    assert "éüñ" in good["p0"]  # raw UTF-8, no \u escapes
