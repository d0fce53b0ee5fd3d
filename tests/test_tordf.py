"""toRDF conformance vectors: literal canonical forms (xsd:double JS
exponent form, xsd:integer, xsd:boolean, rdf:JSON via JCS,
rdf:langString), rdf:first/rest/nil chains, named graphs,
relative-IRI dropping, blank-node labeling (FIXTURES.md §2)."""

import pytest

from jsonld_js_spark.kernel import to_rdf
from jsonld_js_spark.kernel.tordf import double_canonical
from jsonld_js_spark.kernel.jcs import canonicalize

EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"


def nq(doc, **opts):
    return to_rdf(doc, {"format": "application/n-quads", **opts})


# --- literal canonical forms -------------------------------------------------

@pytest.mark.parametrize("value,expected", [
    (1.1, "1.1E0"),
    (1.0, "1.0E0"),  # float 1.0 typed as double via @type
    (5.5, "5.5E0"),
    (-2.5, "-2.5E0"),
    (0.000001, "1.0E-6"),
    (123456789.123, "1.23456789123E8"),
    (1e21, "1.0E21"),
    # toExponential(15) keeps 16 significant digits:
    (1.7976931348623157e308, "1.797693134862316E308"),
    (5e-324, "4.940656458412465E-324"),
    (10.0, "1.0E1"),
    (-0.0, "0.0E0"),
])
def test_double_canonical(value, expected):
    assert double_canonical(value) == expected


def test_number_typing():
    doc = {"@id": EX + "s",
           EX + "int": 42,
           EX + "dbl": 2.5,
           EX + "intfloat": {"@value": 3.0, "@type": XSD + "double"},
           EX + "bool": True}
    out = nq(doc)
    assert f'<{EX}s> <{EX}bool> "true"^^<{XSD}boolean> .' in out
    assert f'<{EX}s> <{EX}dbl> "2.5E0"^^<{XSD}double> .' in out
    assert f'<{EX}s> <{EX}int> "42"^^<{XSD}integer> .' in out
    assert f'<{EX}s> <{EX}intfloat> "3.0E0"^^<{XSD}double> .' in out


def test_whole_float_is_integer():
    # JSON 3.0 parses to float but is integer-valued -> xsd:integer
    out = nq({"@id": EX + "s", EX + "p": 3.0})
    assert f'"3"^^<{XSD}integer>' in out


def test_langstring():
    out = nq({"@id": EX + "s", EX + "p": {"@value": "hi", "@language": "EN"}})
    assert f'<{EX}s> <{EX}p> "hi"@en .' in out


def test_json_literal_jcs():
    out = nq({"@id": EX + "s",
              EX + "p": {"@value": {"b": 2, "a": "x", "n": 1.5}, "@type": "@json"}})
    assert '"{\\"a\\":\\"x\\",\\"b\\":2,\\"n\\":1.5}"'
    assert ('<http://example.org/s> <http://example.org/p> '
            '"{\\"a\\":\\"x\\",\\"b\\":2,\\"n\\":1.5}"'
            '^^<http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON> .') in out


def test_nonfinite_and_overrange_numbers_match_reference():
    """r6 fuzz finds, each verified against the LIVE reference:
    toExponential falls back to Number::toString for non-finite
    doubles ("Infinity", not XSD-canonical "INF"); an integer beyond
    float64 range is Number-converted to Infinity (Python float()
    raises OverflowError instead — previously a task-killing crash);
    and the same over-range integer inside an @json value makes
    canonicalize throw 'NaN/Infinity not allowed' like the
    reference's, surfacing as ValueError, never OverflowError."""
    assert double_canonical(float("inf")) == "Infinity"
    assert double_canonical(float("-inf")) == "-Infinity"
    assert double_canonical(float("nan")) == "NaN"

    big = int("9" * 400)
    out = nq({"@id": EX + "s", EX + "p": {"@value": big}})
    assert f'<{EX}s> <{EX}p> "Infinity"^^<{XSD}double> .' in out
    out = nq({"@id": EX + "s", EX + "p": {"@value": -big}})
    assert f'<{EX}s> <{EX}p> "-Infinity"^^<{XSD}double> .' in out
    out = nq({"@id": EX + "s",
              EX + "p": {"@value": float("inf"), "@type": XSD + "double"}})
    assert f'<{EX}s> <{EX}p> "Infinity"^^<{XSD}double> .' in out

    with pytest.raises(ValueError, match="NaN/Infinity"):
        canonicalize(big)
    with pytest.raises(ValueError, match="NaN/Infinity"):
        canonicalize({"a": big})


def test_huge_numbers_from_text_degrade_like_reference():
    """End-to-end through the extraction boundary: JSON.parse-legal
    over-range numbers (1e999, a 400-digit integer) serialize as
    Infinity doubles exactly like the reference; an @json value
    holding one degrades to a per-document error row (the reference
    throws — our resilience contract converts that to an event)."""
    from jsonld_js_spark.operators.pipeline import turn_to_quads

    def vals(text):
        quads, events = turn_to_quads("c", 0, "user", text, None, None)
        got = [(q["object"]["value"], q["object"].get("datatype", {}).get("value"))
               for q in quads if q["predicate"]["value"] == "http://x#a"]
        return got, [e["code"] for e in events]

    ctx = '{"@context": {"@vocab": "http://x#"}, '
    assert vals(ctx + '"a": 1e999}') == (
        [("Infinity", XSD + "double")], [])
    assert vals(ctx + '"a": -1e999}') == (
        [("-Infinity", XSD + "double")], [])
    assert vals(ctx + '"a": ' + "9" * 400 + "}") == (
        [("Infinity", XSD + "double")], [])
    jdoc = ('{"@context": {"a": {"@id": "http://x#a", "@type": "@json"}}, '
            '"@id": "http://x#s", "a": ' + "9" * 400 + "}")
    got, codes = vals(jdoc)
    assert got == [] and codes == ["invalid JSON literal"]


def test_config_value_errors_propagate_at_extraction():
    """turn_to_quads turns content errors, such as RFC 8785's
    NaN/Infinity refusal (a NonFiniteNumberError; end to end:
    test_huge_numbers_from_text_degrade_like_reference), into an
    'invalid JSON literal' row; any other ValueError is configuration
    and must propagate, e.g. an unsupported messageDigestAlgorithm,
    which must not become a warning row per document."""
    from jsonld_js_spark.kernel.jcs import NonFiniteNumberError
    from jsonld_js_spark.operators.pipeline import turn_to_quads

    with pytest.raises(NonFiniteNumberError):
        canonicalize({"a": float("nan")})
    doc = '{"@id": "http://x#s", "http://x#p": {"http://x#q": "v"}}'
    with pytest.raises(ValueError, match="unsupported messageDigestAlgorithm"):
        turn_to_quads("c", 0, "user", doc, None, None, canonicalize=True,
                      options={"messageDigestAlgorithm": "md2"})


def test_unencodable_surrogates_degrade_at_extraction():
    """A lone UTF-16 surrogate from a JSON escape ("\\ud800" parses to
    a Python str no UTF codec encodes) is document content too: in an
    rdf:JSON key it breaks the JCS sort, in a canonicalized blank-node
    quad it breaks the digest. Both degrade to an 'invalid JSON
    literal' row with no quads, never an exception out of the task."""
    from jsonld_js_spark.operators.pipeline import turn_to_quads

    tool = '{"args": {"\\ud800": "x", "a": "y"}, "name": "t"}'
    quads, events = turn_to_quads("c", 0, "assistant", "hi", tool, None)
    assert quads == [] and [e["code"] for e in events] == ["invalid JSON literal"]

    doc = '{"@context": {"@vocab": "http://x#"}, "a": "\\ud800"}'
    quads, events = turn_to_quads("c", 0, "user", doc, None, None,
                                  canonicalize=True)
    assert quads == [] and [e["code"] for e in events] == ["invalid JSON literal"]


def test_jcs_empty_and_astral_keys_sort():
    """Found by the r6 tool-payload fuzz: _sort_key returned a bare []
    for the empty key (an `x and y` leftover), so a multi-key object
    containing "" raised TypeError inside sorted(). Reference
    (Object.keys().sort()) sorts "" first; astral keys sort by UTF-16
    code units (surrogates), not code points."""
    assert canonicalize({"a": 1, "": 2}) == '{"":2,"a":1}'
    # UTF-16 order: U+1D400 encodes as surrogates (0xD835 0xDC00) and
    # sorts BEFORE U+FF21 (0xFF21), the reverse of code-point order —
    # the exact divergence _sort_key exists to reproduce
    assert canonicalize({"Ａ": 2, "\U0001d400": 1}) == \
        '{"\U0001d400":1,"Ａ":2}'


def test_jcs_nan_rejected_and_nan_text_degrades_to_envelope():
    """The kernel's canonicalize throws on NaN/Infinity exactly like
    the reference's (RFC 8785), and texts carrying those tokens never
    parse as documents at the extraction boundary (JSON.parse
    strictness via parse_constant): they fall back to the envelope —
    same as the reference's loader and the hybrid's Jackson probe —
    instead of poisoning the rdf:JSON serializer mid-task. The
    ValueError catch in turn_to_quads stays as defense-in-depth for
    programmatic (non-text) kernel inputs."""
    import pytest

    from jsonld_js_spark.operators.pipeline import turn_to_quads

    with pytest.raises(ValueError):
        canonicalize({"a": float("nan")})
    with pytest.raises(ValueError):
        canonicalize(float("inf"))
    doc = ('{"@context": {"j": {"@id": "http://example.org/j", '
           '"@type": "@json"}}, "@id": "http://example.org/s", "j": NaN}')
    quads, events = turn_to_quads("c", 0, "user", doc, None, None)
    assert events == []
    # envelope triples, not the embedded doc's
    preds = {q["predicate"]["value"] for q in quads}
    assert "http://example.org/j" not in preds
    assert "https://example.org/vocab#text" in preds


def test_jcs_forms():
    assert canonicalize({"b": [1, True, None], "a": "ö"}) == '{"a":"ö","b":[1,true,null]}'
    assert canonicalize(1.5) == "1.5"
    assert canonicalize(1e21) == "1e+21"
    assert canonicalize(1e-7) == "1e-7"
    assert canonicalize(0.000001) == "0.000001"
    assert canonicalize(10.0) == "10"


def test_i18n_direction():
    out = nq({"@id": EX + "s",
              EX + "p": {"@value": "x", "@language": "ar", "@direction": "rtl"}},
             rdfDirection="i18n-datatype")
    assert '"x"^^<https://www.w3.org/ns/i18n#ar_rtl>' in out


def test_direction_dropped_without_mode():
    out = nq({"@id": EX + "s",
              EX + "p": {"@value": "x", "@language": "ar", "@direction": "rtl"}})
    assert '"x"@ar .' in out


# --- lists -------------------------------------------------------------------

def test_list_chain():
    out = nq({"@id": EX + "s", EX + "p": {"@list": ["a", "b"]}})
    lines = sorted(out.strip().split("\n"))
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    assert f'<{EX}s> <{EX}p> _:b0 .' in lines
    assert f'_:b0 <{rdf}first> "a" .' in lines
    assert f'_:b0 <{rdf}rest> _:b1 .' in lines
    assert f'_:b1 <{rdf}first> "b" .' in lines
    assert f'_:b1 <{rdf}rest> <{rdf}nil> .' in lines


def test_empty_list_is_nil():
    out = nq({"@id": EX + "s", EX + "p": {"@list": []}})
    assert "rdf-syntax-ns#nil> ." in out


# --- graphs, bnodes, relative IRIs -------------------------------------------

def test_named_graph():
    out = nq({"@id": EX + "g", "@graph": [{"@id": EX + "s", EX + "p": "v"}]})
    assert f'<{EX}s> <{EX}p> "v" <{EX}g> .' in out


def test_bnode_labels_deterministic():
    doc = [{EX + "p": "first"}, {EX + "q": "second"}]
    out = nq(doc)
    assert '_:b0 <http://example.org/p> "first" .' in out
    assert '_:b1 <http://example.org/q> "second" .' in out


def test_relative_iris_dropped():
    doc = {"@id": "relative-subject", EX + "p": "v"}
    assert nq(doc) == ""
    doc2 = {"@id": EX + "s", EX + "p": {"@id": "relative-object"}}
    assert nq(doc2) == ""


def test_bnode_predicate_skipped_unless_generalized():
    doc = {"@id": EX + "s", "_:p": "v"}
    assert nq(doc) == ""
    out = nq(doc, produceGeneralizedRdf=True)
    assert '_:b0 "v"' in out.replace(f"<{EX}s> ", "")


def test_type_to_rdf_type():
    out = nq({"@id": EX + "s", "@type": EX + "T"})
    assert (f'<{EX}s> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> '
            f'<{EX}T> .') in out


def test_string_escaping():
    out = nq({"@id": EX + "s", EX + "p": 'say "hi"\nline2\\end'})
    assert '"say \\"hi\\"\\nline2\\\\end"' in out


def test_shared_bnodes_within_doc():
    doc = {"@context": {"@vocab": EX},
           "p": [{"@id": "_:inner", "q": "x"}, {"@id": "_:inner"}]}
    out = nq(doc)
    # _:inner coalesces to one bnode label referenced twice
    assert out.count("_:b1") >= 2
