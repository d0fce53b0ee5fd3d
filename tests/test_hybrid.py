"""Hybrid (JVM fast path + kernel) extraction must match the pure
kernel path row-for-row on a corpus with embedded docs, tool turns,
nulls, and hostile strings."""

import datetime

import pytest

from jsonld_js_spark.operators.pipeline import (
    extract_triples,
    extract_triples_hybrid,
    triples_only,
)
from jsonld_js_spark.sources.transcripts import synthesize_transcripts


def _collect(df):
    return sorted(map(tuple, df.collect()))


def test_hybrid_matches_kernel_on_corpus(spark):
    tx = synthesize_transcripts(spark, 20, seed=42).cache()
    a = _collect(triples_only(extract_triples(tx)))
    b = _collect(triples_only(extract_triples_hybrid(tx)))
    assert a == b


def test_hybrid_matches_kernel_on_hostile_rows(spark):
    ts = datetime.datetime(2026, 1, 1, 12, 0, 7)
    ts_micro = datetime.datetime(2026, 1, 1, 12, 0, 7, 123456)
    rows = [
        ("c", 0, "assistant", '{"@context": {broken', None, ts),
        ("c", 1, "user", None, None, ts),
        ("c", 2, "user", 'quote " nl \n bs \\ end', None, ts_micro),
        ("c", 3, "tool", "r", '{"name":"x","args":{"q":1}}', ts),
        ("c", 4, None, "plain", None, None),
        ("c", 5, "user", "", None, ts),
        # NaN/Infinity tokens: Python json.loads accepts them, the
        # reference's JSON.parse and the JVM Jackson probe do not —
        # both paths must agree these are NOT documents (r6 fix:
        # parse_constant strictness in turn_to_quads)
        ("c", 6, "user", '{"@id": "http://example.org/s", "a": NaN}',
         None, ts),
        ("c", 7, "user", '{"@id": "http://example.org/s", "a": Infinity}',
         None, ts),
        ("c", 8, "tool", "r", '{"args": {"q": NaN}, "name": "x"}', ts),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = _collect(triples_only(extract_triples(df)))
    b = _collect(triples_only(extract_triples_hybrid(df)))
    assert a == b


def test_hybrid_matches_kernel_on_tool_payload_battery(spark):
    """The JVM tool fast path (r6) may only accept payloads whose
    kernel output it reproduces byte-for-byte; everything outside the
    grammar must still route to the kernel. Both halves are parity —
    this battery mixes routable and unroutable payloads."""
    ts = datetime.datetime(2026, 1, 1, 12, 0, 7)
    payloads = [
        # routable: json.dumps(sort_keys=True) flat safe-string form
        '{"args": {"q": "query41"}, "name": "browser"}',
        '{"args": {}, "name": "noargs"}',
        '{"args": {"a": "x", "b": "y z"}, "name": "two.args"}',
        '{"args": {"k": "punct !#$%&\'()*+,-./:;<=>?@[]^_`|~"}, "name": "p-1"}',
        '{"args": {"": "empty key"}, "name": "ek"}',
        # unroutable: must fall back to the kernel (each exercises one
        # grammar exit)
        '{"args": {"q": 1}, "name": "int-arg"}',
        '{"args": {"q": true}, "name": "bool-arg"}',
        '{"args": {"q": null}, "name": "null-arg"}',
        '{"args": {"q": {"nested": "x"}}, "name": "nested"}',
        '{"args": {"q": ["x"]}, "name": "array-arg"}',
        '{"args": {"q": "esc \\" quote"}, "name": "escaped"}',
        '{"args": {"q": "back \\\\ slash"}, "name": "bslash"}',
        '{"args": {"q": "unicode ü"}, "name": "nonascii"}',
        # routable after all: the grammar checks neither key order nor
        # uniqueness, and the JVM branch reproduces these two with
        # array_sort and the exists-later filter
        '{"args": {"b": "x", "a": "y"}, "name": "unsorted"}',
        '{"args": {"a": "x", "a": "y"}, "name": "dupkey"}',
        # unroutable again
        '{"name": "argsless"}',
        '{"args": {"q": "x"}}',
        '{"args":{"q":"x"},"name":"tight-spacing"}',
        '{"name": "reversed", "args": {"q": "x"}}',
        '{"args": {"q": "x"}, "name": "bad name!"}',
        'not json at all',
        '{"args": {"q": "x"}, "name": "trailing"} ',
    ]
    rows = [("c", i, "tool", f"tool result {i}", p, ts)
            for i, p in enumerate(payloads)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = _collect(triples_only(extract_triples(df)))
    b = _collect(triples_only(extract_triples_hybrid(df)))
    assert a == b


def test_hybrid_matches_kernel_across_nesting_depth_band(spark):
    """The two routing parsers have different depth ceilings (Jackson
    rejects nesting > 1000; Python's scanner fails near the recursion
    limit, ~994 measured). Parity must hold at EVERY depth: when only
    Jackson parses, the row still routes to the kernel whose re-parse
    fails to the envelope; when neither parses, both sides take the
    envelope. Probed across the band — this pins it."""
    def deep_doc(n):
        return '{"@id": "http://x#s", "a": ' + "[" * n + "1" + "]" * n + "}"

    depths = [200, 900, 990, 995, 1000, 1100, 2000]
    rows = [("c", i, "user", deep_doc(n), None, None)
            for i, n in enumerate(depths)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = sorted(map(tuple, extract_triples(df).collect()))
    b = sorted(map(tuple, extract_triples_hybrid(df).collect()))
    assert a == b


def test_hybrid_matches_kernel_at_jackson_size_limits(spark):
    """Jackson's StreamReadConstraints (numbers <= 1000 digits, member
    names <= 50,000 chars — boundaries probed through get_json_object
    on this Spark build) are mirrored by the kernel-side BIG decoder,
    so texts on either side of each boundary take the same path on
    both routes. Each boundary is tested one-below/one-above."""
    ctx = '{"@context": {"@vocab": "http://x#"}, "@id": "http://x#s", '
    texts = [
        ctx + '"a": ' + "9" * 1000 + "}",     # parses both -> Infinity
        ctx + '"a": ' + "9" * 1001 + "}",     # envelope both
        ctx + '"a": 0.' + "9" * 1000 + "}",   # digits 1001 -> envelope
        ctx + '"a": -' + "9" * 1000 + ".5e5}",  # 1005 digits -> envelope
        ctx + '"' + "k" * 50_000 + '": 1}',   # parses both
        ctx + '"' + "k" * 50_001 + '": 1}',   # envelope both
    ]
    rows = [("c", i, "user", t, None, None) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = sorted(map(tuple, extract_triples(df).collect()))
    b = sorted(map(tuple, extract_triples_hybrid(df).collect()))
    assert a == b
    # and the limits must not fire below the boundary: the 1000-digit
    # doc must actually have parsed as a DOC (Infinity double triple)
    assert any(r[5] == "http://x#a" and r[7] == "Infinity" for r in a)


def test_big_decoder_mirrors_jackson_string_limit():
    """Decoder-level: object-member string values past Jackson's
    ~20M-char cap are refused by the BIG decoder (array elements are
    the documented remaining gap — they need a >20 MB text cell)."""
    import pytest

    from jsonld_js_spark.operators.pipeline import (
        _JK_MAX_STRING, _STRICT_JSON_BIG)

    ok = '{"a": "' + "x" * 1000 + '"}'
    assert _STRICT_JSON_BIG.decode(ok)["a"] == "x" * 1000
    with pytest.raises(ValueError):
        _STRICT_JSON_BIG.decode('{"a": "' + "x" * (_JK_MAX_STRING + 1) + '"}')


def test_hybrid_matches_kernel_on_tool_payload_fuzz(spark):
    """Deterministic fuzz over the tool-payload grammar BOUNDARY:
    random flat/nested/typed payloads in random serialization styles,
    random safe/unsafe characters. Whatever side of the routing rlike
    each lands on, hybrid output must equal the pure kernel's. Also
    asserts a healthy fraction actually routes to the JVM so the
    grammar cannot silently rot into rejecting everything."""
    import json as _json
    import random

    from pyspark.sql import functions as F

    from jsonld_js_spark.operators.pipeline import _tool_fast_cols

    rng = random.Random(7)
    safe = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 _.:/+@!#$%&'()*,-;<=>?^`|~[]"
    unsafe = '"\\{}\n\t\x00üλ😀'

    def rand_str(pool, lo=0, hi=12):
        return "".join(rng.choice(pool) for _ in range(rng.randint(lo, hi)))

    def rand_value(depth=0):
        r = rng.random()
        if r < 0.55:
            pool = safe if rng.random() < 0.8 else safe + unsafe
            return rand_str(pool)
        if r < 0.70:
            return rng.choice([0, 1, -3, 2.5, 1e30, True, False, None])
        if r < 0.85 and depth < 2:
            return {rand_str(safe, 1, 5): rand_value(depth + 1)
                    for _ in range(rng.randint(0, 2))}
        return [rand_value(depth + 1) for _ in range(rng.randint(0, 2))]

    payloads = []
    for i in range(300):
        style = rng.random()
        if style < 0.1:
            payloads.append(rand_str(safe + unsafe, 0, 30))  # raw garbage
            continue
        obj = {}
        if rng.random() < 0.9:
            nkeys = rng.randint(0, 3)
            pool = safe if rng.random() < 0.8 else safe + unsafe
            obj["args"] = {rand_str(pool, 0, 8):
                           (rand_str(pool) if rng.random() < 0.8
                            else rand_value())
                           for _ in range(nkeys)}
        if rng.random() < 0.9:
            obj["name"] = (rand_str("abcdefghij0123456789_.-", 1, 8)
                           if rng.random() < 0.7 else rand_str(safe, 0, 8))
        kwargs = rng.choice([
            {"sort_keys": True},
            {},
            {"sort_keys": True, "separators": (",", ":")},
            {"sort_keys": True, "indent": 1},
        ])
        try:
            payloads.append(_json.dumps(obj, **kwargs))
        except (TypeError, ValueError):
            continue

    rows = [("c", i, "tool", f"t{i}", p, None) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = _collect(triples_only(extract_triples(df)))
    b = _collect(triples_only(extract_triples_hybrid(df)))
    assert a == b
    tool_simple, _, _ = _tool_fast_cols()
    n_routed = df.filter(F.col("tool").isNotNull() & tool_simple).count()
    assert n_routed >= 20, f"grammar rejects nearly everything ({n_routed})"


def test_hybrid_tool_fast_path_fires(spark):
    """Routing must actually send JCS-safe tool turns down the JVM
    branch — a silently dead fast path would still pass parity. The
    kernel side of the hybrid must see only the embedded-doc turns."""
    from pyspark.sql import functions as F

    from jsonld_js_spark.operators.pipeline import _is_doc_col, _tool_fast_cols

    tx = synthesize_transcripts(spark, 50, seed=42).cache()
    tool_simple, _, _ = _tool_fast_cols()
    needs_kernel = _is_doc_col() | (F.col("tool").isNotNull() & ~tool_simple)
    n_kernel = tx.filter(needs_kernel).count()
    n_doc = tx.filter(_is_doc_col()).count()
    n_tool = tx.filter(F.col("tool").isNotNull()).count()
    assert n_tool > 0
    # every synthesized tool payload is flat {str: str} -> all routable
    assert n_kernel == n_doc
    tx.unpersist()


def test_hybrid_plain_path_has_no_python_stage(spark):
    """The plan for plain turns must not contain a Python/Arrow eval
    node — that's the point of the fast path."""
    import datetime
    tx = spark.createDataFrame(
        [("c", 0, "user", "plain text", None, datetime.datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    from jsonld_js_spark.operators.pipeline import _envelope_triples_jvm
    plan = _envelope_triples_jvm(tx)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "*(" in plan  # whole-stage-codegen stages print as *(N)


def test_lone_surrogate_value_degrades_to_a_warning_row(spark):
    """A JSON escape of a lone UTF-16 surrogate ("\\ud800") parses into
    a str that no UTF codec encodes. Emitted as a literal value it used
    to fail the pandas->Arrow conversion, and with it the job, on both
    paths. The document now degrades to one 'invalid JSON literal'
    row, and the other turns of its Arrow batch keep their triples."""
    ts = datetime.datetime(2026, 1, 1, 12, 0, 7)
    rows = [
        ("c", 0, "user", "plain before", None, ts),
        ("c", 1, "user", '{"@id": "http://x/a", "http://x/p": "\\ud800"}',
         None, ts),
        ("c", 2, "user", '{"@id": "http://x/b", "http://x/p": "ok \\u00e9"}',
         None, ts),
        ("c", 3, "user", '{"@id": "http://x/c", "http://x/p": "fine"}',
         None, ts),
        ("c", 4, "user", "plain after", None, ts),
    ]
    # one partition: the kernel turns share one Arrow batch
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").coalesce(1)
    a = _collect(extract_triples(df))
    b = _collect(extract_triples_hybrid(df))
    assert a == b
    warnings = [(r[1], r[7]) for r in a if r[2] == "warning"]
    assert warnings == [(1, "invalid JSON literal")]
    by_turn = {}
    for r in a:
        if r[2] == "triple":
            by_turn.setdefault(r[1], []).append(r[7])
    assert sorted(by_turn) == [0, 2, 3, 4]
    assert by_turn[2] == ["ok é"] and by_turn[3] == ["fine"]


def test_hybrid_plan_build_py4j_round_trips(spark):
    """The JVM branch is Spark SQL text, parsed in one call per piece;
    built node by node with Column builders it cost ~2,400 py4j round
    trips per plan. Counts the gateway client's commands while the
    plan is built (no timing involved)."""
    import gc

    tx = spark.createDataFrame(
        [("c", 0, "user", "plain text", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    extract_triples_hybrid(tx)  # first build: lazy imports, warm caches
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    gc.collect()  # pending py4j object releases are commands too
    client.send_command = counting
    try:
        extract_triples_hybrid(tx)
    finally:
        del client.send_command
    assert 0 < len(calls) <= 300, f"{len(calls)} py4j round trips"
