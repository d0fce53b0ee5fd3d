"""The flagship pipeline: transcripts -> triples, fused in ONE Arrow stage.

Stage plan (SURVEY §3.1):
  stage 1 (narrow, no shuffle): read transcripts -> mapInPandas running
    parse -> context -> expand -> nodeMap -> toRDF (and optionally
    RDFC-1.0 canonicalization) per turn, entirely inside Arrow batches;
  stage 2 (the only shuffle): repartition by subject hash, dedupe,
    write.

The reference materializes each intermediate representation
(lib/jsonld.js:697 -> lib/toRdf.js:53); we never do — Python<->JVM
crossings dominate at scale, so the whole per-document path is one
generator over Arrow record batches (SURVEY §4 item 1).

Blank-node labels are salted per turn (`_:b<hash(conv,turn)>-<n>`) so
labels are dataset-unique without any cross-document coordination —
the reference's own multi-document strategy (lib/jsonld.js:804-808).
"""

from __future__ import annotations

import hashlib
import json
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.api import expand as k_expand
from ..kernel.canon import PoisonedDatasetError, canonical_id_map, relabel_quads
from ..kernel.errors import JsonLdError
from ..kernel.jcs import NonFiniteNumberError
from ..kernel.nodemap import IdentifierIssuer
from ..kernel.tordf import quads_to_rows, to_rdf as k_to_rdf
from ..sources.transcripts import TOOL_CONTEXT, TRANSCRIPT_CONTEXT, turn_subject

TRIPLE_SCHEMA = (
    "conv_id string, turn_idx int, kind string, graph string, subj string, "
    "pred string, obj_kind string, obj_value string, obj_datatype string, "
    "obj_lang string"
)

V = "https://example.org/vocab#"


def _doc_salt(conv_id: str, turn_idx: int) -> str:
    """Collision-free per-turn blank-node salt.

    The turn index is embedded structurally (two turns of one
    conversation can never collide) and the conversation component is
    the FULL sha256 digest, so a cross-conversation collision requires
    a sha256 collision — negligible at 10^12 turns (a truncated 40-bit
    salt collides with ~2% probability at just 200k documents)."""
    return f"{hashlib.sha256(conv_id.encode()).hexdigest()}-{turn_idx}"


def _reject_json_constant(tok: str):
    """JSON.parse strictness for document/tool text: Python's
    json.loads accepts NaN/Infinity/-Infinity, the reference's
    JSON.parse (and the JVM routing probe's Jackson) do not. Texts
    carrying those tokens must not parse as documents here either —
    they fall back to the envelope / toolRaw exactly like any other
    invalid JSON, keeping the kernel path, the hybrid JVM routing, and
    the reference in three-way agreement (probe: tests/test_hybrid.py)."""
    raise ValueError(f"non-standard JSON token {tok!r}")


# module-level: json.loads() with a parse hook constructs a fresh
# JSONDecoder per call; this is the per-turn hot path
_STRICT_JSON = json.JSONDecoder(parse_constant=_reject_json_constant)

# Jackson's StreamReadConstraints in this Spark build (probed through
# get_json_object, boundaries pinned by tests/test_hybrid.py): a JSON
# number may carry at most 1000 digits (sign/dot/'e' excluded, integer
# + fraction + exponent digits all counted), an object member name at
# most 50,000 chars, a string value at most ~20,000,000 chars. Python's
# parser has none of these limits, so a text over a limit would parse
# as a document on the kernel path while the hybrid's JVM probe routes
# it to the envelope — the same asymmetry class as the NaN tokens
# above. The BIG decoder mirrors the number and name limits exactly
# (and string values in object members); the one remaining gap — a
# >20M-char string as an ARRAY element — needs a >20 MB text cell and
# is documented rather than mirrored (stock json has no array hook).
_JK_MAX_NUM_DIGITS = 1000
_JK_MAX_NAME = 50_000
_JK_MAX_STRING = 20_000_000


def _jk_num(ctor):
    def convert(s: str):
        if len(s) > _JK_MAX_NUM_DIGITS and \
                sum(c.isdigit() for c in s) > _JK_MAX_NUM_DIGITS:
            raise ValueError("JSON number exceeds the probe's digit limit")
        return ctor(s)
    return convert


def _jk_pairs(pairs):
    for k, v in pairs:
        if len(k) > _JK_MAX_NAME:
            raise ValueError("JSON member name exceeds the probe's limit")
        if isinstance(v, str) and len(v) > _JK_MAX_STRING:
            raise ValueError("JSON string exceeds the probe's limit")
    return dict(pairs)


_STRICT_JSON_BIG = json.JSONDecoder(
    parse_constant=_reject_json_constant,
    parse_int=_jk_num(int), parse_float=_jk_num(float),
    object_pairs_hook=_jk_pairs)


def _parse_doc_text(text: str):
    """Strict-JSON parse of document/tool text with Jackson-equivalent
    limits. A text of <= 1000 chars cannot violate any mirrored limit,
    so the common case keeps the stock C-speed number/object paths."""
    return (_STRICT_JSON_BIG if len(text) > 1000 else _STRICT_JSON).decode(text)


def looks_like_jsonld(text: str) -> bool:
    if not text:
        return False
    t = text.lstrip()
    return t[:1] in "{[" and ("@context" in t or "@id" in t or "@graph" in t
                              or "@type" in t or '"@value"' in t)


def envelope_doc(conv_id: str, turn_idx: int, role: str, text: str,
                 tool: str | None, ts) -> dict:
    """Turn metadata as a JSON-LD document under TRANSCRIPT_CONTEXT.

    Carries the text literal unchanged -> per-turn text equality under
    (conv_id, turn_idx) ordering (BASELINE.json input_hint invariant).
    """
    doc = {
        "@context": TRANSCRIPT_CONTEXT,
        "@id": turn_subject(conv_id, turn_idx),
        "@type": "Turn",
        "conv": f"https://example.org/conv/{conv_id}",
        "turnIndex": turn_idx,
        "role": role,
        "text": text if text is not None else "",
    }
    # null timestamps arrive as pandas NaT inside Arrow batches (NaT != NaT)
    if ts is not None and ts == ts:
        doc["ts"] = ts.isoformat() if hasattr(ts, "isoformat") else str(ts)
    if role is None:
        del doc["role"]
    if tool:
        try:
            payload = _parse_doc_text(tool)
            name = payload.get("name", "unknown")
            doc["invokes"] = f"https://example.org/tool/{name}"
            if "args" in payload:
                doc["toolArgs"] = {"@value": payload["args"], "@type": "@json"}
        except (ValueError, AttributeError):
            doc["toolRaw"] = tool
    return doc


def turn_to_quads(conv_id: str, turn_idx: int, role: str, text: str,
                  tool: str | None, ts, *, canonicalize: bool = False,
                  mode: str = "auto", options: dict | None = None):
    """One turn -> (quads, events). Pure function; used by the Arrow
    stage AND by driver-side tests (same kernel both places)."""
    events: list[dict] = []
    opts = {**(options or {}), "events": events}
    salt = _doc_salt(conv_id, turn_idx)

    if mode in ("auto", "docs-only") and looks_like_jsonld(text):
        try:
            doc = _parse_doc_text(text)
        except ValueError:
            doc = None
        except RecursionError:
            # a structurally-too-deep text is as unparseable as invalid
            # JSON: fall back to the envelope doc, never the executor
            doc = None
    else:
        doc = None
    if doc is None:
        if mode == "docs-only":
            return [], events
        doc = envelope_doc(conv_id, turn_idx, role, text, tool, ts)

    try:
        expanded = k_expand(doc, opts)
        issuer = IdentifierIssuer(f"_:b{salt}-")
        quads = k_to_rdf(expanded, {**opts, "issuer": issuer})
        if canonicalize:
            try:
                id_map = canonical_id_map(
                    quads, max_work_factor=opts.get("maxWorkFactor", 3),
                    message_digest_algorithm=opts.get(
                        "messageDigestAlgorithm", "sha256"))
            except PoisonedDatasetError as e:
                events.append({"code": "canonicalization work factor exceeded",
                               "level": "warning", "message": str(e)})
                return [], events
            # namespace canonical labels per document (SURVEY §2.9)
            quads = relabel_quads(
                quads, {old: f"c14n-{salt}-{new[4:]}" for old, new in id_map.items()})
        if "\\u" in (text or "") or "\\u" in (tool or ""):
            # a lone UTF-16 surrogate from a JSON escape ("\ud800")
            # survives parsing and the kernel, but no UTF codec encodes
            # it, so the Arrow stage would fail the task on an emitted
            # value holding one. Only a \u escape can make one (strings
            # from Arrow are valid UTF-8): other turns skip the check.
            json.dumps(quads, ensure_ascii=False).encode("utf-8")
    except JsonLdError as e:
        events.append({"code": e.code or e.name, "level": "error",
                       "message": e.message})
        return [], events
    except RecursionError:
        # the 100-TB failure mode's sibling to the canonize work
        # factor: ONE pathologically deep document (a parsed JSON tree
        # deeper than the interpreter stack) must degrade to a
        # per-document warning, not kill the task (and, after retries,
        # the job). The reference crashes outright here (RangeError:
        # call stack) — resilience is engine-side by design.
        events.append({"code": "document depth exceeded",
                       "level": "error",
                       "message": "document nesting exceeds the "
                                  "processing depth limit"})
        return [], events
    except (NonFiniteNumberError, UnicodeError) as e:
        # same resilience contract for document content the kernel
        # cannot encode: NaN/Infinity in an rdf:JSON literal (an
        # over-range number Number-converts to Infinity; the
        # reference's canonicalize throws identically), or a lone
        # UTF-16 surrogate from a JSON escape in an rdf:JSON key (JCS
        # sort), a canonicalized literal (digest input) or any emitted
        # value (the check above), degrades to a per-document error
        # row, not a task-kill-retry storm. Any other ValueError here
        # is configuration (e.g. an unsupported messageDigestAlgorithm)
        # and must fail the job loudly.
        events.append({"code": "invalid JSON literal",
                       "level": "error", "message": str(e)})
        return [], events
    return quads, events


def extract_triples(transcripts: DataFrame, *, canonicalize: bool = False,
                    mode: str = "auto", context_loader: dict | None = None,
                    options: dict | None = None) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> long
    rows DataFrame (TRIPLE_SCHEMA): kind='triple' rows carry the quad
    columns; kind='warning' rows carry (obj_value=code,
    obj_datatype=message) — the warnings column of SURVEY §2.10 in
    long form, filterable without a second pass.
    """
    import pandas as pd

    # captured by ``run``, so it ships in the pickled command: PySpark
    # broadcasts a command over 1 MB by itself, and a broadcast per
    # call would cost a JVM round trip and a temp file on every plan
    # build (turn_to_quads copies the dict, so tasks may share it)
    opts = dict(options or {})
    if context_loader:
        opts["context_loader"] = context_loader

    cols = ("conv_id", "turn_idx", "kind", "graph", "subj", "pred",
            "obj_kind", "obj_value", "obj_datatype", "obj_lang")

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            # column-wise accumulation: building pandas from 10 flat
            # lists is ~5x cheaper than from a list of row tuples, and
            # this allocation is the per-batch hot path
            out: tuple[list, ...] = tuple([] for _ in cols)
            (c_conv, c_turn, c_kind, c_graph, c_subj, c_pred,
             c_okind, c_oval, c_odt, c_olang) = out
            for conv_id, turn_idx, role, text, tool, ts in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["role"],
                    pdf["text"], pdf["tool"], pdf["ts"]):
                turn_idx = int(turn_idx)
                quads, events = turn_to_quads(
                    conv_id, turn_idx, role, text, tool, ts,
                    canonicalize=canonicalize, mode=mode, options=opts)
                for graph, subj, pred, okind, oval, odt, olang in quads_to_rows(quads):
                    c_conv.append(conv_id)
                    c_turn.append(turn_idx)
                    c_kind.append("triple")
                    c_graph.append(graph)
                    c_subj.append(subj)
                    c_pred.append(pred)
                    c_okind.append(okind)
                    c_oval.append(oval)
                    c_odt.append(odt)
                    c_olang.append(olang)
                for e in events:
                    c_conv.append(conv_id)
                    c_turn.append(turn_idx)
                    c_kind.append("warning")
                    c_graph.append(None)
                    c_subj.append(None)
                    c_pred.append(None)
                    c_okind.append(None)
                    c_oval.append(e["code"])
                    c_odt.append(e.get("message"))
                    c_olang.append(None)
            yield pd.DataFrame(dict(zip(cols, out)))

    return transcripts.mapInPandas(run, schema=TRIPLE_SCHEMA)


_XSD = "http://www.w3.org/2001/XMLSchema#"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_RDF_JSON = "http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON"

# The hybrid's JVM branch is Spark SQL text: the JVM parses each piece
# in one call. Column builders would cost one py4j round trip per node
# (~2,400 per plan, 330-450 ms of driver time per build, measured by
# scripts/probe_plan_build.py). Regexes sit in raw literals (r'...'),
# so they read exactly as Java's regex engine sees them.

# JVM twin of looks_like_jsonld(): shape check + Jackson parse probe
_JSONLD_SHAPE = r'^\s*[\[{]'
_IS_DOC_SQL = f"""text IS NOT NULL
    AND (text RLIKE r'{_JSONLD_SHAPE}'
         AND (contains(text, '@context') OR contains(text, '@id')
              OR contains(text, '@graph') OR contains(text, '@type')
              OR contains(text, '"@value"')))
    AND get_json_object(text, '$') IS NOT NULL"""

# JCS-safe flat tool payload: the textual layout
# json.dumps({"name": ..., "args": {...}}, sort_keys=True) emits for a
# flat string->string args object, restricted to characters that
# serialize identically under JSON and RFC 8785 (printable ASCII minus
# '"', '\\', '{', '}').  The grammar does not check the order or the
# uniqueness of the args keys: unsorted and duplicate-key payloads
# match it too, and _TOOL_JCS_SQL reproduces them (array_sort and the
# exists-later filter).  For a payload matching this grammar the
# kernel's expand->toRDF output is exactly two extra triples beyond the
# envelope — the invokes IRI and an rdf:JSON literal whose value is the
# JCS of args — both reproducible in pure column algebra.  Anything
# else (numbers, booleans, nesting, escapes, non-ASCII, other
# spacings, a missing member) still routes to the Python kernel, so
# the fast path can never diverge: it only accepts inputs whose kernel
# output it provably reproduces byte-for-byte (parity battery:
# tests/test_hybrid.py).  The routing gate is this ONE anchored rlike:
# filter conditions get no common-subexpression elimination, so every
# extra term would re-run its regexes per row per branch. The heavier
# work (extraction, duplicate-key last-wins, JCS member sort) lives
# only in the projection that emits the triples.  The grammar holds no
# "'", so it embeds in a SQL raw literal as is.
_TOOL_SAFE = r' !#-\[\]-z|~'
_TOOL_SIMPLE_RE = (
    r'^\{"args": \{(("[%(c)s]*": "[%(c)s]*")(, "[%(c)s]*": "[%(c)s]*")*)?\}, '
    r'"name": "[A-Za-z0-9_.-]+"\}$' % {"c": _TOOL_SAFE})
_TOOL_SIMPLE_SQL = f"tool RLIKE r'{_TOOL_SIMPLE_RE}'"
_TOOL_OK_SQL = f"tool IS NOT NULL AND {_TOOL_SIMPLE_SQL}"
_NEEDS_KERNEL_SQL = (f"({_IS_DOC_SQL})\n"
                     f"OR (tool IS NOT NULL AND NOT ({_TOOL_SIMPLE_SQL}))")

# Within the grammar the only '"' characters are the string delimiters,
# so quote-delimited extraction is unambiguous: tokens followed by
# ': "' are keys, tokens preceded by ': ' are values.
_TOOL_ARGS_SQL = r"""regexp_extract(tool, r'^\{"args": (\{[^{}]*\}), "name"', 1)"""
_TOOL_NAME_SQL = r"""regexp_extract(tool, r', "name": "([A-Za-z0-9_.-]+)"\}$', 1)"""
# (k, v, i) of each args member, in payload order
_TOOL_MEMBERS_SQL = f"""transform(
    zip_with(regexp_extract_all({_TOOL_ARGS_SQL}, r'"([^"]*)": "', 1),
             regexp_extract_all({_TOOL_ARGS_SQL}, r'": "([^"]*)"', 1),
             (mk, mv) -> struct(mk AS k, mv AS v)),
    (m, mi) -> struct(m.k AS k, m.v AS v, mi AS i))"""
# json.loads keeps the LAST of duplicate keys and RFC 8785 sorts members
# by UTF-16 code units: mirrored by the exists-later filter and
# array_sort (binary order == code-unit order on the ASCII-only
# grammar), so ANY rlike-accepted payload, unsorted and duplicate-key
# ones included, is reproduced byte-for-byte
_TOOL_JCS_SQL = f"""concat('{{', concat_ws(',', transform(
    array_sort(filter({_TOOL_MEMBERS_SQL},
                      p -> NOT exists({_TOOL_MEMBERS_SQL},
                                      q -> q.k = p.k AND q.i > p.i))),
    p -> concat('"', p.k, '":"', p.v, '"'))), '}}')"""

_NULL_SQL = "CAST(NULL AS STRING)"
_SUBJ_SQL = "concat('https://example.org/conv/', conv_id, '/turn/', turn_idx)"
# python isoformat(): fractional part only when non-zero micros
_TS_ISO_SQL = """CASE WHEN date_format(ts, 'SSSSSS') = '000000'
    THEN date_format(ts, 'yyyy-MM-dd''T''HH:mm:ss')
    ELSE concat(date_format(ts, 'yyyy-MM-dd''T''HH:mm:ss'), '.',
                date_format(ts, 'SSSSSS')) END"""


def _triple_sql(pred: str, kind: str, value: str, datatype: str | None,
                guard: str | None = None) -> str:
    """One envelope triple as a TRIPLE_SCHEMA struct; NULL (dropped by
    array_compact) where ``guard`` is false."""
    dt = f"'{datatype}'" if datatype else _NULL_SQL
    row = (f"struct('' AS graph, {_SUBJ_SQL} AS subj, '{pred}' AS pred, "
           f"'{kind}' AS obj_kind, {value} AS obj_value, "
           f"{dt} AS obj_datatype, {_NULL_SQL} AS obj_lang)")
    return f"CASE WHEN {guard} THEN {row} END" if guard else row


_ENVELOPE_SQL = "explode(array_compact(array(\n{}))) AS r".format(",\n".join((
    _triple_sql(_RDF_TYPE, "iri", f"'{V}Turn'", None),
    _triple_sql(V + "conversation", "iri",
                "concat('https://example.org/conv/', conv_id)", None),
    _triple_sql(V + "role", "literal", "role", _XSD + "string",
                guard="role IS NOT NULL"),
    _triple_sql(V + "text", "literal", "coalesce(text, '')", _XSD + "string"),
    _triple_sql(V + "turnIndex", "literal", "CAST(turn_idx AS STRING)",
                _XSD + "integer"),
    _triple_sql(V + "ts", "literal", _TS_ISO_SQL, _XSD + "dateTime",
                guard="ts IS NOT NULL"),
    # the tool fast path (routing guarantees any tool payload that
    # reaches this branch satisfies _TOOL_SIMPLE_RE; the guard is kept
    # so the operator is safe standalone)
    _triple_sql(V + "invokes", "iri",
                f"concat('https://example.org/tool/', {_TOOL_NAME_SQL})",
                None, guard=_TOOL_OK_SQL),
    _triple_sql(V + "toolArgs", "literal", _TOOL_JCS_SQL, _RDF_JSON,
                guard=_TOOL_OK_SQL),
)))


def _tool_fast_cols():
    """(simple?, name, jcs_of_args) Columns of the JVM tool fast path."""
    return (F.expr(_TOOL_SIMPLE_SQL), F.expr(_TOOL_NAME_SQL),
            F.expr(_TOOL_JCS_SQL))


def _is_doc_col():
    return F.expr(_IS_DOC_SQL)


def _envelope_triples_jvm(plain: DataFrame) -> DataFrame:
    """Envelope triples for plain turns as pure column algebra — stays
    inside whole-stage codegen, no Python worker at all. Byte-parity
    with the kernel path is asserted in tests/test_pipeline.py."""
    return (plain.selectExpr("conv_id", "turn_idx", _ENVELOPE_SQL)
            .selectExpr("conv_id", "turn_idx", "'triple' AS kind", "r.*"))


def extract_triples_hybrid(transcripts: DataFrame, *,
                           context_loader: dict | None = None,
                           options: dict | None = None) -> DataFrame:
    """The scale path: plain turns AND turns whose only complexity is a
    JCS-safe flat tool payload (the overwhelmingly common tool shape)
    emit their triples in the JVM; only JSON-LD-document turns and
    tool payloads outside the provable grammar cross into the Arrow
    kernel. Same output as ``extract_triples`` (parity-tested), but the
    common cases never leave whole-stage codegen."""
    needs_kernel = F.expr(_NEEDS_KERNEL_SQL)
    plain = transcripts.filter(~needs_kernel)
    # NOT repartitioned before the Arrow stage: an interleaved pinned
    # A/B measured the extra exchange+stage barrier at 0.89x (the
    # in-place sparse mapInPandas tasks overlap with the scan; the
    # exchange serializes them behind it) — see OPTIMIZATION_r06.md.
    complex_turns = transcripts.filter(needs_kernel)
    jvm_part = _envelope_triples_jvm(plain)
    kernel_part = extract_triples(complex_turns, context_loader=context_loader,
                                  options=options)
    return jvm_part.unionByName(kernel_part)


def triples_only(extracted: DataFrame) -> DataFrame:
    return extracted.filter(F.col("kind") == "triple").drop("kind")


def warnings_only(extracted: DataFrame) -> DataFrame:
    return (extracted.filter(F.col("kind") == "warning")
            .select("conv_id", "turn_idx",
                    F.col("obj_value").alias("code"),
                    F.col("obj_datatype").alias("message")))


def nquad_lines(triples: DataFrame) -> DataFrame:
    """Triples -> N-Quads lines — pure column expressions (JVM-side,
    whole-stage codegen; no Python in this path)."""
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    langstring = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

    def term(col):  # IRI or bnode
        return F.when(col.startswith("_:"), col).otherwise(
            F.concat(F.lit("<"), col, F.lit(">")))

    escaped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("obj_value"), r"\\", r"\\\\"),
                '"', r'\\"'),
            "\n", r"\\n"),
        "\r", r"\\r")
    literal = F.concat(
        F.lit('"'), escaped, F.lit('"'),
        F.when(F.col("obj_datatype") == langstring,
               F.concat(F.lit("@"), F.col("obj_lang")))
        .when(F.col("obj_datatype").isNotNull()
              & (F.col("obj_datatype") != xsd_string),
              F.concat(F.lit("^^<"), F.col("obj_datatype"), F.lit(">")))
        .otherwise(F.lit("")))
    obj = F.when(F.col("obj_kind") == "literal", literal).otherwise(
        term(F.col("obj_value")))
    graph_part = F.when(
        F.col("graph").isNull() | (F.col("graph") == ""), F.lit("")).otherwise(
        F.concat(F.lit(" "), term(F.col("graph"))))
    line = F.concat(term(F.col("subj")), F.lit(" "),
                    term(F.col("pred")), F.lit(" "),
                    obj, graph_part, F.lit(" ."))
    return triples.select(line.alias("nquad"))


def materialize_graph(triples: DataFrame, path: str, *, buckets: int = 64,
                      fmt: str = "parquet") -> None:
    """Write the triples table partitioned by subject-hash bucket.

    On a cluster with an Iceberg catalog use
    :func:`materialize_graph_iceberg` (``bucket(N, subj)`` hidden
    partitioning, the north_star layout); locally we materialize the
    same layout as a `subj_bucket` partition column over parquet so
    downstream graph queries prune + co-locate.
    """
    (triples
     .withColumn("subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(buckets)))
     .repartition(buckets, "subj_bucket")
     .sortWithinPartitions("subj", "pred")
     .write.mode("overwrite")
     .partitionBy("subj_bucket")
     .format(fmt)
     .save(path))


def materialize_graph_iceberg(triples: DataFrame, table: str, *,
                              buckets: int = 64,
                              mode: str = "createOrReplace") -> None:
    """Iceberg-native KG sink: ``bucket(N, subj)`` hidden partitioning
    with snapshot isolation — the cluster-side twin of
    :func:`materialize_graph`.

    ``table`` is a catalog-qualified name (``catalog.db.triples``); the
    session must carry an Iceberg catalog config
    (``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``
    + the iceberg-spark-runtime jar). Raises a RuntimeError naming the
    missing prerequisite when no such catalog is reachable — this
    sandbox has no Iceberg jars, so only the error path is testable
    here; the DataFrame-side plan (bucket repartition + local sort) is
    identical to the parquet twin and is covered by its tests.
    """
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.utils import AnalysisException

    writer = (triples
              .repartition(buckets, F.expr(f"xxhash64(subj) % {buckets}"))
              .sortWithinPartitions("subj", "pred")
              .writeTo(table)
              .partitionedBy(F.bucket(buckets, F.col("subj")))
              .using("iceberg"))
    try:
        if mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
    except (AnalysisException, Py4JJavaError) as e:
        raise RuntimeError(
            f"Iceberg sink unavailable for table {table!r}: configure an "
            f"Iceberg catalog (spark.sql.catalog.*) and ship "
            f"iceberg-spark-runtime on the cluster classpath. "
            f"Underlying error: {e}") from e
