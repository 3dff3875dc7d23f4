"""Physical-plan quality gates: pushdown, nested-schema pruning, codegen.

These pin the properties that make the engine scale (SURVEY.md §4): filters
reach the parquet scan, projections prune nested span fields, and the fused
verdict plan stays inside whole-stage codegen with no Python in the loop.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from json_schema_lean_spark.plans import validate_documents_fused
from json_schema_lean_spark.sources.spansgen import SPAN_SCHEMA, spans_documents


def explain_str(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def spans_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "spans")
    spans_documents(spark, 500).write.parquet(path)
    return path


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = explain_str(li.where(F.col("l_quantity") > 10).select("l_orderkey"))
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan
    # column pruning: only the two referenced columns in ReadSchema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_fused_plan_is_codegen_and_python_free(spark, spans_path):
    spans = spark.read.parquet(spans_path)
    out = validate_documents_fused(spans, SPAN_SCHEMA, keep_cols=["doc_id"],
                                   with_violations=False)
    plan = explain_str(out)
    assert "[codegen id" in plan  # scan + ColumnarToRow stay codegen'd
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker
    # zero exchanges: verdict mode is a pure projection
    assert "Exchange" not in plan
    # r6 regression guard: ZERO lambdas — every SPAN_SCHEMA clause lowers
    # to codegen'd array algebra now (the required-kind null filter is
    # subsumed by the enum array_except over the raw field array, and the
    # pattern clause is the array_min/array_max string-range check instead
    # of the newline-join scaffold). HOF lambdas never whole-stage-codegen,
    # so any lambda reappearing here is an interpreted per-row pass.
    import re
    lams = re.findall(r"lambdafunction\((\w+)", plan)
    assert lams == [], lams


def test_fused_verdict_counts_stable(spark, spans_path):
    spans = spark.read.parquet(spans_path)
    out = validate_documents_fused(spans, SPAN_SCHEMA, keep_cols=["doc_id"],
                                   with_violations=False)
    a = out.where("valid").count()
    b = out.where("valid").count()
    assert a == b > 0


def test_explode_plan_partial_aggregation(spark, spans_path):
    """The explode strategy's shuffle must be preceded by a partial
    (map-side) aggregation so only per-doc partials move."""
    from json_schema_lean_spark.operators.validation import (
        validate_documents_exploded,
    )
    spans = spark.read.parquet(spans_path)
    out = validate_documents_exploded(spans, SPAN_SCHEMA)
    plan = explain_str(out, "simple")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_fused_length_widening_matches_interpreter(spark):
    """r2 widening: minLength>1 / maxLength fuse via the newline-join regex
    trick. Pin verdict equality with the interpreter across the tricky
    inputs: astral-plane code points, embedded newlines (slow branch),
    empty strings, nulls/absent."""
    from json_schema_lean_spark.interpreter import CompiledValidator
    from json_schema_lean_spark.plans.fused import validate_documents_fused

    schema = {
        "type": "object",
        "properties": {
            "doc_id": {"type": "string"},
            "spans": {"type": "array", "items": {
                "type": ["object", "null"],
                "properties": {"text": {"minLength": 2, "maxLength": 4}},
            }},
        },
    }
    rows = [
        ("ok", [("t", "ab", None, 0), ("t", "abcd", None, 1)]),
        ("short", [("t", "a", None, 0)]),
        ("long", [("t", "abcde", None, 0)]),
        ("empty", [("t", "", None, 0)]),
        ("astral2", [("t", "\U0001F4A9\U0001F4A9", None, 0)]),   # 2 cps: ok
        ("astral1", [("t", "\U0001F4A9", None, 0)]),             # 1 cp: short
        ("astral5", [("t", "\U0001F4A9" * 5, None, 0)]),         # 5 cps: long
        ("newline_ok", [("t", "a\nb", None, 0)]),                # 3 cps, slow branch
        ("newline_long", [("t", "ab\ncd", None, 0)]),            # 5 cps, slow branch
        ("absent", [("t", None, None, 0)]),
        ("nullspan", [None]),
        ("mixed", [("t", "ab", None, 0), ("t", "a", None, 1)]),
    ]
    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int>>")
    df = spark.createDataFrame(rows, ddl)
    out = validate_documents_fused(df, schema, keep_cols=["doc_id"],
                                   with_violations=False)
    got = {r["doc_id"]: r["valid"] for r in out.collect()}
    ref = CompiledValidator(schema)
    for doc_id, spans in rows:
        doc = {"doc_id": doc_id, "spans": [
            None if s is None else
            {k: v for k, v in zip(("kind", "text", "media_ref", "offset"), s)
             if v is not None}
            for s in spans]}
        assert got[doc_id] == ref.is_valid(doc), (doc_id, got[doc_id])


def test_fused_maxlength_zero(spark):
    from json_schema_lean_spark.plans.fused import validate_documents_fused

    schema = {"type": "object", "properties": {
        "doc_id": {"type": "string"},
        "spans": {"type": "array", "items": {
            "type": "object", "properties": {"text": {"maxLength": 0}}}}}}
    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int>>")
    df = spark.createDataFrame(
        [("a", [("t", "", None, 0)]), ("b", [("t", "x", None, 0)]),
         ("c", [("t", None, None, 0)])], ddl)
    got = {r["doc_id"]: r["valid"]
           for r in validate_documents_fused(
               df, schema, keep_cols=["doc_id"],
               with_violations=False).collect()}
    assert got == {"a": True, "b": False, "c": True}


def test_warm_validation_codegen_is_plan_neutral(spark):
    """warm_validation_codegen must leave verdicts untouched (it only runs
    the SAME plan over a prefix) and return the seconds it spent."""
    from json_schema_lean_spark.operators.validation import (
        validate_spans_best,
        warm_validation_codegen,
    )
    from json_schema_lean_spark.sources.spansgen import (
        SPAN_SCHEMA,
        spans_documents,
    )
    df = spans_documents(spark, 300)
    before = {r["doc_id"]: r["valid"] for r in validate_spans_best(
        df, SPAN_SCHEMA, keep_cols=["doc_id"]).collect()}
    spent = warm_validation_codegen(df, SPAN_SCHEMA, rows=50, passes=2,
                                    keep_cols=["doc_id"])
    assert isinstance(spent, float) and spent > 0
    after = {r["doc_id"]: r["valid"] for r in validate_spans_best(
        df, SPAN_SCHEMA, keep_cols=["doc_id"]).collect()}
    assert before == after


def test_fused_required_enum_null_span_rejected(spark):
    """A required enum field makes the fused plan drop the field's separate
    required clause: the enum clause runs over the RAW field array, where a
    missing (null) value survives array_except and fails the row. A span
    whose only defect is that missing field, or a null span, must still be
    rejected, with the interpreter's verdict."""
    from json_schema_lean_spark.interpreter import CompiledValidator

    schema = {"type": "object", "properties": {
        "doc_id": {"type": "string"},
        "spans": {"type": "array", "items": {
            "type": "object", "required": ["kind"],
            "properties": {"kind": {"enum": ["text", "image"]}}}}}}
    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int>>")
    rows = [
        ("ok", [("text", "a", None, 0), ("image", None, None, 1)]),
        ("missing_kind", [("text", "a", None, 0), (None, "b", None, 1)]),
        ("only_missing", [(None, "b", None, 0)]),
        ("null_span", [("text", "a", None, 0), None]),
        ("bad_kind", [("video", "a", None, 0)]),
        ("empty", []),
    ]
    df = spark.createDataFrame(rows, ddl)
    got = {r["doc_id"]: r["valid"] for r in validate_documents_fused(
        df, schema, keep_cols=["doc_id"], with_violations=False).collect()}
    ref = CompiledValidator(schema)
    for doc_id, spans in rows:
        doc = {"doc_id": doc_id, "spans": [
            None if s is None else
            {k: v for k, v in zip(("kind", "text", "media_ref", "offset"), s)
             if v is not None}
            for s in spans]}
        assert got[doc_id] == ref.is_valid(doc), (doc_id, got[doc_id])
    assert [d for d, ok in got.items() if not ok] == [
        "missing_kind", "only_missing", "null_span", "bad_kind"]


def test_fused_prefix_literal_is_ascii_below_del():
    """The fused pattern clause is a string-range check, exact only while
    succ(prefix) stays a single byte and the prefix has no regex
    metacharacter: every character _PREFIX_LITERAL admits must be ASCII
    below 0x7F and not '.', so widening the regex fails here."""
    from json_schema_lean_spark.plans.fused import _PREFIX_LITERAL

    admitted = [cp for cp in range(0x110000)
                if _PREFIX_LITERAL.match("^" + chr(cp))]
    assert admitted and max(admitted) < 0x7F, max(admitted)
    assert ord(".") not in admitted
    assert _PREFIX_LITERAL.match("^asset://")
    for pattern in ("^foo.bar", "^é", "^ÿ", "^\U0001F4A9", "^doc\x7f"):
        assert not _PREFIX_LITERAL.match(pattern), pattern
