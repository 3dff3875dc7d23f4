"""Fingerprint every schema lowering: one sha256 per case and message style.

Prints one line per (route, message style, case). The hash covers the
normalized string of the emitted Column trees (``valid`` and
``violations``) or, for the spans strategies, of the returned DataFrame's
logical plan. A lowering refactor that must not change any expression
prints identical output before and after; a change that rewrites
expressions shows exactly which cases moved:

    python scripts/lowering_fingerprint.py > before.txt
    ...change the lowering...
    python scripts/lowering_fingerprint.py > after.txt
    diff before.txt after.txt

Cases:

- ``typed``: every fixture-suite schema through ``ColumnarCompiler``
  against each distinct dtype that ``inference.infer_json_dtype`` gives its
  instances (the pairing ``tests/test_columnar_suite.py`` replays);
- ``variant``: every fixture-suite schema through ``VariantCompiler``, once
  plainly and once with pre-projected root children (the second Generate
  barrier of ``validate_json_column_variant``);
- ``fused`` / ``fused_verdict`` / ``exploded`` / ``rows_fast`` /
  ``forall``: ``SPAN_SCHEMA``, ``FLAT_DOC_SCHEMA`` and the 96 schemas of
  ``perfbench.harness.schema_pool(1)`` through each spans strategy over the
  spans table shape.

Normalization renames what a session numbers freshly: lambda variables
(``x_12``) and expression ids (``#345``), each in order of appearance. A
case that does not lower prints its exception type and message instead.
Needs a local Spark session (started here, ``local[1]``, no UI).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

FIXTURES = ROOT / "fixtures"
SUITE_DIRS = [FIXTURES / "suite", FIXTURES / "suite_official" / "draft7"]
STYLES = ("structured", "reference")

_LAMBDA_VAR = re.compile(r"\b([xyz])_\d+\b")
_EXPR_ID = re.compile(r"#\d+L?")


def normalize(text: str) -> str:
    """Rename lambda variables and expression ids by order of appearance."""
    names: dict[str, str] = {}

    def var(m: re.Match) -> str:
        return names.setdefault(m.group(0), f"{m.group(1)}_v{len(names)}")

    ids: dict[str, str] = {}

    def eid(m: re.Match) -> str:
        return ids.setdefault(m.group(0), f"#e{len(ids)}")

    return _EXPR_ID.sub(eid, _LAMBDA_VAR.sub(var, text))


def digest(text: str) -> str:
    return hashlib.sha256(normalize(text).encode()).hexdigest()


def failure(e: Exception) -> str:
    """Exception type, the first line of its message and a digest of all of
    it (analysis errors embed whole plans)."""
    msg = str(e)
    head = msg.splitlines()[0][:120] if msg else ""
    return f"! {type(e).__name__}: {head} [{digest(msg)[:16]}]"


def suite_cases():
    """[(case_id, schema, [instance, ...])] over every fixture-suite file."""
    out = []
    for f in sorted(p for d in SUITE_DIRS for p in d.glob("*.json")):
        for ci, case in enumerate(json.loads(f.read_text())):
            out.append((f"{f.parent.name}/{f.stem}/{ci}", case["schema"],
                        [t["data"] for t in case["tests"]]))
    return out


def lowered_digest(low, arg) -> str:
    from pyspark.sql import functions as F
    return (f"valid={digest(str(low.valid(arg)))} "
            f"violations={digest(str(low.violations(arg, F.lit(''))))}")


def typed_lines(cases):
    from pyspark.sql import functions as F

    from json_schema_lean_spark.compiler import ColumnarCompiler
    from json_schema_lean_spark.inference import infer_json_dtype
    from json_schema_lean_spark.metaschema import META_REGISTRY
    for style in STYLES:
        for cid, schema, instances in cases:
            dtypes = {}
            for data in instances:
                dtype, _why = infer_json_dtype(data)
                if dtype is not None:
                    dtypes.setdefault(dtype.simpleString(), dtype)
            try:
                comp = ColumnarCompiler(schema, registry=META_REGISTRY,
                                        message_style=style)
            except Exception as e:  # noqa: BLE001 - printed as the result
                yield f"typed {style} {cid} {failure(e)}"
                continue
            for name, dtype in sorted(dtypes.items()):
                try:
                    out = lowered_digest(comp.lower(dtype, null_means="null"),
                                         F.col("x"))
                except Exception as e:  # noqa: BLE001
                    out = failure(e)
                yield f"typed {style} {cid} {json.dumps(name)} {out}"


def variant_lines(cases):
    from pyspark.sql import functions as F

    from json_schema_lean_spark.metaschema import META_REGISTRY
    from json_schema_lean_spark.schema_ast import SchemaObject
    from json_schema_lean_spark.variant import VariantCompiler
    for style in STYLES:
        for cid, schema, _instances in cases:
            for kids in (False, True):
                tag = "kids" if kids else "plain"
                try:
                    comp = VariantCompiler(schema, registry=META_REGISTRY,
                                           message_style=style)
                    s = comp.schema
                    if kids:
                        if not (isinstance(s, SchemaObject) and s.ref is None
                                and (s.properties or s.required)):
                            continue
                        names = list(dict.fromkeys(
                            [n for n, _ in (s.properties or [])]
                            + list(s.required or [])))
                        comp.child_columns = {
                            n: F.col("kids").getField(f"c{i}")
                            for i, n in enumerate(names)}
                    out = lowered_digest(comp.lower(), F.col("v"))
                except Exception as e:  # noqa: BLE001
                    out = failure(e)
                yield f"variant {style} {cid} {tag} {out}"


def spans_lines(spark):
    from __spark_entry__ import FLAT_DOC_SCHEMA
    from json_schema_lean_spark.operators.validation import (
        validate_dataframe,
        validate_documents_exploded,
        violation_rows_fast,
    )
    from json_schema_lean_spark.plans.fused import validate_documents_fused
    from json_schema_lean_spark.sources.spansgen import (
        SPAN_SCHEMA,
        spans_documents,
    )
    from perfbench.harness import schema_pool

    table = spans_documents(spark, 1).select("doc_id", "spans").schema
    df = spark.createDataFrame([], table)
    schemas = [("SPAN_SCHEMA", SPAN_SCHEMA), ("FLAT_DOC_SCHEMA", FLAT_DOC_SCHEMA)]
    for f, family in enumerate(schema_pool(1)):
        for v, schema in enumerate(family):
            schemas.append((f"pool/{f}/{v}", schema))
    strategies = {
        "fused": lambda s, st: validate_documents_fused(
            df, s, message_style=st),
        "fused_verdict": lambda s, st: validate_documents_fused(
            df, s, keep_cols=list(df.columns), with_violations=False,
            message_style=st),
        "exploded": lambda s, st: validate_documents_exploded(
            df, s, message_style=st),
        "rows_fast": lambda s, st: violation_rows_fast(
            df, s, id_cols=["doc_id"], message_style=st),
        "forall": lambda s, st: validate_dataframe(df, s, message_style=st),
    }
    for route, run in strategies.items():
        for style in STYLES:
            for cid, schema in schemas:
                try:
                    plan = run(schema, style)._jdf.queryExecution().logical()
                    out = f"plan={digest(plan.toString())}"
                except Exception as e:  # noqa: BLE001
                    out = failure(e)
                yield f"{route} {style} {cid} {out}"


def main() -> int:
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[1]")
             .appName("lowering-fingerprint")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "1")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        cases = suite_cases()
        for lines in (typed_lines(cases), variant_lines(cases),
                      spans_lines(spark)):
            for line in lines:
                print(line, flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
