"""Self-tests for the benchmark's pure helpers (no JVM needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import harness  # noqa: E402
from harness import (  # noqa: E402
    FAMILIES,
    HOT_FAMILIES,
    VARIANTS,
    Tracer,
    classify_route,
    draw_schedule,
    interpreter_counts,
    percentile,
    plan_counters,
    schema_pool,
    tail_percentile,
)


# -- schema pool -----------------------------------------------------------------

def test_schema_pool_is_a_function_of_the_seed():
    assert schema_pool(5) == schema_pool(5)
    assert json.dumps(schema_pool(5)) != json.dumps(schema_pool(6))
    assert draw_schedule(5, 4) == draw_schedule(5, 4)


def test_schema_pool_exceeds_the_plan_cache_cap_with_distinct_schemas():
    for seed in range(1, 30):
        flat = [json.dumps(s, sort_keys=True) for fam in schema_pool(seed)
                for s in fam]
        assert len(set(flat)) == len(flat) == len(FAMILIES) * VARIANTS > 64


def test_drawn_constants_leave_min_length_at_one():
    """A minLength above 1 brings lambdas into the fused plan and would
    make a family's route depend on the seed."""
    for seed in (1, 2, 3):
        for fam in schema_pool(seed):
            for schema in fam:
                for sub in schema["properties"]["spans"]["items"]["properties"].values():
                    assert sub.get("minLength", 1) == 1


def test_family_structure_does_not_depend_on_the_seed():
    def shape(schema):
        items = schema["properties"]["spans"]["items"]
        return (sorted(items["properties"]), [sorted(v) for v in
                                              items["properties"].values()],
                items["required"], items["type"])
    for f in range(len(FAMILIES)):
        assert shape(schema_pool(1)[f][0]) == shape(schema_pool(2)[f][3])


def test_variants_of_a_family_differ_in_values_only():
    """Same keys, list lengths and JSON types: every variant of a family
    lowers to as many column operations."""
    def skeleton(node):
        if isinstance(node, dict):
            return {k: skeleton(v) for k, v in node.items()}
        if isinstance(node, list):
            return [skeleton(v) for v in node]
        return type(node).__name__
    for seed in (1, 2, 3):
        for fam in schema_pool(seed):
            assert len({json.dumps(skeleton(s), sort_keys=True) for s in fam}) == 1


def test_schedule_repeats_hot_families_and_renews_the_others():
    sched = draw_schedule(9, 5)
    for f in range(len(FAMILIES)):
        column = [rnd[f] for rnd in sched]
        if f in HOT_FAMILIES:
            assert len(set(column)) == 1
        else:
            assert len(set(column)) == len(column)


def test_pool_variants_agree_on_every_generated_value():
    """Each span below carries one of the values spans_documents emits,
    defects included; all variants of a family give the same verdicts."""
    spans = [{"kind": "text", "text": "tok w12 w9", "offset": 0},
             {"kind": "text", "text": "tok" + " w9972" * 12, "offset": 15},
             {"kind": "text", "text": "", "offset": 1},
             {"text": "tok w1", "offset": 2},
             {"kind": "image", "media_ref": "asset://blob/000007", "offset": 3},
             {"kind": "video", "media_ref": "http://blob/000007", "offset": 4},
             {"kind": "audio", "media_ref": "asset://missing/deadbeef", "offset": 5},
             {"kind": "text", "text": "tok w3", "offset": -1}]
    docs = [{"doc_id": "doc-00ab-0000000042", "spans": [s]} for s in spans]
    docs.append({"doc_id": "doc-hot-0000000007", "spans": spans[:1] * 16})
    for seed in (1, 2):
        for fam in schema_pool(seed):
            for doc in docs:
                counts = {interpreter_counts(s, [doc]) for s in fam}
                assert len(counts) == 1, (doc, counts)


# -- percentiles -------------------------------------------------------------------

def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile([3.0], 99) == 3.0


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile([1.0] * 19) is None
    assert tail_percentile(list(range(20))) is None
    assert tail_percentile(list(range(40)))[0] == 75.0
    assert tail_percentile(list(range(100))) == (90.0, 89)
    assert tail_percentile(list(range(200)))[0] == 95.0
    assert tail_percentile(list(range(1000)))[0] == 99.0
    assert tail_percentile(list(range(10_000)))[0] == 99.9


# -- plan text ------------------------------------------------------------------------

FUSED = """Aggregate [count(1) AS count(1)#49L, sum(cast(valid#15 as bigint)) AS s#50L]
+- Project [((isnotnull(doc_id#13) AND isnotnull(spans#14)) AS valid#15]
   +- Relation [doc_id#13,spans#14] parquet"""
EXPLODE = """Aggregate [count(1) AS count(1)#97L]
+- Aggregate [_rid#57L], [(first(true, false) AND (min(_sv#63) = 1)) AS valid#93]
   +- Project [_rid#57L, CASE WHEN isnull(_pos#61) THEN true END AS _sv#63]
      +- Generate posexplode(_spans#60), [1], true, [_pos#61, _span#62]
         +- Project [monotonically_increasing_id() AS _rid#57L, spans#14 AS _spans#60]
            +- Relation [doc_id#13,spans#14] parquet"""
FORALL = """Aggregate [count(1) AS count(1)#151L]
+- Project [forall(spans#14, lambdafunction(isnotnull(lambda x#1), lambda x#1)) AS valid#143]
   +- Relation [doc_id#13,spans#14] parquet"""
ROWS_PREFILTERED = """Aggregate [count(1) AS count(1)#202L]
+- Project
   +- Generate explode(_extract_keyword#205), [0], false, [v#192]
      +- Filter (size(_v#1) > 0)
         +- Generate posexplode(spans#14), true, [_pos#170, _span#171]
            +- Filter NOT CASE WHEN isnull(doc_id#13) THEN true END
               +- Relation [doc_id#13,spans#14] parquet"""
ROWS_UNFILTERED = """Aggregate [count(1) AS count(1)#229L]
+- Project
   +- Generate explode(_extract_keyword#232), [0], false, [v#219]
      +- Filter (size(_v#2) > 0)
         +- Generate posexplode(spans#14), [0], true, [_pos#209, _span#210]
            +- Project [spans#14]
               +- Relation [doc_id#13,spans#14] parquet"""
VARIANT = """Aggregate [count(1) AS count(1)#655L]
+- Project [coalesce(StartsWith(static_invoke(SchemaOfVariant.schemaOfVariant(v#594)), OBJECT), false) AND isnotnull(try_variant_get(v#594, $.kind, VariantType, false, Some(Etc/UTC))) AS valid#1]
   +- Generate explode(array(try_parse_json(doc#552))), false, [v#594]"""
ARROW_PHYSICAL = """HashAggregate(keys=[], functions=[count(1)])
+- ArrowEvalPython [_validate(doc#552)#1], [pythonUDF0#2], 200
   +- FileScan parquet [doc#552]"""


def test_route_classifier_reads_each_route_from_plan_text():
    assert classify_route(FUSED, "") == "fused"
    assert classify_route(EXPLODE, "") == "explode"
    assert classify_route(FORALL, "") == "forall"
    assert classify_route(ROWS_PREFILTERED, "") == "fused"
    assert classify_route(ROWS_UNFILTERED, "") == "explode"
    assert classify_route(VARIANT, "") == "variant"
    assert classify_route(FUSED, ARROW_PHYSICAL) == "arrow"


def test_plan_counters_are_exact_and_ignore_expression_ids():
    c = plan_counters(VARIANT, ARROW_PHYSICAL)
    assert c["schema_of_variant"] == 1
    assert c["try_variant_get"] == 1
    assert c["variant_probe_count"] == 2
    assert c["python_eval_nodes"] == 1
    assert plan_counters(FORALL, "")["lambda_count"] == 1
    renumbered = FUSED.replace("#49L", "#1049L").replace("#13", "#113")
    assert plan_counters(renumbered, "")["plan_chars"] == \
        plan_counters(FUSED, "")["plan_chars"]


# -- tracing ---------------------------------------------------------------

def test_tracer_self_time_subtracts_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 10.0, 12.0])
    monkeypatch.setattr(harness.time, "perf_counter", lambda: next(clock))
    tr = Tracer(True)
    with tr.span("request", 7):
        with tr.span("build"):
            pass
        with tr.span("action"):
            pass
    assert [s["request"] for s in tr.spans] == [7, 7, 7]
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert tr.self_times() == {"request": 12.0 - 2.0 - 6.0, "build": 2.0,
                               "action": 6.0}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("request", 1):
        pass
    assert tr.spans == []
