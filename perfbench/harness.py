"""Pure helpers of the benchmark: statistics, the seeded schema pool, the
plan-text route classifier and plan counters, the interpreter oracle, and
the span tracer.

Nothing here imports pyspark, so the self-tests in ``perfbench/tests`` run
without a JVM.
"""

from __future__ import annotations

import json
import random
import re
import statistics
import time
from contextlib import contextmanager
from typing import Any, Iterator, Optional

#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.5, 99.0, 95.0, 90.0, 75.0)


# -- statistics ---------------------------------------------------------------

def median(values: list[float]) -> float:
    """Median, or 0.0 for no samples (sample counts are reported beside)."""
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (the smallest sample with at least
    ``p`` percent of the samples at or below it)."""
    s = sorted(values)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def tail_percentile(values: list[float]) -> Optional[tuple[float, float]]:
    """``(p, value)`` for the highest percentile in ``TAIL_PERCENTILES`` that
    has at least ten samples beyond it, or None when fewer than twenty
    samples support none of them. A sample is beyond the nearest-rank
    percentile when its rank is above the percentile's rank."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        rank = -(-n * p // 100)
        if n - rank >= 10:
            return p, percentile(values, p)
    return None


# -- schema_churn: the seeded schema pool --------------------------------------
#
# The pool is one family per entry point of the schema_churn rotation, with
# VARIANTS schemas each. A family fixes the structure (which span field
# carries which keyword, the item type, the required list) and so the route
# rung and which documents fail; it is the same for every seed. A variant
# draws the constants from the seed within ranges that the generated
# documents never straddle (texts are empty or 8-80 characters, offsets -1 or
# 0-15, kinds one of four words, media refs asset://blob/..., asset://missing/...
# or http://...), so every variant is a different schema -- a different plan
# and plan_cache key -- with the same verdicts. A variant draws values only,
# never how many there are or their JSON type (two extra enum values, float
# minimums, one form of ``type``, minItems 1), so every variant of a family
# lowers to as many column operations and py4j round trips; when the extra
# enum values and minItems were drawn, round trips per build varied by a
# quarter between variants. No drawn constant changes a plan's shape, so a
# family takes the same route for every seed: minLength stays 1, because a
# minLength above 1 puts interpreted lambdas into the fused plan.

VARIANTS = 16
FAMILIES = (
    # validate_spans_best: inside the fused subset
    {"doc_id": "pattern", "items_type": "object", "required": ["kind"],
     "max_items": False, "keywords": {"kind": "enum", "text": "minLength",
                                      "media_ref": "prefix", "offset": "minimum"}},
    # violation_rows_best: a dotted pattern is outside the fused subset (the
    # fused plan matches only literal prefixes), so no fused prefilter
    {"doc_id": "minLength", "items_type": ["object", "null"], "required": [],
     "max_items": True, "keywords": {"media_ref": "dotted", "text": "maxLength",
                                     "offset": "maximum"}},
    # validate_json_column(verdict_only=True): the variant path
    {"doc_id": "pattern", "items_type": "object", "required": ["kind"],
     "max_items": False, "keywords": {"kind": "enum", "text": "minLength",
                                      "offset": "minimum"}},
    # validate_dataframe: the forall projection
    {"doc_id": "none", "items_type": ["object", "null"], "required": ["kind", "offset"],
     "max_items": True, "keywords": {"kind": "type", "media_ref": "prefix",
                                     "offset": "minimum"}},
    # validate_json_column: \w has no exact Java form, so the Arrow interpreter
    {"doc_id": "minLength", "items_type": "object", "required": [],
     "max_items": False, "keywords": {"kind": "word", "text": "minLength",
                                      "offset": "minimum"}},
    # CheckpointedValidation.run: one schema for the whole run; maxLength
    # keeps interpreted lambdas in its plan
    {"doc_id": "none", "items_type": "object", "required": ["kind"],
     "max_items": False, "keywords": {"kind": "enum", "media_ref": "prefix",
                                      "text": "maxLength"}},
)


def _keyword(kind: str, field: str, r: random.Random) -> dict:
    if kind == "enum":
        return {"enum": ["text", "image", "audio", "video"]
                + [f"x{v}" for v in r.sample(range(1000), 2)]}
    if kind == "minLength":
        return {"minLength": 1}
    if kind == "maxLength":
        return {"maxLength": r.randint(100, 400)}
    if kind == "prefix":
        return {"pattern": r.choice(["^asset://", "^asset:/", "^asset:"])}
    if kind == "dotted":
        return {"pattern": r.choice(["^asset:/.blob", "^asset:/.bl", "^asset:/.b"])}
    if kind == "word":
        return {"pattern": r.choice(["^\\w+$", "^\\w*$", "\\w"])}
    if kind == "minimum":
        return {"minimum": r.choice([-0.75, -0.5, -0.25])}
    if kind == "maximum":
        return {"maximum": r.randint(16, 400)}
    if kind == "type":
        return {"type": "integer" if field == "offset" else "string"}
    raise ValueError(kind)


def span_schema_variant(family: int, r: random.Random) -> dict:
    """A span-document schema of ``family`` with constants drawn from ``r``:
    top-level doc_id/spans keywords plus a Single-items span subschema (the
    shape every spans entry point accepts)."""
    fam = FAMILIES[family]
    doc_id: dict = {"type": "string"}
    if fam["doc_id"] == "pattern":
        doc_id["pattern"] = r.choice(["^doc-", "^doc", "^do"])
    elif fam["doc_id"] == "minLength":
        doc_id["minLength"] = r.randint(4, 12)
    spans: dict = {"type": "array", "minItems": 1}
    if fam["max_items"]:
        spans["maxItems"] = r.randint(16, 64)
    spans["items"] = {
        "type": fam["items_type"],
        "required": fam["required"],
        "properties": {fld: _keyword(k, fld, r) for fld, k in fam["keywords"].items()},
    }
    return {"type": "object", "required": ["doc_id", "spans"],
            "properties": {"doc_id": doc_id, "spans": spans}}


def schema_pool(seed: int) -> list[list[dict]]:
    """``pool[family][variant]``, a pure function of ``seed``. Its
    len(FAMILIES) x VARIANTS = 96 distinct schemas exceed plan_cache's
    64-entry cap."""
    r = random.Random(f"pool-{seed}")
    pool = []
    for f in range(len(FAMILIES)):
        family: dict[str, dict] = {}
        while len(family) < VARIANTS:
            schema = span_schema_variant(f, r)
            family.setdefault(json.dumps(schema, sort_keys=True), schema)
        pool.append(list(family.values()))
    return pool


#: families whose requests repeat one schema for the whole run (plan_cache
#: hits from the first timed request on): the checkpoint units. Every other
#: request gets a schema new to the run (misses). The same for every seed.
HOT_FAMILIES = (5,)


def draw_schedule(seed: int, rounds: int) -> list[list[int]]:
    """``variant[rotation][family]`` for ``rounds`` rotations, counted from
    the first warm-up rotation: a hot family keeps its first variant, the
    others draw a variant not used before in the run."""
    r = random.Random(f"draw-{seed}")
    orders = [r.sample(range(VARIANTS), VARIANTS) for _ in FAMILIES]
    return [[orders[f][0 if f in HOT_FAMILIES else rnd % VARIANTS]
             for f in range(len(FAMILIES))] for rnd in range(rounds)]


# -- plan shape ------------------------------------------------------------------

ROUTES = ("fused", "explode", "forall", "variant", "arrow")

_PY_EVAL = re.compile(r"\b(ArrowEvalPython|BatchEvalPython)\b")
_VARIANT = re.compile(r"try_variant_get\(|schemaOfVariant\(|try_parse_json\(")
#: expression ids (``doc_id#13``, ``count(1)#49L``) grow during a session
_EXPR_ID = re.compile(r"#\d+L?")


def classify_route(optimized: str, physical: str) -> str:
    """Route of a validation plan, read from its plan text.

    - ``arrow``: a Python eval node (the Arrow-batch interpreter);
    - ``variant``: variant probes (``validate_json_column``'s variant path);
    - ``forall``: interpreted lambdas (the forall projection, or a fused
      plan whose keywords need them, such as minLength above 1);
    - ``explode``: posexplode whose output is regrouped per row (``_rid``),
      or violation rows exploded from every document without a prefilter;
    - ``fused``: a single lambda-free projection, or violation rows behind
      the fused verdict prefilter (a Filter directly under the posexplode).
    """
    if _PY_EVAL.search(physical):
        return "arrow"
    if _VARIANT.search(optimized):
        return "variant"
    if "lambdafunction(" in optimized:
        return "forall"
    if "Aggregate [_rid" in optimized:
        return "explode"
    lines = [ln.lstrip(" :+-") for ln in optimized.splitlines()]
    for i, ln in enumerate(lines):
        if ln.startswith("Generate posexplode("):
            below = lines[i + 1] if i + 1 < len(lines) else ""
            return "fused" if below.startswith("Filter") else "explode"
    return "fused"


def plan_counters(optimized: str, physical: str) -> dict:
    """Exact plan-shape counts: these repeat exactly for the same input
    schema and validation schema (plan characters are counted with
    expression ids removed)."""
    sov = optimized.count("schemaOfVariant(")
    tvg = optimized.count("try_variant_get(")
    return {
        "plan_chars": len(_EXPR_ID.sub("", optimized)),
        "lambda_count": optimized.count("lambdafunction("),
        "schema_of_variant": sov,
        "try_variant_get": tvg,
        "variant_probe_count": sov + tvg,
        "python_eval_nodes": len(_PY_EVAL.findall(physical)),
    }


# -- the interpreter oracle ------------------------------------------------------

def interpreter_counts(schema: Any, docs: list[Any]) -> tuple[int, int, int]:
    """(documents, valid documents, violations) under the pure-Python
    interpreter -- the reference every schema_churn request is checked
    against. Module-level so that worker processes can run it."""
    from json_schema_lean_spark.interpreter import CompiledValidator
    v = CompiledValidator(schema)
    found = [len(v.validate(d)) for d in docs]
    return len(found), found.count(0), sum(found)


# -- tracing --------------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent and request id. Disabled
    tracers keep nothing and cost one branch per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: Optional[int] = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": idx, "name": name, "parent": parent, "request": request,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part covered by child spans."""
        child_sum = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_sum[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_sum[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
