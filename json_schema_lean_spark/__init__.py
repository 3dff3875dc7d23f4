"""json_schema_lean_spark — a from-scratch PySpark-native schema + constraint
validation engine with the query semantics of CAIMEOX/json-schema-lean
(JSON Schema Draft 7 validator; reference snapshot at /root/reference).

Architecture (Spark-first, NOT a port):

- ``schema_ast``    — keyword AST + lenient parser (ref: JsonSchema/Schema.lean).
- ``pointer``       — RFC 6901 JSON-pointer codec (ref: JsonSchema/PointerFragment.lean).
- ``resolver``      — URI registry, $id registration, cycle DFS
                      (ref: JsonSchema/Resolving.lean).
- ``interpreter``   — pure-Python Draft-7 validator matching the reference's
                      verdict semantics exactly; runs driver-side for tests and
                      executor-side inside Arrow batches for dynamic JSON
                      (ref: JsonSchema/Validation.lean).
- ``compiler``      — the keyword-lowering core (resolver setup, $ref/$id
                      scaffold, combinators, reference messages) and its
                      typed subclass: schema AST → native Spark Column
                      predicate plan for statically-typed (shredded)
                      document tables; the 100 TB scale path (whole-stage
                      codegen, no Python in the loop).
- ``variant``       — the core's VARIANT subclass: the same keywords over
                      ``try_parse_json`` values, for dynamic JSON string
                      columns.
- ``formats``       — draft-7 ``format`` as an opt-in assertion (annotation
                      by default; one portable regex per format, evaluated by
                      Python ``re`` and Java ``rlike`` via regex_dialect).
- ``operators``     — validation runner, column stats, uniqueness, referential
                      integrity, distribution drift, dedup, similarity, text
                      analysis, multimodal plumbing.
- ``sources``       — testdata loaders + deterministic spans-document generator.
- ``streaming``     — Structured Streaming validation path.
- ``checkpointing`` — per-partition manifest + resume.
"""

# 0.2.0: checkpoint units validate via the strategy chain (fused plan
# when eligible) — violation-array ordering inside a part can differ
# from 0.1.0's explode-pinned output, so the lineage gate must re-run
# any unit committed by an older validator rather than mix formats
__version__ = "0.2.0"
