"""The benchmark's input corpus: seeded span documents generated once per
checkout under ``.perfbench/corpus-<version>-<generator digest>/`` and
reused by every run, and the reference results its checks compare with.

Generating documents costs more than the requests that validate them (the
generator evaluates interpreted lambdas), so a run does not generate: its
``--seed`` chooses shards (typed_spans) or batches (schema_churn) of the
corpus, and the same seed always chooses the same ones. Each part is
written to a temporary directory and renamed into place, so an interrupted
build leaves nothing that a later run would reuse.

Expected values never come from the engine under test. The per-shard totals
are the pure-Python interpreter's, committed in ``reference_totals.json``
(the generator is a pure function of the document index, so every checkout
generates the same corpus; ``perfbench/reference.py`` recomputes them), and
the per-document sample is validated by the interpreter in each run.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from typing import Any, Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_schema_lean_spark.interpreter import CompiledValidator
from json_schema_lean_spark.operators.validation import (
    validate_json_column,
    validate_spans_best,
    violation_rows_best,
)
from json_schema_lean_spark.sources import spansgen
from json_schema_lean_spark.sources.spansgen import SPAN_SCHEMA, spans_documents

#: bump when anything below changes the generated documents
VERSION = "v3"
CORPUS_SEED = 7
SHARDS, SHARD_DOCS, FILES_PER_SHARD = 16, 50_000, 4
#: the JSON form keeps every JSON_EVERY-th document of a shard (JSON
#: validation is about 30x slower per document than the typed route)
JSON_EVERY = 10
#: schema_churn batches: BATCH_COPIES batches of each size; a run uses one
#: copy of every size, chosen by seed, so every seed sends the same sizes
BATCH_SIZES = (2_000, 2_600, 3_200, 3_800, 4_400, 5_000)
BATCH_COPIES = 6
BATCHES = len(BATCH_SIZES) * BATCH_COPIES
#: every batch has as many files, so that every seed's requests of a kind
#: run as many tasks (and Arrow requests as many Python workers)
FILES_PER_BATCH = 2
#: the interpreter sample: the JSON documents whose generator index is a
#: multiple of SAMPLE_EVERY (about 500 per shard)
SAMPLE_EVERY = 100
REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "reference_totals.json")


def verdict_agg(df: DataFrame) -> DataFrame:
    return df.select(F.count(F.lit(1)), F.sum(F.col("valid").cast("long")))


def row_count(df: DataFrame) -> DataFrame:
    return df.select(F.count(F.lit(1)))


def violation_count(validated: DataFrame) -> DataFrame:
    """Violation rows produced (one per array element) and counted."""
    return row_count(validated.select(F.explode("violations")))


def typed_totals(typed: DataFrame) -> list[int]:
    """[rows, valid rows, violation rows] of the typed route."""
    return (list(verdict_agg(validate_spans_best(typed, SPAN_SCHEMA)).first())
            + list(row_count(violation_rows_best(typed, SPAN_SCHEMA)).first()))


def json_totals(jdf: DataFrame) -> list[int]:
    """[rows, valid rows, violation rows] of the JSON route (one query)."""
    out = validate_json_column(jdf, "doc", SPAN_SCHEMA).select(
        F.count(F.lit(1)), F.sum(F.col("valid").cast("long")),
        F.sum(F.size("violations"))).first()
    return list(out)


def interpreter_verdicts(validator: CompiledValidator, doc: Any) -> list:
    """[valid, sorted [keyword, json_pointer] pairs] of one document."""
    found = validator.validate(doc)
    return [not found, sorted([v.keyword, v.json_pointer] for v in found)]


def json_doc() -> F.Column:
    """The document as a JSON string: ``to_json`` drops NULL fields, which
    the typed routes read as absent keys."""
    return F.to_json(F.struct("doc_id", "spans")).alias("doc")


def doc_index() -> F.Column:
    """The generator's row index, recovered from the doc_id suffix."""
    return F.substring_index("doc_id", "-", -1).cast("long")


def corpus_params() -> dict:
    """What the committed reference totals were computed for."""
    return {"version": VERSION, "seed": CORPUS_SEED, "shards": SHARDS,
            "shard_docs": SHARD_DOCS, "json_every": JSON_EVERY}


def reference_totals() -> dict:
    """The committed reference: per shard, [rows, valid rows, violations]
    of ``interpreter.CompiledValidator`` over every document (``typed``)
    and over the JSON documents (``json``)."""
    with open(REFERENCE) as f:
        ref = json.load(f)
    if ref["corpus"] != corpus_params():
        raise RuntimeError(f"{REFERENCE} is for corpus {ref['corpus']}, not "
                           f"{corpus_params()}: run perfbench/reference.py")
    return ref


def interpreter_sample(json_dirs: list[str]) -> dict:
    """doc_id -> interpreter_verdicts for the sample documents of the JSON
    corpus directories ``json_dirs``. The generator's duplicated rows
    repeat a doc_id with the same document."""
    validator = CompiledValidator(SPAN_SCHEMA)
    out = {}
    for d in json_dirs:
        table = pq.read_table(d, columns=["doc_id", "doc"])
        for doc_id, doc in zip(table.column("doc_id").to_pylist(),
                               table.column("doc").to_pylist()):
            if int(doc_id.rsplit("-", 1)[1]) % SAMPLE_EVERY == 0:
                out[doc_id] = interpreter_verdicts(validator, json.loads(doc))
    return out


def _generator_digest() -> str:
    with open(spansgen.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _ensure(path: str, write: Callable[[str], None]) -> str:
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # another run renamed its copy first
        shutil.rmtree(tmp, ignore_errors=True)
    return path


class Corpus:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        # a changed generator gets a corpus of its own
        self.root = os.path.join(root, f"corpus-{VERSION}-{_generator_digest()}")
        os.makedirs(self.root, exist_ok=True)

    def typed(self) -> str:
        """SHARDS x SHARD_DOCS documents, partitioned by ``shard``; each shard
        holds FILES_PER_SHARD files plus the generator's duplicated rows."""
        def write(tmp: str) -> None:
            n = SHARDS * SHARD_DOCS
            (spans_documents(self.spark, n, seed=CORPUS_SEED,
                             partitions=SHARDS * FILES_PER_SHARD)
             .withColumn("shard", (doc_index() / SHARD_DOCS).cast("int"))
             .write.partitionBy("shard").parquet(tmp))
        return _ensure(os.path.join(self.root, "typed"), write)

    def json(self) -> str:
        """Every JSON_EVERY-th typed document as ``(doc_id, doc)`` with
        ``doc = to_json(struct(doc_id, spans))``, partitioned by ``shard``."""
        typed = self.typed()

        def write(tmp: str) -> None:
            (self.spark.read.parquet(typed)
             .where(doc_index() % JSON_EVERY == 0)
             .select("doc_id", json_doc(), "shard")
             .write.partitionBy("shard").parquet(tmp))
        return _ensure(os.path.join(self.root, "json"), write)

    def batches(self) -> tuple[str, str]:
        """BATCHES consecutive runs of typed documents, batch ``b`` holding
        ``batch_size(b)`` generated documents in FILES_PER_BATCH files,
        typed and as JSON, under ``batch=<b>/``."""
        typed = self.typed()
        sizes = [batch_size(b) for b in range(BATCHES)]
        bounds = [sum(sizes[:k]) for k in range(BATCHES + 1)]

        def write(tmp: str, json_form: bool) -> None:
            docs = (self.spark.read.parquet(typed)
                    .where(F.col("shard") <= (bounds[-1] - 1) // SHARD_DOCS)
                    .drop("shard"))
            for b in range(BATCHES):
                idx = doc_index()
                batch = docs.where((idx >= bounds[b]) & (idx < bounds[b + 1]))
                if json_form:
                    batch = batch.select("doc_id", json_doc())
                batch.repartition(FILES_PER_BATCH).write.parquet(f"{tmp}/batch={b}")

        t = _ensure(os.path.join(self.root, "batches_typed"),
                    lambda tmp: write(tmp, False))
        j = _ensure(os.path.join(self.root, "batches_json"),
                    lambda tmp: write(tmp, True))
        return t, j

    def build(self) -> None:
        """Every part a workload reads, so only the first run builds."""
        self.json()
        self.batches()

    def known(self, n_docs: int, seed: int) -> str:
        """The bench.py-shaped spans table (``n_docs`` at ``seed``)."""
        return _ensure(
            os.path.join(self.root, f"known-{n_docs}-seed{seed}"),
            lambda tmp: spans_documents(self.spark, n_docs, seed=seed,
                                        partitions=16).write.parquet(tmp))


def batch_size(batch: int) -> int:
    return BATCH_SIZES[batch % len(BATCH_SIZES)]


def choose_batches(seed: int) -> list[int]:
    """One batch of every size, in size order, a function of ``seed``."""
    r = random.Random(f"batches-{seed}")
    return [r.randrange(BATCH_COPIES) * len(BATCH_SIZES) + c
            for c in range(len(BATCH_SIZES))]


def choose(seed: int, label: str, population: int, k: int) -> list[int]:
    """``k`` distinct indices out of ``population``, a function of ``seed``."""
    return sorted(random.Random(f"{label}-{seed}").sample(range(population), k))


def link_files(dirs: list[str], dest: str) -> list[str]:
    """Hard-link the parquet files of ``dirs`` into one flat directory (the
    input layout CheckpointedValidation lists); returns the linked paths."""
    os.makedirs(dest)
    out = []
    for i, d in enumerate(dirs):
        for name in sorted(os.listdir(d)):
            if name.endswith(".parquet"):
                target = os.path.join(dest, f"d{i:02d}-{name}")
                os.link(os.path.join(d, name), target)
                out.append(target)
    return out
