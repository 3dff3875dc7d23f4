"""Recompute ``perfbench/reference_totals.json``: per-shard totals of the
pure-Python interpreter (``interpreter.CompiledValidator``) over the
benchmark corpus.

Usage (from the repository root):

    python3 perfbench/reference.py

Builds the corpus if needed, as the first benchmark run does, then validates
every document with the interpreter in one worker process per core (about
four minutes on 4 cores). The typed_spans checks compare the engine's
results with these totals, so no expected value comes from the engine under
test. Rerun it only when the corpus changes (a new ``corpus.VERSION`` or
generator output).
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import sys
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker

from harness import interpreter_counts
from run import ROOT, prepare_checkout


def shard_totals(path: str) -> tuple[int, int, int]:
    """(rows, valid rows, violations) of the interpreter over the ``doc``
    column of the parquet files under ``path``."""
    import pyarrow.parquet as pq

    from json_schema_lean_spark.sources.spansgen import SPAN_SCHEMA
    docs = pq.read_table(path, columns=["doc"]).column("doc").to_pylist()
    return interpreter_counts(SPAN_SCHEMA, [json.loads(d) for d in docs])


def main() -> int:
    work = os.path.join(ROOT, ".perfbench", f"reference-{os.getpid()}")
    if not prepare_checkout(work):
        return 2
    import corpus
    from engine import Session

    try:
        with Session(work, trace=False) as session:
            c = corpus.Corpus(session.spark, os.path.dirname(work))
            c.build()
            json_root = c.json()
            # the JSON form of every document, as the JSON corpus writes it
            every_doc = os.path.join(work, "every_doc")
            (session.spark.read.parquet(c.typed())
             .select(corpus.json_doc(), "shard")
             .write.partitionBy("shard").parquet(every_doc))
            cpus = session.cpus
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(max_workers=cpus, mp_context=ctx) as pool:
            futures = {part: {str(k): pool.submit(shard_totals, f"{root}/shard={k}")
                              for k in range(corpus.SHARDS)}
                       for part, root in (("typed", every_doc), ("json", json_root))}
            out = {"corpus": corpus.corpus_params(),
                   **{part: {k: list(f.result()) for k, f in shards.items()}
                      for part, shards in futures.items()}}
        resource_tracker._resource_tracker._stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(corpus.REFERENCE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
