"""The two workloads: inputs chosen from the corpus by seed, setup, the
request rotation, the output checks, and the metrics computed from the
request records.

Why each workload exists is recorded in perfbench/README.md; in short,
typed_spans stresses execution (typed and JSON documents at scale) and
schema_churn driver-side lowering, py4j and Catalyst.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import statistics
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker
from typing import Any, Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import corpus
from corpus import row_count, typed_totals, verdict_agg, violation_count
from engine import Session, peak_rss_mb
from harness import (
    ROUTES,
    draw_schedule,
    interpreter_counts,
    median,
    schema_pool,
    tail_percentile,
)
from json_schema_lean_spark import plan_cache
from json_schema_lean_spark.operators.validation import (
    validate_dataframe,
    validate_json_column,
    validate_spans_best,
    violation_rows_best,
)
from json_schema_lean_spark.parallelism import scale_partitions
from json_schema_lean_spark.sources.spansgen import SPAN_SCHEMA

#: recorded totals of the seed-42 spans table at bench.py's sf0.1 size
#: (BENCH_r01..r06 spans_docs / spans_valid / violation_rows_rows)
KNOWN_TOTALS = {600_000: (606_012, 592_265, 13_747)}
KNOWN_TOTALS_SEED = 42

#: request kinds, one per entry point and result; each workload names the
#: kinds its throughput metrics read (Workload.throughput_kinds)
VERDICT, VIOLATIONS, CHECKPOINT = "verdict", "violations", "checkpoint"
JSON_VERDICT, JSON_VIOLATIONS = "json_verdict", "json_violations"
#: validate_dataframe verdicts (schema_churn only)
DATAFRAME_VERDICT = "dataframe_verdict"
QUERY_KINDS = (VERDICT, VIOLATIONS, JSON_VERDICT, JSON_VIOLATIONS, DATAFRAME_VERDICT)
#: the timed loop runs whole rotations until --seconds have passed, and at
#: least this many
MIN_ROTATIONS = 4


class Workload:
    name = ""
    #: (request kind, engine entry point) in rotation order
    rotation: tuple[tuple[str, str], ...] = ()
    #: warm-up rotations before the timed loop (part of setup); the first one
    #: is cold. Setup then waits for the JIT to settle (Session.settle_jit)
    warm_up_rotations = 2
    #: the request kinds whose documents and walls each throughput metric
    #: adds up per rotation
    throughput_kinds = {
        "docs_per_s": (VERDICT,),
        "violation_docs_per_s": (VIOLATIONS,),
        "checkpoint_docs_per_s": (CHECKPOINT,),
    }

    def __init__(self, session: Session, seed: int) -> None:
        self.s = session
        self.spark = session.spark
        self.seed = seed
        self.work = session.work
        self.corpus = corpus.Corpus(self.spark, os.path.dirname(self.work))
        self.sizes: dict = {}
        self.checks: list[dict] = []
        self._last_check = 0.0

    # -- workload hooks ------------------------------------------------------------

    def prepare(self) -> None:
        """Choose this seed's inputs from the corpus (not part of setup)."""

    def open(self) -> None:
        """Open the inputs (part of setup)."""

    def request(self, i: int, kind: str, entry: str, warm_up: bool) -> dict:
        raise NotImplementedError

    def check(self) -> None:
        """Output checks, after the timed loop."""

    def scan_input(self) -> DataFrame:
        """The request input's columns, for the noop-sink scan probe."""
        raise NotImplementedError

    # -- output checks ----------------------------------------------------------------

    def _record_check(self, name: str, ok: bool, detail: Any) -> None:
        """Append an output check with the seconds spent since the last."""
        now = time.perf_counter()
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail,
                            "seconds": now - self._last_check})
        self._last_check = now

    def _check(self, name: str, ok: bool, detail: Any = None) -> None:
        """A check no single request answers: failing it fails them all."""
        self._record_check(name, ok, detail)
        if not ok:
            for rec in self.s.requests:
                rec["failed"] = True

    def _same_results(self, kind: str, expected: tuple) -> None:
        """Every request of ``kind`` returned ``expected``; the ones that
        did not are failed."""
        bad = [r for r in self.s.requests
               if r["kind"] == kind and r.get("result") != expected]
        for r in bad:
            r["failed"] = True
        self._record_check(f"{kind} results == reference", not bad,
                           {"expected": expected,
                            "got": sorted({r.get("result") for r in bad}, key=str)})

    def _sample_check(self, route: str, rows: list, want: dict) -> None:
        """Per-document verdicts and (keyword, pointer) violations of the
        timed route on the corpus sample, against the interpreter. The
        generator's duplicated rows repeat a doc_id with the same document."""
        errors = [r["doc_id"] for r in rows
                  if [r["valid"], sorted([v["keyword"], v["json_pointer"]]
                                         for v in (r["violations"] or []))]
                  != want[r["doc_id"]]]
        seen = {r["doc_id"] for r in rows}
        self._check(f"interpreter sample ({route})",
                    bool(rows) and not errors and seen == set(want),
                    {"docs": len(want), "rows": len(rows), "disagree": errors[:5]})

    # -- the run --------------------------------------------------------------------

    def execute(self, seconds: float, process_start: float) -> tuple[dict, dict]:
        s = self.s
        t = time.perf_counter()
        self.corpus.build()
        self.prepare()
        prepare_s = time.perf_counter() - t
        self.open()
        # warm-up requests count rotations from -warm_up_rotations
        n, first = len(self.rotation), -self.warm_up_rotations * len(self.rotation)
        for i in range(first, 0):
            self._run(i, *self.rotation[i % n], warm_up=True)
        settle_s = self.s.settle_jit()
        setup_s = time.perf_counter() - process_start - prepare_s

        cache0 = dict(plan_cache.stats)
        t_loop = time.perf_counter()
        deadline = t_loop + seconds
        # whole rotations, so that every run sends the kinds in equal numbers
        rounds = 0
        while rounds < MIN_ROTATIONS or time.perf_counter() < deadline:
            for j, (kind, entry) in enumerate(self.rotation):
                self._run(rounds * n + j, kind, entry, warm_up=False)
            rounds += 1
        loop_s = time.perf_counter() - t_loop
        hits = plan_cache.stats["hits"] - cache0["hits"]
        lookups = hits + plan_cache.stats["misses"] - cache0["misses"]

        if s.trace:
            # the first warm-up request again, now warm: validation.jit_s
            self._run(first, *self.rotation[0], warm_up=True)["jit_probe"] = True
        rss = peak_rss_mb()
        # the checks' worker processes get every core
        s.core_pin.unpin()
        t = self._last_check = time.perf_counter()
        self.check()
        oracle_s = time.perf_counter() - t
        probes = self._probes() if s.trace else {}

        # failed requests carry no timing; they count in error_rate
        timed = [r for r in s.requests if not r["warm_up"] and "result" in r]
        failed = sum(r["failed"] for r in s.requests)
        correct = failed == 0 and all(c["ok"] for c in self.checks)

        def throughput(kinds: tuple) -> tuple:
            """Median over the timed rotations of the documents of the
            rotation's requests of ``kinds`` over their summed wall."""
            recs = [r for r in timed if r["kind"] in kinds]
            rates = []
            for rot in sorted({r["rotation"] for r in recs}):
                rs = [r for r in recs if r["rotation"] == rot]
                rates.append(sum(r["docs"] for r in rs) / sum(r["wall"] for r in rs))
            return median(rates), "docs/s", len(recs)

        # the median over kinds of each kind's median latency: kinds differ
        # in cost, and a median over all requests would fall between kinds
        kinds = sorted({r["kind"] for r in timed})
        end_to_end = {
            "setup_s": (setup_s, "s", 1),
            **{name: throughput(ks) for name, ks in self.throughput_kinds.items()},
            "request_p50_s": (median([median(
                [r["wall"] for r in timed if r["kind"] == k]) for k in kinds]),
                "s", len(timed)),
            "peak_rss_mb": (rss, "MB", 1),
        }
        # reported, not gated: run to run they spread too widely on a
        # shared 4-core host for a bound of 25%
        json_throughput = {name: throughput((kind,)) for name, kind in (
            ("json_docs_per_s", JSON_VERDICT),
            ("json_violation_docs_per_s", JSON_VIOLATIONS))
            if any(r["kind"] == kind for r in timed)}
        report = {
            "workload": self.name, "seed": self.seed, "cpus": s.cpus,
            "py4j_core": s.core_pin.core,
            "trace": int(s.trace), "inputs": self.sizes,
            "prepare_s": prepare_s, "settle_s": settle_s, "oracle_s": oracle_s,
            "loop_s": loop_s,
            "rotations": rounds,
            "end_to_end": {k: {"value": v, "unit": u, "samples": n}
                           for k, (v, u, n) in end_to_end.items()},
            "json_throughput": {k: {"value": v, "unit": u, "samples": n}
                                for k, (v, u, n) in json_throughput.items()},
            "error_rate": failed / len(s.requests),
            "latency": _latency(timed),
            "checks": self.checks,
            "weather": _weather(timed),
            "plan_cache": {"hits": hits, "lookups": lookups},
            "requests": [_brief(r) for r in s.requests],
        }
        if s.trace:
            layers, extra = self._layers(timed, hits, lookups, probes, rounds)
            report["per_layer"] = {k: {"value": v, "unit": u}
                                   for k, (v, u) in layers.items()}
            report.update(extra)
            metrics = report["per_layer"]
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u, _n) in end_to_end.items()}
        final = {"correct": correct, "attempted": len(s.requests),
                 "failed": failed, "metrics": metrics}
        return report, final

    def _run(self, i: int, kind: str, entry: str, warm_up: bool) -> dict:
        n = len(self.s.requests)
        try:
            rec = self.request(i, kind, entry, warm_up)
        except Exception as exc:  # noqa: BLE001 - a failed request is counted
            rec = (self.s.requests[-1] if len(self.s.requests) > n
                   else self.s.new_record(kind, entry, 0, warm_up))
            rec.update(failed=True, error=f"{type(exc).__name__}: {exc}"[:500])
            rec.pop("result", None)
        rec["rotation"] = i // len(self.rotation)
        return rec

    def traced_query(self, i: int, kind: str, entry: str, docs: int,
                     input_df: DataFrame, build: Callable[[], DataFrame],
                     warm_up: bool) -> dict:
        """Session.query plus, when traced, scale_partitions timed on the
        request's input just before the request (a probe outside its wall)."""
        scale_s = None
        if self.s.trace:
            # the span carries the id of the request it precedes
            with self.s.tracer.span("parallelism.scale", self.s.next_id):
                t = time.perf_counter()
                scale_partitions(input_df)
                scale_s = time.perf_counter() - t
        rec = self.s.query(kind, entry, docs, build, warm_up=warm_up)
        rec["scale_s"] = scale_s
        return rec

    # -- traced run: per-layer metrics ----------------------------------------------

    def _probes(self) -> dict:
        """A noop-sink scan of the request input's columns, the floor under
        execution; median of three."""
        df = self.scan_input()
        walls = []
        for _ in range(3):
            with self.s.tracer.span("scan.noop"):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t)
        return {"scan_noop_s": median(walls)}

    def _layers(self, timed: list[dict], hits: int, lookups: int, probes: dict,
                rotations: int) -> tuple[dict, dict]:
        queries = [r for r in timed if r["kind"] != CHECKPOINT]
        by_kind = {k: [r for r in queries if r["kind"] == k] for k in QUERY_KINDS}
        ckpts = [r for r in timed if r["kind"] == CHECKPOINT]
        warm: dict = {}
        for r in self.s.requests:
            if r["warm_up"]:
                warm.setdefault(r["kind"], r)
        probe = [r for r in self.s.requests if r.get("jit_probe")]

        def med(kind: str, key: str) -> float:
            recs = queries if kind == "all" else by_kind[kind]
            return median([float(r[key]) for r in recs])

        def mean(key: str) -> float:
            # Catalyst reports whole milliseconds; a mean keeps the digits
            return statistics.fmean(float(r[key]) for r in queries)

        def per_doc(recs: list[dict]) -> float:
            return median([1e6 * r["tree_cpu_s"] / r["docs"] for r in recs])

        variant = [r for r in queries if r["route"] == "variant"]

        layers = {
            "lowering.build_s": (med("all", "build_s"), "s"),
            "lowering.py4j_calls": (med("all", "py4j_calls"), "count"),
            "plan_cache.hit_ratio": (hits / lookups if lookups else 0.0, "ratio"),
            "parallelism.scale_s": (med("all", "scale_s"), "s"),
            "catalyst.analysis_ms": (mean("analysis_ms"), "ms"),
            "catalyst.optimization_ms": (mean("optimization_ms"), "ms"),
            "catalyst.planning_ms": (mean("planning_ms"), "ms"),
            "catalyst.plan_chars": (med(VERDICT, "plan_chars"), "count"),
            "catalyst.violations_plan_chars": (med(VIOLATIONS, "plan_chars"), "count"),
            "catalyst.variant_plan_chars": (
                median([r["plan_chars"] for r in variant]), "count"),
            "catalyst.lambda_count": (med(VERDICT, "lambda_count"), "count"),
            "catalyst.variant_probe_count": (
                median([r["variant_probe_count"] for r in variant]), "count"),
            # per rotation, so that the counts do not depend on run length
            "catalyst.python_eval_nodes": (
                sum(r["python_eval_nodes"] for r in queries) / rotations, "count"),
            **{f"validation.route.{route}": (
                sum(r["route"] == route for r in queries) / rotations, "count")
               for route in ROUTES},
            "validation.exec_s": (med(VERDICT, "exec_s"), "s"),
            "validation.tree_cpu_s": (med(VERDICT, "tree_cpu_s"), "s"),
            "validation.cpu_us_per_doc": (per_doc(by_kind[VERDICT]), "us"),
            "validation.variant_exec_s": (
                median([r["exec_s"] for r in variant]), "s"),
            "validation.variant_cpu_us_per_doc": (per_doc(variant), "us"),
            "validation.shuffle_bytes": (med(VERDICT, "shuffle_bytes"), "bytes"),
            "validation.jit_s": (warm[VERDICT]["wall"] - median(
                [r["wall"] for r in probe]), "s"),
            "scan.noop_s": (probes["scan_noop_s"], "s"),
            "checkpointing.unit_s": (
                median([u for r in ckpts for u in r["unit_s"]]), "s"),
            "checkpointing.write_bytes_per_input_byte": (median(
                [r["write_bytes_per_input_byte"] for r in ckpts]), "ratio"),
            "checkpointing.warmup_s": (warm[CHECKPOINT]["warmup_s"], "s"),
        }
        tracer = self.s.tracer
        timed_ids = {r["id"] for r in timed}
        overhead = sum(sp["end"] - sp["start"] for sp in tracer.spans
                       if sp["name"] in ("trace.introspect", "parallelism.scale")
                       and sp["request"] in timed_ids)

        def share(recs: list[dict]) -> float:
            return median([(r["build_s"] + r["catalyst_s"]) / r["wall"] for r in recs])

        extra = {
            "self_time_s": tracer.self_times(),
            "tracing_overhead": {
                "seconds": overhead,
                "share_of_request_wall": overhead / sum(r["wall"] for r in timed)},
            "lowering_catalyst_share": {
                "all_queries": share(queries),
                **{k: share(v) for k, v in by_kind.items()}},
            "routes": {k: {route: sum(r["route"] == route for r in v)
                           for route in ROUTES} for k, v in by_kind.items()},
            "interpreter.worker_cpu_s": sum(r.get("worker_cpu_s", 0.0) for r in timed),
            "host.steal_cores": median([r["steal_cores"] for r in timed]),
            "host.external_cores": median([r["external_cores"] for r in timed]),
        }
        return layers, extra


def _latency(timed: list[dict]) -> dict:
    """Median and the highest percentile with ten samples beyond it, per
    request kind, with sample counts."""
    out = {}
    for kind in sorted({r["kind"] for r in timed}) + ["all"]:
        walls = [r["wall"] for r in timed if kind in ("all", r["kind"])]
        tail = tail_percentile(walls)
        out[kind] = {"samples": len(walls), "p50_s": median(walls),
                     "tail": None if tail is None
                     else {"percentile": tail[0], "value_s": tail[1]}}
    return out


def _brief(r: dict) -> dict:
    keep = ("id", "rotation", "kind", "entry", "docs", "warm_up", "failed",
            "error", "wall", "build_s", "exec_s", "tree_cpu_s", "result", "schema",
            "batch", "route", "plan_chars", "lambda_count", "variant_probe_count",
            "python_eval_nodes", "shuffle_bytes", "py4j_calls", "steal_cores",
            "external_cores")
    return {k: r[k] for k in keep if k in r}


def _weather(timed: list[dict]) -> dict:
    """Host load during the timed requests. A run is labelled noisy when the
    median request saw more than half a core stolen by the hypervisor or
    more than a quarter of the machine busy outside our process tree."""
    steal = median([r["steal_cores"] for r in timed])
    ext = median([r["external_cores"] for r in timed])
    cores = len(os.sched_getaffinity(0))
    return {"steal_cores_median": steal, "external_cores_median": ext,
            "noisy": steal > 0.5 or ext > 0.25 * cores}


def _sum_totals(reference: dict, part: str, shards: list[int]) -> tuple:
    return tuple(sum(reference[part][str(k)][i] for k in shards) for i in range(3))


# -- typed_spans ----------------------------------------------------------------------

class TypedSpans(Workload):
    """Seeded span documents: typed parquet, and the JSON form of some of
    the same documents."""

    name = "typed_spans"
    input_shards, checkpoint_shards, json_shards, files_per_unit = 6, 1, 1, 4
    rotation = ((VERDICT, "validate_spans_best"),
                (VIOLATIONS, "violation_rows_best"),
                (CHECKPOINT, "CheckpointedValidation.run"),
                (JSON_VIOLATIONS, "validate_json_column"))

    def prepare(self) -> None:
        typed_root, json_root = self.corpus.typed(), self.corpus.json()
        self.shards = corpus.choose(self.seed, "typed", corpus.SHARDS,
                                    self.input_shards)
        dirs = [f"{typed_root}/shard={k}" for k in self.shards]
        self.dir = os.path.join(self.work, "typed")
        self.ckpt_dir = os.path.join(self.work, "typed_checkpoint")
        self.json_dir = os.path.join(self.work, "json")
        corpus.link_files(dirs, self.dir)
        corpus.link_files(dirs[:self.checkpoint_shards], self.ckpt_dir)
        self.json_shard_dirs = [f"{json_root}/shard={k}"
                                for k in self.shards[:self.json_shards]]
        self.typed_json_dirs = dirs[:self.json_shards]
        corpus.link_files(self.json_shard_dirs, self.json_dir)
        self.reference = corpus.reference_totals()
        self.docs = self._totals("typed")[0]
        self.ckpt_docs = self._totals("typed", self.checkpoint_shards)[0]
        self.json_docs = self._totals("json", self.json_shards)[0]
        self.sizes = {"shards": self.shards, "rows": self.docs,
                      "checkpoint_rows": self.ckpt_docs, "json_rows": self.json_docs}

    def _totals(self, part: str, shards: int = 0) -> tuple:
        """Interpreter totals over the first ``shards`` input shards (all
        when 0)."""
        return _sum_totals(self.reference, part, self.shards[:shards or None])

    def open(self) -> None:
        self.df = self.spark.read.parquet(self.dir)
        self.jdf = self.spark.read.parquet(self.json_dir)

    def scan_input(self) -> DataFrame:
        return self.df.select("doc_id", "spans")

    def request(self, i: int, kind: str, entry: str, warm_up: bool) -> dict:
        df, jdf = self.df, self.jdf
        if kind == CHECKPOINT:
            return self.s.checkpoint(kind, entry, self.ckpt_docs, self.ckpt_dir,
                                     SPAN_SCHEMA, self.files_per_unit,
                                     warm_start=warm_up, warm_up=warm_up)
        build, docs, source = {
            VERDICT: (lambda: verdict_agg(validate_spans_best(
                df, SPAN_SCHEMA, keep_cols=["doc_id"])), self.docs, df),
            VIOLATIONS: (lambda: row_count(violation_rows_best(
                df, SPAN_SCHEMA, id_cols=["doc_id"])), self.docs, df),
            JSON_VIOLATIONS: (lambda: violation_count(validate_json_column(
                jdf, "doc", SPAN_SCHEMA)), self.json_docs, jdf),
        }[kind]
        return self.traced_query(i, kind, entry, docs, source, build, warm_up)

    def check(self) -> None:
        """Every request against the committed interpreter totals; on the
        JSON shard, the typed and JSON routes against each other and the
        interpreter, in total and document by document on a sample."""
        full = self._totals("typed")
        self._same_results(VERDICT, full[:2])
        self._same_results(VIOLATIONS, full[2:])
        self._same_results(CHECKPOINT, self._totals("typed", self.checkpoint_shards))
        reference = self._totals("json", self.json_shards)
        self._same_results(JSON_VIOLATIONS, reference[2:])
        typed_docs = self.spark.read.parquet(*self.typed_json_dirs)
        typed = tuple(typed_totals(
            typed_docs.where(corpus.doc_index() % corpus.JSON_EVERY == 0)))
        js = tuple(corpus.json_totals(self.jdf))
        self._check("cross-route typed == json == interpreter (JSON documents)",
                    typed == js == reference,
                    {"typed": typed, "json": js, "interpreter": reference})
        want = corpus.interpreter_sample(self.json_shard_dirs)
        rows = validate_spans_best(typed_docs.where(F.col("doc_id").isin(list(want))),
                                   SPAN_SCHEMA).collect()
        self._sample_check("validate_spans_best", rows, want)
        rows = validate_json_column(
            self.jdf.where(F.col("doc_id").isin(list(want))), "doc",
            SPAN_SCHEMA).collect()
        self._sample_check("validate_json_column", rows, want)

        if self.seed == KNOWN_TOTALS_SEED:
            for n, expected in KNOWN_TOTALS.items():
                known = self.spark.read.parquet(self.corpus.known(n, self.seed))
                got = tuple(typed_totals(known))
                self._check(f"known totals at {n} docs, seed {self.seed}",
                            got == expected, {"want": expected, "got": got})


# -- schema_churn ----------------------------------------------------------------------

class SchemaChurn(Workload):
    """Small batches, each validated against a schema from the seeded pool;
    entry points rotate."""

    name = "schema_churn"
    rotation = ((VERDICT, "validate_spans_best"),
                (VIOLATIONS, "violation_rows_best"),
                (JSON_VERDICT, "validate_json_column(verdict_only=True)"),
                (DATAFRAME_VERDICT, "validate_dataframe"),
                (JSON_VIOLATIONS, "validate_json_column"),
                (CHECKPOINT, "CheckpointedValidation.run"))
    #: size rank (0 = smallest) of the batch each rotation position gets: the
    #: JSON requests cost about 0.3 ms per document, the typed ones mostly
    #: their build, so the JSON requests get the two smallest batches and a
    #: rotation stays short
    size_rank = (2, 3, 1, 4, 0, 5)
    #: every request compiles new code, and after two warm-up rotations the
    #: first timed rotation was still the slowest in most runs
    warm_up_rotations = 3
    throughput_kinds = {
        "docs_per_s": (VERDICT, JSON_VERDICT, DATAFRAME_VERDICT),
        "violation_docs_per_s": (VIOLATIONS, JSON_VIOLATIONS),
        "checkpoint_docs_per_s": (CHECKPOINT,),
    }

    def prepare(self) -> None:
        typed_root, json_root = self.corpus.batches()
        self.chosen = corpus.choose_batches(self.seed)
        self.batch_dirs = [f"{typed_root}/batch={b}" for b in self.chosen]
        self.json_dirs = [f"{json_root}/batch={b}" for b in self.chosen]
        self.pool = schema_pool(self.seed)
        self.schedule = draw_schedule(self.seed, 1_000)
        self.batch_rows = [pq.read_table(d, columns=["doc_id"]).num_rows
                           for d in self.batch_dirs]
        self.sizes = {"batches": self.chosen, "rows_per_batch": self.batch_rows,
                      "pool": [len(self.pool), len(self.pool[0])]}

    def open(self) -> None:
        self.typed = [self.spark.read.parquet(d) for d in self.batch_dirs]
        self.json = [self.spark.read.parquet(d) for d in self.json_dirs]

    def scan_input(self) -> DataFrame:
        return self.typed[0].select("doc_id", "spans")

    def request(self, i: int, kind: str, entry: str, warm_up: bool) -> dict:
        """The entry point at rotation position ``k`` always gets schema
        family ``k`` and the batch of size rank ``size_rank[k]``, whatever
        the seed."""
        k = i % len(self.rotation)
        rnd = i // len(self.rotation) + self.warm_up_rotations
        schema_id = (k, self.schedule[rnd][k])
        schema = self.pool[k][schema_id[1]]
        b = self.size_rank[k]
        t, j, docs = self.typed[b], self.json[b], self.batch_rows[b]
        if kind == CHECKPOINT:
            rec = self.s.checkpoint(kind, entry, docs, self.batch_dirs[b], schema,
                                    32, warm_start=warm_up, warm_up=warm_up)
        else:
            build = {
                "validate_spans_best": lambda: verdict_agg(
                    validate_spans_best(t, schema, keep_cols=["doc_id"])),
                "violation_rows_best": lambda: row_count(
                    violation_rows_best(t, schema, id_cols=["doc_id"])),
                "validate_dataframe": lambda: verdict_agg(
                    validate_dataframe(t, schema)),
                "validate_json_column(verdict_only=True)": lambda: verdict_agg(
                    validate_json_column(j, "doc", schema, verdict_only=True)),
                "validate_json_column": lambda: violation_count(
                    validate_json_column(j, "doc", schema)),
            }[entry]
            source = j if kind in (JSON_VERDICT, JSON_VIOLATIONS) else t
            rec = self.traced_query(i, kind, entry, docs, source, build, warm_up)
        rec.update(schema=schema_id, batch=self.chosen[b], batch_index=b)
        return rec

    def check(self) -> None:
        """Every request against the interpreter over its whole batch. The
        Spark work is over, so the interpreter runs in one worker process
        per core."""
        checked = [r for r in self.s.requests if "result" in r]
        keys = sorted({(r["batch_index"], r["schema"]) for r in checked}, key=str)
        # read only now, so that the driver holds no oracle data while timed
        batch_docs = [[json.loads(doc) for doc in pq.read_table(
            d, columns=["doc"]).column("doc").to_pylist()] for d in self.json_dirs]
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(max_workers=self.s.cpus, mp_context=ctx) as pool:
            futures = {(b, (f, v)): pool.submit(interpreter_counts, self.pool[f][v],
                                                batch_docs[b])
                       for b, (f, v) in keys}
            expected = {key: f.result() for key, f in futures.items()}
        # the pool started multiprocessing's resource tracker; stop it too
        resource_tracker._resource_tracker._stop()
        mismatches = []
        for rec in checked:
            n, valid, viols = expected[(rec["batch_index"], rec["schema"])]
            want = {VERDICT: (n, valid), JSON_VERDICT: (n, valid),
                    DATAFRAME_VERDICT: (n, valid),
                    VIOLATIONS: (viols,), JSON_VIOLATIONS: (viols,),
                    CHECKPOINT: (n, valid, viols)}[rec["kind"]]
            if rec["result"] != want:
                rec["failed"] = True
                mismatches.append({"request": rec["id"], "entry": rec["entry"],
                                   "schema": rec["schema"], "batch": rec["batch"],
                                   "want": want, "got": rec["result"]})
        self._record_check("every request == interpreter over its batch",
                           not mismatches, {"schemas_x_batches": len(keys),
                                            "mismatches": mismatches[:5]})


def make_workload(name: str, session: Session, seed: int) -> Workload:
    cls = {c.name: c for c in (TypedSpans, SchemaChurn)}[name]
    return cls(session, seed)
