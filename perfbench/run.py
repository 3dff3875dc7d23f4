"""Repository benchmark: one workload per process, closed loop, one client.

Usage (from the repository root):

    python3 perfbench/run.py --workload typed_spans --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for the reasons behind each):

- ``typed_spans``: seeded span documents as multi-file parquet, and some of
  them as a JSON string column; verdict, violation-row, checkpointed and
  JSON (variant path) requests in rotation.
- ``schema_churn``: small batches, each validated against a schema drawn
  from a seeded pool larger than plan_cache's cap; entry points rotate.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around each layer call and prints the per-layer metrics. The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a JSON report with per-request detail, output checks,
host weather and (traced) self time per layer. The exit code is 1 when an
output check fails.
"""

from __future__ import annotations

import time

#: setup_s counts from here, before the heavy imports
_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("typed_spans", "schema_churn")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_checkout(work: str) -> bool:
    """Make ``work`` the scratch directory of Spark, the JVM and the Python
    workers, and the repository importable from all of them; False when
    this is not a checkout of the engine."""
    if not (os.path.isdir(os.path.join(ROOT, "json_schema_lean_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print("perfbench: run from a checkout that holds json_schema_lean_spark/"
              " and bench.py", file=sys.stderr)
        return False
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    return True


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    if not prepare_checkout(work):
        return 2
    from engine import Session  # noqa: E402  (needs the paths above)
    from workloads import make_workload  # noqa: E402

    try:
        with Session(work, trace=bool(args.trace)) as session:
            report, final = make_workload(args.workload, session, args.seed) \
                .execute(args.seconds, _PROCESS_START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.jsonl")
        session.tracer.write(path)
        report["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(report, sort_keys=True, default=str))
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
