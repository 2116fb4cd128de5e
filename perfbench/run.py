"""Benchmark of the join-search engine as a user drives it.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root. The program under test is the wide posting
index over an sf0.1-shaped lake (generated here from a fixed seed, see
``inputs.py``), driven by one closed-loop client on ``local[nproc]``:

- ``search``: over the in-memory index, cycles of two single searches
  (``multi_attribute_join_search``, one rare-key and one hot-key query
  table; per-request costs dominate) and one
  batch of 8 query tables (``multi_attribute_join_search_batch``, the
  shared index-side work dominates);
- ``index_ingest``: a floored store is built, then cycles of one landing
  table appended (``append_floored_index``) and one search of the fresh
  store (``read_floored_index``).

The window runs whole cycles until ``--seconds`` have passed, so every run
sends the same mix of requests.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics (``END_TO_END``), with ``--trace 1`` the per-layer
metrics (``PER_LAYER``) of a traced run. Every workload reports every
metric; a per-layer metric of a layer the workload does not exercise is
0. The line before it (``# context``) holds the input digest, the tail
percentile and sample count, CPU steal and the correctness failures.
Every search and batch result, and the final store, is compared with a
DuckDB oracle after the timed window; a mismatch or an exception counts
as a failed operation.

The end-to-end metrics, per workload:

- ``setup_s``: from the start of set-up (after the benchmark generated its
  inputs) to the first timed request: session start, index or store build
  (lake load included) and one warm-up search. Set-up runs once per run:
  a second one would not fit the run's time;
- ``search_p50_s`` / ``search_tail_s``: median and tail latency of a
  single search. The tail is the highest percentile with ten samples
  above it, or the maximum when a run has ten samples or fewer;
- ``queries_per_s``: query tables answered (8 per batch) per second of
  request time;
- ``index_write_p50_s``, ``index_postings_per_s``: index writes — the
  in-memory index build on ``search``, the appends on ``index_ingest``;
- ``index_bytes_per_posting``: the in-memory index's size, or the
  on-disk store's, per posting;
- ``peak_rss_mb``: VmHWM of the Spark JVM plus this Python process. The
  JVM heap is fixed at 2 GB and touched at start-up, so the metric moves
  with memory held outside the heap (Python, Arrow and Netty buffers,
  metaspace, code cache), not with how far the JVM chose to grow it.

Everything a run writes stays under ``perfbench/.work`` (removed at
exit) and, for traced runs, ``perfbench/.out`` (the span file).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = "multi_attribute_join_search_with_mapreduce_spark"

END_TO_END = {
    "setup_s": "s",
    "search_p50_s": "s",
    "search_tail_s": "s",
    "queries_per_s": "1/s",
    "index_write_p50_s": "s",
    "index_postings_per_s": "1/s",
    "index_bytes_per_posting": "B",
    "peak_rss_mb": "MB",
}

# Per-layer metrics of a traced run, grouped under the end-to-end metric
# each should move, and on which workload. Times are medians of self times
# (a span's duration minus its children's).
PER_LAYER = {
    # setup_s on both workloads
    "session.start_s": "s",
    "lake.load_s": "s",  # build_posting_index's own load_table calls
    # setup_s and index_write_p50_s on search; setup_s on index_ingest
    "index.build_s": "s",
    "index.postings": "count",
    # index_write_p50_s, index_postings_per_s and index_bytes_per_posting
    # on index_ingest
    "index.append_s": "s",
    "index.append_postings": "count",
    "index.store_bytes": "B",
    "index.store_files": "count",
    # search_p50_s on index_ingest
    "index.read_s": "s",
    # search_p50_s: planning is about a third of a single search; it
    # should barely move queries_per_s, which batches dominate
    "search.plan_s": "s",
    # search_p50_s and search_tail_s
    "search.exec_s": "s",
    "search.jobs": "count",
    "search.stages": "count",
    "search.tasks": "count",
    "search.exchanges": "count",
    # the four search_stages phases, each stage persisted before the next
    # is timed: import moves search_p50_s on small query tables; probe and
    # join discovery move search_tail_s on hot keys, and queries_per_s
    "search.import_s": "s",
    "search.probe_s": "s",
    "search.join_discovery_s": "s",
    "search.scoring_s": "s",
    # useful work: search_tail_s and queries_per_s
    "search.probed_postings": "count",
    "search.matched_rows": "count",
    "search.match_yield": "ratio",
    # queries_per_s on search (the batch request)
    "batch.plan_s": "s",
    "batch.exec_s": "s",
    "batch.jobs": "count",
    "batch.exchanges": "count",
    "batch.probed_postings": "count",
    # the client's own time inside a request, and the tracing overhead:
    # traced minus untraced latency of the same search
    "request.self_s": "s",
    "trace.overhead_s": "s",
}

WORKLOAD_NAMES = ("search", "index_ingest")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--scale", type=float, default=0.1, help="lake scale factor (0.01 for smoke tests)")
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(BENCH)]
    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for d in ("tmp", "local", "lake"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    run = None
    try:
        import inputs

        lake = inputs.lake_frames(args.scale)
        inputs.write_parquet(lake, work / "lake")
        t_setup = time.perf_counter()
        import workloads

        run = workloads.Run(
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            work=work,
            lake_dir=work / "lake",
            lake=lake,
            t_setup=t_setup,
        )
        workloads.WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run is not None and run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        for name, unit in PER_LAYER.items():
            run.layer.setdefault(name, (0, unit))
        chosen, catalog = run.layer, PER_LAYER
        out = BENCH / ".out" / f"trace-{args.workload}-{args.seed}.json"
        self_times = run.tracer.self_time_by_name()
        run.tracer.write(out, {"context": run.context, "self_times": self_times})
    else:
        chosen, catalog = run.metrics, END_TO_END
    missing = sorted(set(catalog) - set(chosen))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {
        name: {"value": chosen[name][0], "unit": unit} for name, unit in catalog.items()
    }
    context = dict(run.context, failures=run.failures[:5])
    context.pop("job_counts", None)
    print("# context " + json.dumps(context, default=str))
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
