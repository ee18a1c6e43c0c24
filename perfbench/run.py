#!/usr/bin/env python3
"""Record-linkage benchmark: one workload per invocation, one driver process
on local[4], a closed loop with one caller.

    python3 perfbench/run.py --workload self_dense --seed 1 --seconds 20 --trace 0

Set-up (session start, input generation, warm-up run) is timed as
``setup_s``; then whole pipeline runs repeat until ``--seconds`` have passed
and two were made.  Every run's output is checked against truth derived from
the generated inputs.  ``--trace 1`` makes, after the same set-up, one traced
run with a span around each layer call and two append batches through the
incremental store, and prints per-layer metrics instead.  Human-readable
lines come first; the last line of stdout is the JSON result.  Run from the
repository root; scratch files go under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
# Timed runs always made, however long they take, so the reported median is
# never one sample.  The driver's peak RSS is read right after them, at the
# same point of every invocation, since its high-water mark keeps rising run
# by run while the collector grows the heap.
MIN_RUNS = 2


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK, and make
    the package importable by the driver and by Python workers."""
    # traces/ is kept: it holds the span files of earlier traced runs
    for sub in ("tmp", "spark-local", "store"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    for sub in ("tmp", "spark-local", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _session():
    from record_linkage_ldu_spark.session import build_session

    tmp = os.path.join(WORK, "tmp")
    spark = build_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            # the session's own heap settings are kept; these only keep the
            # JVM's temp and perf-data files out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Runner:
    """Runs and checks operations, counting attempts and failures."""

    def __init__(self, workload: str, spark, inputs):
        self.workload = workload
        self.inputs = inputs
        self.pipeline = inputs.pipeline(spark)
        self.attempted = 0
        self.failed = 0
        self.reference_hash: str | None = None
        self.f1: float | None = None

    def op(self) -> float | None:
        """One checked pipeline run; returns its wall time, None if it failed."""
        from workloads import check_output, cluster_hash, pair_f1, run_pipeline

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = run_pipeline(self.pipeline, self.inputs)
        except Exception:  # a failed operation is counted, the loop goes on
            self.failed += 1
            print(f"operation {self.attempted} raised:", file=sys.stderr)
            traceback.print_exc()
            return None
        wall = time.perf_counter() - t0
        problems = check_output(out, self.inputs, self.reference_hash)
        if problems:
            self.failed += 1
            print(f"operation {self.attempted} failed the output check: {problems}")
            return None
        if self.reference_hash is None:
            self.reference_hash = cluster_hash(out.clusters)
            self.f1 = pair_f1(out.edges, self.inputs)
        return wall


def _traced_layers(spark, runner: Runner, tracer) -> dict:
    """One traced pipeline run; returns the per-layer metrics."""
    from tracing import LAYERS, layer_probes

    from pyspark.sql import functions as F
    from workloads import check_output, run_pipeline

    inputs = runner.inputs
    seen: dict = defaultdict(list)
    runner.attempted += 1
    with tracer.span(f"run:{runner.workload}"), layer_probes(tracer, seen):
        out = run_pipeline(runner.pipeline, inputs)
    problems = check_output(out, inputs, runner.reference_hash)
    if problems:
        runner.failed += 1
        print(f"traced operation failed the output check: {problems}")

    def rows(key: str) -> int:
        return sum(df.count() for df in seen[key])

    n_records, n_pairs = rows("records"), rows("pairs")
    n_scored, n_matches = rows("scored"), rows("matches")
    flow = {
        "spans": (inputs.docs, n_records),
        "blocking": (n_records, n_pairs),
        "scoring": (n_pairs, n_scored),
        "rules": (n_scored, n_matches),
        "cc": (n_matches, rows("clusters")),
    }
    m: dict = {}
    for layer in LAYERS:
        c = tracer.counters(layer)
        c["core_util"] = c["task_s"] / (c["wall_s"] * CORES) if c["wall_s"] else 0.0
        c["rows_in"], c["rows_out"] = flow[layer]
        m.update({f"{layer}.{k}": v for k, v in c.items()})

    # blocking: key volume, drops and how much of the truth the pairs reach
    bc = runner.pipeline.cfg.blocking
    truth = spark.createDataFrame(
        list(inputs.entity_of.items()), "doc_id string, entity long"
    )
    reached = sum(
        p.join(truth.toDF("doc_id_1", "e1"), "doc_id_1")
        .join(truth.toDF("doc_id_2", "e2"), "doc_id_2")
        .where(F.col("e1") == F.col("e2"))
        .count()
        for p in seen["pairs"]
    )
    m["blocking.key_rows"] = rows("keys")
    m["blocking.dropped_blocks"] = sum(
        c.where(F.col("block_size") > bc.max_block_size * bc.salt_drop_factor).count()
        for c in seen["census"]
    )
    m["blocking.pairs_per_doc"] = n_pairs / inputs.docs
    m["blocking.pair_yield"] = n_matches / n_pairs if n_pairs else 0.0
    m["blocking.pair_recall"] = reached / inputs.true_pairs
    m["scoring.pairs_per_task_s"] = (
        n_pairs / m["scoring.task_s"] if m["scoring.task_s"] else 0.0
    )
    sizes: dict = {}
    for _, cid in out.clusters:
        sizes[cid] = sizes.get(cid, 0) + 1
    m["cc.largest_cluster"] = max(sizes.values(), default=0)
    return m


def _traced_store(spark, runner: Runner, tracer) -> dict:
    """Append the workload's documents in two batches to a fresh incremental
    store; metrics describe the second batch, the first one into a store
    that already exists."""
    from record_linkage_ldu_spark.streaming.incremental import (
        incremental_linkage_batch,
        store_stats,
    )

    store = os.path.join(WORK, "store")
    stats: dict = {}
    span: dict = {}
    for batch in runner.inputs.append_batches:
        runner.attempted += 1
        with tracer.span("incremental") as span:
            stats = incremental_linkage_batch(spark, batch, store)
    if stats["docs"] != runner.inputs.docs:
        runner.failed += 1
        print(f"incremental store holds {stats['docs']} docs, expected {runner.inputs.docs}")
    with tracer.span("store"):
        snap = store_stats(spark, store)
    return {
        "incremental.batch_wall_s": span["end"] - span["start"],
        "incremental.jobs_per_batch": span["last_job"] - span["first_job"] + 1,
        "incremental.pairs_scored": stats["pairs_scored"],
        "incremental.candidate_key_rows": stats["candidate_key_rows"],
        "store.files": sum(t["files"] for t in snap["tables"].values()),
        "store.mb_per_doc": _dir_bytes(store) / 2**20 / snap["live_docs"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "record_linkage_ldu_spark")):
        print(f"record_linkage_ldu_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _prepare_env()

    t0 = time.perf_counter()
    spark = _session()
    try:
        session_s = time.perf_counter() - t0
        t = time.perf_counter()
        inputs = WORKLOADS[args.workload](spark, args.seed, args.size)
        gen_s = time.perf_counter() - t
        runner = Runner(args.workload, spark, inputs)
        # the warm-up run fills the JIT and codegen caches and fixes the
        # reference cluster hash every later run must match
        t = time.perf_counter()
        runner.op()
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t0
        print(
            f"setup: session {session_s:.2f}s, inputs {gen_s:.2f}s, warm-up {warm_s:.2f}s; "
            f"{inputs.docs} docs, {inputs.true_pairs} true pairs"
        )

        if args.trace:
            from tracing import LAYERS, Tracer

            run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
            tracer = Tracer(spark, run_id)
            metrics = _traced_layers(spark, runner, tracer)
            metrics["trace.eager_sum_s"] = sum(metrics[f"{x}.wall_s"] for x in LAYERS)
            metrics.update(_traced_store(spark, runner, tracer))
            metrics["driver.peak_rss_mb"] = _peak_rss_mb(spark)
            tracer.write(os.path.join(WORK, "traces", f"{run_id}.json"), metrics)
        else:
            # closed loop: the next run starts when the last one returned
            t = time.perf_counter()
            walls = [runner.op() for _ in range(MIN_RUNS)]
            peak_rss_mb = _peak_rss_mb(spark)
            while time.perf_counter() - t < args.seconds:
                walls.append(runner.op())
            walls = [w for w in walls if w is not None]
            print(f"timed runs: {len(walls)}, wall s {[round(w, 3) for w in walls]}")
            # with no run passing its check the result is marked incorrect;
            # 0 keeps the JSON valid
            p50 = statistics.median(walls) if walls else 0.0
            metrics = {
                "setup_s": setup_s,
                "docs_per_s": inputs.docs / p50 if p50 else 0.0,
                "pair_f1": runner.f1 or 0.0,
            }
            # printed, not bounded: whether G1 grows the heap within the
            # window makes it bimodal from one invocation to the next
            print(f"{args.workload} peak_rss_mb = {peak_rss_mb} MB")
        failed_frac = runner.failed / runner.attempted
    finally:
        _stop(spark)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value} {units[name]}")
    print(f"{args.workload} failed_frac = {failed_frac} ({runner.failed}/{runner.attempted})")
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    shutil.rmtree(os.path.join(WORK, "store"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
