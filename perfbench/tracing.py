"""Spans and Spark counters for the traced benchmark run.

Spans are recorded from the benchmark's side, around the pipeline's calls
into each layer's public function.  The probes force each layer's output
with an eager ``localCheckpoint`` (as tools/profile_phases.py does), so a
layer's span holds the jobs that compute it.  Jobs are attributed to a span
by job-id window: the pipeline submits some jobs from its own threads, so
job groups would miss them.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

LAYERS = ("spans", "blocking", "scoring", "rules", "cc")
MB = 1024 * 1024


class Tracer:
    """In-memory span recorder: name, start, end, parent and run id, plus the
    window of Spark job ids each span covers.  ``write`` dumps it as JSON."""

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._layer: dict | None = None
        self._origin = time.perf_counter()
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seq = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def _jobs(self) -> list:
        return list(self._seq(self._store.jobsList(None)))

    def _last_job_id(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def begin(self, name: str) -> dict:
        span = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "first_job": self._last_job_id() + 1,
            "start": time.perf_counter() - self._origin,
        }
        self.spans.append(span)
        self._open.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter() - self._origin
        span["last_job"] = self._last_job_id()
        self._open.remove(span)

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def switch(self, layer: str | None) -> None:
        """Close the open layer span and open ``layer`` (None: open none)."""
        if self._layer is not None:
            self.end(self._layer)
        self._layer = self.begin(layer) if layer else None

    def counters(self, name: str) -> dict:
        """Summed wall time and Spark counters of all spans called ``name``."""
        spans = [s for s in self.spans if s["name"] == name]
        windows = [(s["first_job"], s["last_job"]) for s in spans]
        jobs, stage_ids = 0, set()
        for job in self._jobs():
            if any(lo <= job.jobId() <= hi for lo, hi in windows):
                jobs += 1
                stage_ids.update(self._seq(job.stageIds()))
        task_ms, shuffle_b, spill_b, failed = 0, 0, 0, 0
        durations: list[int] = []
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the status store
                continue
            failed += st.numFailedTasks()
            if st.status().toString() == "SKIPPED":
                continue
            task_ms += st.executorRunTime()
            shuffle_b += st.shuffleWriteBytes()
            spill_b += st.diskBytesSpilled()
            for task in self._seq(
                self._store.taskList(sid, st.attemptId(), st.numTasks())
            ):
                metrics = task.taskMetrics()
                if metrics.isDefined():
                    durations.append(metrics.get().executorRunTime())
        wall = sum(s["end"] - s["start"] for s in spans)
        task_s = task_ms / 1000
        return {
            "wall_s": wall,
            "task_s": task_s,
            "jobs": jobs,
            "shuffle_write_mb": shuffle_b / MB,
            "spill_mb": spill_b / MB,
            "task_p50_s": statistics.median(durations) / 1000 if durations else 0.0,
            "task_max_s": max(durations, default=0) / 1000,
            "failed_tasks": failed,
        }

    def write(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "metrics": metrics}, f, indent=1)


@contextmanager
def layer_probes(tracer: Tracer, seen: dict):
    """Route the linkage plans' calls into each layer's public function
    through spans, pinning each layer's output so its work lands in its span.

    Layer boundaries, in pipeline order:
      spans    = operators.spans.normalize_fields (over extract_fields)
      blocking = from there until the pair table reaches scoring
      scoring  = operators.scoring.attach_pair_sides .. with_combined_score
      rules    = operators.rules.match
      cc       = operators.cc.connected_components
    ``seen`` collects each layer's pinned output (and the blocking key and
    census tables) for row counts taken after the run.
    """
    import record_linkage_ldu_spark.plans.linkage as plan
    from record_linkage_ldu_spark.operators import blocking, rules

    orig = {
        "normalize_fields": plan.normalize_fields,
        "attach_pair_sides": plan.attach_pair_sides,
        "with_combined_score": plan.with_combined_score,
        "match": rules.match,
        "connected_components": plan.connected_components,
        "block_keys": blocking.block_keys,
        "block_census": blocking.block_census,
    }

    def pin(key: str, df):
        df = df.localCheckpoint(eager=True)
        seen[key].append(df)
        return df

    def normalize_fields(*a, **k):
        tracer.switch("spans")
        out = pin("records", orig["normalize_fields"](*a, **k))
        tracer.switch("blocking")
        return out

    def attach_pair_sides(pairs, *a, **k):
        pairs = pin("pairs", pairs)
        tracer.switch("scoring")
        return orig["attach_pair_sides"](pairs, *a, **k)

    def with_combined_score(*a, **k):
        out = pin("scored", orig["with_combined_score"](*a, **k))
        tracer.switch("rules")
        return out

    def match(*a, **k):
        out = pin("matches", orig["match"](*a, **k))
        tracer.switch("cc")
        return out

    def connected_components(*a, **k):
        out = pin("clusters", orig["connected_components"](*a, **k))
        tracer.switch(None)
        return out

    def block_keys(*a, **k):
        out = orig["block_keys"](*a, **k)
        seen["keys"].append(out)
        return out

    def block_census(*a, **k):
        out = orig["block_census"](*a, **k)
        seen["census"].append(out)
        return out

    patches = [
        (plan, "normalize_fields", normalize_fields),
        (plan, "attach_pair_sides", attach_pair_sides),
        (plan, "with_combined_score", with_combined_score),
        (rules, "match", match),
        (plan, "connected_components", connected_components),
        (blocking, "block_keys", block_keys),
        (blocking, "block_census", block_census),
    ]
    for mod, name, fn in patches:
        setattr(mod, name, fn)
    try:
        yield
    finally:
        tracer.switch(None)
        for mod, name, _ in patches:
            setattr(mod, name, orig[name])
