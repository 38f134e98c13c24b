"""Per-layer tracing for the benchmark's traced mode (``--trace 1``).

Spans are recorded from the benchmark's own files: the public layer
functions and ``TableIO.write/read/append`` are wrapped at module-attribute
level, so the unmodified ``Runner.run``, ``Runner.run_incremental`` and
``probe_stream`` pick the wrappers up through their normal attribute
lookups. Each span records its name, layer, start, end, parent and
operation id, and sets its own Spark job group so jobs, tasks and shuffle
bytes can be charged to the innermost span that ran them. Spans stay in
memory; ``Tracer.layer_metrics`` aggregates them after the run.

Layer functions mostly return lazy plans. The Runner computes a stage's
plan when ``TableIO.write`` materializes it, so a stage write is charged to
the layer that built the plan (``STAGE_LAYER``); every other table access
is charged to ``io``.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import time

LAYERS = (
    "assemble", "simhash", "blocking", "scoring", "clustering",
    "incremental", "io", "runner", "probe", "probe_stream",
)

# (module, attribute, layer)
WRAPPED = (
    ("hexspark.pipeline.assemble", "assemble_conversations", "assemble"),
    ("hexspark.pipeline.simhash", "signatures", "simhash"),
    ("hexspark.pipeline.blocking", "candidate_pairs_wide", "blocking"),
    ("hexspark.pipeline.scoring", "score_wide", "scoring"),
    ("hexspark.pipeline.clustering", "connected_components", "clustering"),
    ("hexspark.pipeline.clustering", "with_singletons", "clustering"),
    ("hexspark.pipeline.incremental", "incremental_update", "incremental"),
    ("hexspark.pipeline.incremental", "merge_clusters", "incremental"),
    ("hexspark.pipeline.probe", "reps_with_radius", "probe"),
    ("hexspark.streaming.probe", "probe_stream", "probe_stream"),
)

# Which layer's lazy plan a table write computes, per operation kind.
# stage_metrics appends compute metrics.partition_metrics over the re-read
# stage: Runner bookkeeping. A fold's edges are already persisted and its
# signatures write is a union rewrite, so both are plain io; its clusters
# write computes merge_clusters' re-expansion.
STAGE_LAYER = {
    "resolve": {
        "conversations": "assemble",
        "signatures": "simhash",
        "candidate_pairs": "blocking",
        "skipped_blocks": "blocking",
        "edges": "scoring",
        "clusters": "clustering",
        "stage_metrics": "runner",
    },
    "fold": {"clusters": "incremental", "stage_metrics": "runner"},
}


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class NullTracer:
    """Untraced mode: the same interface, no spans, no job groups."""

    enabled = False

    @contextlib.contextmanager
    def operation(self, op_id: str, kind: str, layer: str = "runner"):
        yield

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        yield


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None
        self._kind: str | None = None
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def operation(self, op_id: str, kind: str, layer: str = "runner"):
        """Root span of one measured operation; its self time is the
        operation's wall time outside every layer span."""
        self._op, self._kind = op_id, kind
        try:
            with self.span(f"op.{kind}", layer) as s:
                yield s
        finally:
            self._op = self._kind = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if self._op is None:  # layer calls outside an operation are not traced
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans), "name": name, "layer": layer, "op": self._op,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["group"], name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- wrapping ------------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrap_fn(getattr(mod, attr), f"{mod_name.rsplit('.', 1)[1]}.{attr}", layer))
        from hexspark.pipeline.io import TableIO

        for verb in ("write", "append", "read"):
            self._patch(TableIO, verb, self._wrap_io(getattr(TableIO, verb), verb))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def _patch(self, owner, attr: str, replacement) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def _wrap_fn(self, fn, name: str, layer: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def _wrap_io(self, method, verb: str):
        tracer = self

        def traced(io, *args, **kwargs):
            if tracer._op is None:
                return method(io, *args, **kwargs)
            table = kwargs["name"] if "name" in kwargs else args[0 if verb == "read" else 1]
            layer = "io" if verb == "read" else STAGE_LAYER.get(tracer._kind, {}).get(table, "io")
            with tracer.span(f"io.{verb}:{table}", layer) as s:
                before = tree_size(io._path(table)) if verb == "append" else (0, 0)
                out = method(io, *args, **kwargs)
                if verb != "read" and not io.use_iceberg:
                    after = tree_size(io._path(table))
                    s["bytes"] = after[0] - before[0]
                    s["files"] = after[1] - before[1]
                return out

        traced.__wrapped__ = method
        return traced

    # -- aggregation ---------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def job_counts(self) -> dict[int, tuple[int, int]]:
        """span id -> (jobs, completed tasks), from the status tracker.
        Must run before the session stops."""
        st = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            jobs = st.getJobIdsForGroup(s["group"])
            tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            out[s["id"]] = (len(jobs), tasks)
        return out

    def layer_metrics(self, job_counts, shuffle_by_group: dict[str, int]) -> dict[str, float]:
        own = self.self_times()
        m: dict[str, float] = {}
        for layer in LAYERS:
            m[f"{layer}.s"] = m[f"{layer}.jobs"] = m[f"{layer}.tasks"] = 0
            m[f"{layer}.shuffle_mb"] = 0.0
        for s in self.spans:
            L = s["layer"]
            jobs, tasks = job_counts.get(s["id"], (0, 0))
            m[f"{L}.s"] += own[s["id"]]
            m[f"{L}.jobs"] += jobs
            m[f"{L}.tasks"] += tasks
            m[f"{L}.shuffle_mb"] += shuffle_by_group.get(s["group"], 0) / 1e6
        io = [s for s in self.spans if s["name"].startswith("io.") and s["layer"] == "io"]
        m["io.write_s"] = sum(own[s["id"]] for s in io if not s["name"].startswith("io.read"))
        m["io.read_s"] = sum(own[s["id"]] for s in io if s["name"].startswith("io.read"))
        m["io.bytes_written"] = sum(s.get("bytes", 0) for s in self.spans)
        m["io.files_written"] = sum(s.get("files", 0) for s in self.spans)
        m["incremental.merge_s"] = sum(
            s["end"] - s["start"] for s in self.spans if s["name"] == "incremental.merge_clusters"
        )
        m["runner.overhead_s"] = m.pop("runner.s")
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def shuffle_bytes_by_group(event_log_dir: str) -> dict[str, int]:
    """Shuffle bytes written per job group, from the run's event log (read
    after the session stops, when the log is complete). Each stage is
    charged to the first job that lists it: later jobs that reuse its
    shuffle output skip it and run no tasks for it."""
    stage_group: dict[int, str] = {}
    out: dict[str, int] = {}
    paths = sorted(
        os.path.join(root, n) for root, _dirs, names in os.walk(event_log_dir) for n in names
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    written = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    if group and written:
                        out[group] = out.get(group, 0) + written
    return out
