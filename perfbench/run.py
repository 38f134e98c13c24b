"""hexspark benchmark: one workload, one seed, every metric by name and unit.

    python3 perfbench/run.py --workload resolve_fold --seed 1 --seconds 8 --trace 0

Run it from the repository root. It generates its input from ``--seed``
under ``.perfbench_work/``, runs the workload on ``local[nproc]`` for about
``--seconds`` of measured operations, checks every output, and prints one
JSON object as its last line::

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured untraced.
``--trace 1`` is a separate run that wraps the layer functions in spans
(``spans.py``) and reports the per-layer metrics instead. The line before
the result is the run's context: host, session sizing, input hash and raw
samples. The exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import threading
import time
import traceback

import spans

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
N_BASE = 1000  # ~2.9k conversations, ~24k turns

END_TO_END = {
    "setup_s": "s",
    "op_ms_p50": "ms",
    "resolve_convs_per_s": "conv/s",
    "pairwise_f1": "ratio",
    "stored_bytes_per_input_byte": "ratio",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    **{f"{L}.{k}": u for L in spans.LAYERS if L != "runner"
       for k, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"), ("shuffle_mb", "MB"))},
    "runner.overhead_s": "s",
    "runner.jobs": "count",
    "runner.tasks": "count",
    "runner.shuffle_mb": "MB",
    "simhash.convs_per_s": "conv/s",
    "blocking.pairs_out": "count",
    "blocking.pairs_per_conv": "ratio",
    "blocking.oversize_blocks": "count",
    "scoring.pairs_in": "count",
    "scoring.edges_out": "count",
    "scoring.edge_yield": "ratio",
    "clustering.rounds": "count",
    "incremental.merge_s": "s",
    "incremental.edges_per_new_conv": "ratio",
    "incremental.fold_over_batch": "ratio",
    "io.write_s": "s",
    "io.read_s": "s",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "io.rewrite_bytes_per_new_byte": "ratio",
    "probe.snapshot_s": "s",
    "probe_stream.matches_per_probe": "ratio",
    "trace.overhead_s": "s",
}


def _cpu_snap() -> list[int]:
    # aggregate jiffies: user nice system idle iowait irq softirq steal
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler:
    """Peak resident memory of this process and everything it started (the
    driver JVM and its Python workers), sampled every 0.5 s. Each process
    counts its proportional set size, so pages a forked Python worker
    shares with its daemon are counted once."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            total = 0
            for pid in _descendants(os.getpid()):
                try:
                    total += _pss_bytes(pid)
                except (OSError, IndexError, ValueError):
                    pass
            self.peak_bytes = max(self.peak_bytes, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def start_session(nproc: int, driver_mb: int, trace: bool):
    from hexspark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": f"{driver_mb}m",
        # a fixed, pre-touched heap: peak RSS then moves with what the
        # program holds beyond the heap, not with when G1 grows it
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=2 * nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    this run started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(_descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _finite(v) -> bool:
    return isinstance(v, (int, float)) and math.isfinite(v)


def layer_metrics(run, tracer, job_counts) -> dict[str, float]:
    m = tracer.layer_metrics(job_counts, spans.shuffle_bytes_by_group(os.path.join(WORK, "events")))
    m.update(run.layer)
    convs = m.pop("convs_resolved", 0)
    pairs = m.get("blocking.pairs_out", 0)
    m["scoring.pairs_in"] = pairs  # wide pairs go to scoring unpruned
    if convs:
        m["simhash.convs_per_s"] = convs / m["simhash.s"]
        m["blocking.pairs_per_conv"] = pairs / convs
    if pairs:
        m["scoring.edge_yield"] = m.get("scoring.edges_out", 0) / pairs
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("resolve_fold", "probe_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--n-base", type=int, default=N_BASE,
                    help="base conversations to generate (the smoke test shrinks it)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hexspark")):
        print("perfbench: no hexspark package here; run from the repository root", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "events", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    # Python workers import hexspark from the checkout; every scratch file
    # stays under WORK
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path.insert(0, ROOT)
    import workloads  # imports hexspark from ROOT

    nproc = len(os.sched_getaffinity(0))
    mem_mb = _mem_total_mb()
    driver_mb = min(4096, max(1024, mem_mb // 8))
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "n_base": args.n_base, "nproc": nproc,
        "master": f"local[{nproc}]", "driver_memory_mb": driver_mb, "host_mem_mb": mem_mb,
    }

    with RssSampler() as rss:
        spark = start_session(nproc, driver_mb, bool(args.trace))
        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        run = workloads.Run(spark, WORK, args.seed, args.seconds, args.n_base, tracer)
        job_counts = {}
        try:
            if args.trace:
                tracer.install()
            cpu0 = _cpu_snap()
            try:
                workloads.WORKLOADS[args.workload](run)
            except Exception:
                traceback.print_exc()
                run.fail("workload raised", n_ops=max(1, run.attempted - run.failed))
            cpu1 = _cpu_snap()
            if args.trace:
                job_counts = tracer.job_counts()
        finally:
            if args.trace:
                tracer.uninstall()
            stop_session(spark)

    delta = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(delta) or 1
    context.update(run.context, steal_pct=round(100 * delta[7] / total, 2),
                   sys_pct=round(100 * delta[2] / total, 2), problems=run.problems)

    attempted = max(run.attempted, 1)
    failed = min(max(run.failed, 0 if run.attempted else 1), attempted)
    if args.trace:
        values = layer_metrics(run, tracer, job_counts)
        tracer.dump(os.path.join(WORK, "spans.jsonl"))
        names = PER_LAYER
    else:
        values = dict(run.metrics, ok_frac=1 - failed / attempted, peak_rss_mb=rss.peak_bytes / 1e6)
        names = END_TO_END
    correct = failed == 0 and not run.problems
    metrics = {}
    for name, unit in names.items():
        v = values.get(name, 0)
        if not _finite(v) or (not args.trace and v <= 0):
            correct = False
            v = 0.0
        metrics[name] = {"value": v, "unit": unit}

    # keep only the spans; inputs, workdirs and the event log are rebuilt
    # by every run
    for name in os.listdir(WORK):
        if name != "spans.jsonl":
            path = os.path.join(WORK, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
