"""The benchmark's workloads: set-up, measured operations and output checks.

Both workloads start from ``fixtures.transcripts_df(seed, mutation_rate=0.01)``
written to parquet during set-up; the program only ever reads that parquet.

resolve_fold
    Set-up holds out a hash-selected ~7% of the near-duplicate
    conversations (``_d1``-``_d4`` ids) in batches of ~1% of the corpus and
    runs ``Runner.run`` over the rest. One operation folds one batch with
    ``Runner.run_incremental`` (new-vs-all blocking, merge of touched
    clusters, table replace/append). After the folds, one batch
    ``Runner.run`` over the same conversations in a fresh workdir is both a
    measured operation (whole-corpus throughput) and the reference the
    folded clusters must equal.

probe_serve
    Set-up builds the batch snapshot (``Runner.run``, then
    ``probe.reps_with_radius`` and the member table, cached). A second,
    warm ``Runner.run`` of the same input is measured for whole-corpus
    throughput. Then one client runs
    a closed loop of requests; one request is 8 probes through
    ``streaming.probe.probe_stream`` on a batch DataFrame with max_dist=8,
    half corpus signatures with at most 4 bits flipped, half uniformly
    random. Read-only point lookups: no writes, no fingerprinting or
    clustering per request.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from hexspark import fixtures
from hexspark.pipeline import evaluate
from hexspark.pipeline import probe as probe_mod
from hexspark.pipeline.runner import PipelineConfig, Runner
from hexspark.streaming import probe as streaming_probe

from spans import tree_size

MUTATION_RATE = 0.01
# ~7% of the corpus: 2 of 3 conversations are near-duplicates on average
HOLDOUT_PER_MILLE = 105
N_BATCHES = 7  # each held-out batch is ~1% of the corpus
PROBE_MAX_DIST = 8
PROBES_PER_REQUEST = 8
MAX_FLIPS = 4
TRACED_REQUESTS = 8
N_REQUEST_POOL = 64
# The generator's duplicates resolve at pairwise F1 ~0.99 under the CLI
# defaults; below this floor the clustering is wrong, not merely different.
F1_FLOOR = 0.95


class Run:
    """State of one benchmark run: session, seed, scratch root, tracer and
    what the workload measured."""

    def __init__(self, spark, work: str, seed: int, seconds: float, n_base: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.n_base = n_base
        self.tracer = tracer
        self.cfg = PipelineConfig()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}  # end-to-end values
        self.layer: dict[str, float] = {}    # per-layer counts and ratios
        self.context: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def fail(self, what: str, n_ops: int = 1) -> None:
        self.failed += n_ops
        self.problems.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def resolve(self, transcripts, workdir: str, op_id: str, traced: bool = True):
        """One isolated batch Runner.run: empty cache, fresh workdir, and no
        stage may be skipped (a skipped stage would time nothing)."""
        self.spark.catalog.clearCache()
        shutil.rmtree(workdir, ignore_errors=True)
        with self.tracer.operation(op_id, "resolve") if traced else contextlib.nullcontext():
            t0 = time.perf_counter()
            res = Runner(self.spark, workdir, self.cfg).run(transcripts)
            wall = time.perf_counter() - t0
        if res.stages_skipped:
            raise RuntimeError(f"{op_id}: stages skipped {res.stages_skipped}")
        return res, wall


def write_input(run: Run) -> tuple[str, str]:
    """Generate the seed's transcripts, write them as parquet, and return
    (path, content hash). The hash is order-free, so runs on one seed can be
    shown to share input."""
    path = run.fresh("input", "transcripts")
    fixtures.transcripts_df(
        run.spark, n_base=run.n_base, seed=run.seed, mutation_rate=MUTATION_RATE
    ).write.parquet(path)
    tr = run.spark.read.parquet(path)
    digest = tr.agg(F.bit_xor(F.xxhash64(*tr.columns)).alias("h")).first()["h"]
    return path, f"{digest & (2**64 - 1):016x}"


def text_bytes(transcripts) -> int:
    """UTF-8 bytes of all turn texts: the input volume storage is measured
    against. Parquet's compression of the input varies by seed (dictionary
    fallbacks), the raw text volume much less."""
    return transcripts.agg(F.sum(F.octet_length("text"))).first()[0]


def partition_problem(clusters, conv_ids) -> str | None:
    """None when ``clusters`` assigns every input conv_id exactly once."""
    bad = (
        clusters.groupBy("conv_id").count()
        .join(conv_ids.withColumn("in_input", F.lit(True)), "conv_id", "full_outer")
        .where(F.col("count").isNull() | (F.col("count") != 1) | F.col("in_input").isNull())
        .limit(3)
        .collect()
    )
    if bad:
        return "conv_id (clusters assigned, in input): " + ", ".join(
            f"{r['conv_id']} ({r['count'] or 0}, {bool(r['in_input'])})" for r in bad
        )
    return None


def record_resolve_counts(run: Run, res, workdir: str) -> None:
    """Per-layer counts of the traced batch run, read after it finished."""
    rows = manifest_rows(workdir)
    run.layer.update({
        "convs_resolved": rows["signatures"],
        "blocking.pairs_out": rows["candidate_pairs"],
        "scoring.edges_out": rows["edges"],
        "blocking.oversize_blocks": run.spark.read.parquet(os.path.join(workdir, "skipped_blocks")).count(),
    })
    run.layer["clustering.rounds"] = run.layer.get("clustering.rounds", 0) + res.cc_rounds


def pairwise_f1(run: Run, transcripts, clusters, candidate_pairs) -> float:
    """Pairwise F1 against the generator's lineage labels, over the
    candidate-pair universe (the repo's evaluation convention)."""
    labels = fixtures.labeled_pairs_df(run.spark, transcripts)
    f1 = evaluate.pairwise_f1(
        labels, clusters, candidate_pairs=candidate_pairs.select("conv_id_a", "conv_id_b")
    )["f1"]
    if f1 < F1_FLOOR:
        run.fail(f"pairwise F1 {f1:.4f} below {F1_FLOOR}")
    return f1


# -- resolve_fold --------------------------------------------------------------

def resolve_fold(run: Run) -> None:
    spark = run.spark
    t0 = time.perf_counter()
    src, digest = write_input(run)
    tr = spark.read.parquet(src)
    held = (
        tr.select("conv_id").distinct()
        .where(~F.col("conv_id").endswith("_d0"))
        .where(F.pmod(F.xxhash64("conv_id", F.lit(run.seed)), F.lit(1000)) < HOLDOUT_PER_MILLE)
        .withColumn("batch", F.pmod(F.xxhash64("conv_id", F.lit(run.seed + 1)), F.lit(N_BATCHES)))
    )
    prior_path = run.fresh("input", "prior")
    tr.join(held, "conv_id", "left_anti").write.parquet(prior_path)
    held_path = run.fresh("input", "held")
    tr.join(held, "conv_id").write.partitionBy("batch").parquet(held_path)
    batch_paths = sorted(
        (os.path.join(held_path, d) for d in os.listdir(held_path) if d.startswith("batch=")),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    workdir = run.path("fold_workdir")
    prior_res, _ = run.resolve(spark.read.parquet(prior_path), workdir, "prior", traced=False)
    setup_s = time.perf_counter() - t0

    run.context.update(input_hash=digest, prior_convs=manifest_rows(workdir)["signatures"],
                       batches=len(batch_paths))

    # -- folds -------------------------------------------------------------
    fold_walls: list[float] = []
    traced_fold = untraced_fold = None
    # traced mode: fold 0 warms the fold path untraced, then one of folds
    # 1 and 2 (by seed parity) is traced and the other gives the untraced
    # wall the tracing overhead is measured against
    n_folds = 3 if run.tracer.enabled else len(batch_paths)
    loop_t0 = time.perf_counter()
    for i, bpath in enumerate(batch_paths[:n_folds]):
        if not run.tracer.enabled and fold_walls and (
            time.perf_counter() - loop_t0 + statistics.fmean(fold_walls) > run.seconds
        ):
            break
        trace_this = run.tracer.enabled and i == 1 + run.seed % 2
        spark.catalog.clearCache()
        batch = spark.read.parquet(bpath)
        edges_before = manifest_rows(workdir)["edges"]
        run.attempted += 1
        op_id = f"fold{i}"
        try:
            with run.tracer.operation(op_id, "fold") if trace_this else contextlib.nullcontext():
                t = time.perf_counter()
                res = Runner(spark, workdir, run.cfg).run_incremental(batch)
                wall = time.perf_counter() - t
        except Exception:
            traceback.print_exc()
            run.fail(f"{op_id} raised")
            break
        fold_walls.append(wall)
        if trace_this:
            traced_fold = wall
            new_convs = batch.select("conv_id").distinct().count()
            new_edges = manifest_rows(workdir)["edges"] - edges_before
            written = sum(s.get("bytes", 0) for s in run.tracer.spans if s["op"] == op_id)
            run.layer["incremental.edges_per_new_conv"] = new_edges / new_convs
            run.layer["io.rewrite_bytes_per_new_byte"] = written / tree_size(bpath)[0]
            run.layer["clustering.rounds"] = run.layer.get("clustering.rounds", 0) + res.cc_rounds
        elif run.tracer.enabled and i > 0:
            untraced_fold = wall
    folded = batch_paths[: len(fold_walls)]

    # -- batch resolve over the same conversations -------------------------
    ref_input = spark.read.parquet(prior_path, *folded)
    ref_dir = run.path("resolve_workdir")
    run.attempted += 1
    try:
        ref_res, ref_wall = run.resolve(ref_input, ref_dir, "resolve")
    except Exception:
        traceback.print_exc()
        run.fail("resolve raised")
        return
    if run.tracer.enabled:
        record_resolve_counts(run, ref_res, ref_dir)
        if traced_fold is not None and untraced_fold is not None:
            run.layer["trace.overhead_s"] = traced_fold - untraced_fold
            run.layer["incremental.fold_over_batch"] = traced_fold / ref_wall

    # -- checks ------------------------------------------------------------
    ref_ids = ref_input.select("conv_id").distinct()
    ref_clusters = spark.read.parquet(os.path.join(ref_dir, "clusters"))
    problem = partition_problem(ref_clusters, ref_ids)
    if problem:
        run.fail(f"resolve: clusters are not a partition of the input: {problem}")
    fold_clusters = spark.read.parquet(os.path.join(workdir, "clusters"))
    if len(fold_walls) == n_folds or not run.tracer.enabled:
        diff_a = fold_clusters.exceptAll(ref_clusters).count()
        diff_b = ref_clusters.exceptAll(fold_clusters).count()
        if diff_a or diff_b:
            run.fail(f"folded clusters differ from the batch run ({diff_a}/{diff_b} rows)",
                     n_ops=len(fold_walls))
    else:
        run.fail("not every traced fold completed", n_ops=0)

    run.metrics.update(
        setup_s=setup_s,
        op_ms_p50=statistics.median(fold_walls) * 1e3 if fold_walls else float("nan"),
        resolve_convs_per_s=ref_ids.count() / ref_wall,
        pairwise_f1=pairwise_f1(
            run, ref_input, fold_clusters, spark.read.parquet(os.path.join(ref_dir, "candidate_pairs"))
        ),
        stored_bytes_per_input_byte=tree_size(workdir)[0] / text_bytes(ref_input),
    )
    run.context.update(folds=len(fold_walls), fold_s=[round(w, 3) for w in fold_walls],
                       resolve_s=round(ref_wall, 3), prior_cc_rounds=prior_res.cc_rounds)


def manifest_rows(workdir: str) -> dict[str, int]:
    """Row count of every completed stage, from the run manifest."""
    with open(os.path.join(workdir, "run_manifest.json")) as f:
        return {k: v["rows"] for k, v in json.load(f)["completed"].items()}


# -- probe_serve ---------------------------------------------------------------

def _hex_to_bits(hexes: list[str]) -> np.ndarray:
    raw = np.frombuffer(b"".join(bytes.fromhex(h) for h in hexes), dtype=np.uint8)
    return np.unpackbits(raw.reshape(len(hexes), 32), axis=1).astype(bool)


def _request_pool(corpus_hex: list[str], seed: int) -> list[list[tuple[str, str]]]:
    """Requests of PROBES_PER_REQUEST probes: half corpus signatures with
    0..MAX_FLIPS bits flipped, half uniformly random 256-bit signatures."""
    rng = np.random.default_rng((seed, 7))
    bits = _hex_to_bits(corpus_hex)
    pool = []
    for q in range(N_REQUEST_POOL):
        probes = []
        for k in range(PROBES_PER_REQUEST):
            if k % 2 == 0:
                b = bits[rng.integers(len(bits))].copy()
                flips = rng.choice(256, size=int(rng.integers(0, MAX_FLIPS + 1)), replace=False)
                b[flips] ^= True
            else:
                b = rng.random(256) < 0.5
            probes.append((f"q{q}p{k}", np.packbits(b).tobytes().hex()))
        pool.append(probes)
    return pool


def probe_problem(probes, rows, corpus_bits, corpus_ids, cluster_of, radius) -> str | None:
    """Check one response against numpy brute force: every match is within
    max_dist at its true distance and in its true cluster, and every
    brute-force match in a cluster with radius + max_dist < n_bands is
    returned (the module's recall contract)."""
    got = {}
    for r in rows:
        key = (r["probe_id"], r["conv_id"])
        if key in got:
            return f"duplicate match {key}"
        got[key] = (r["cluster_id"], r["dist"])
    n_bands = PipelineConfig().n_bands
    for pid, sig in probes:
        dist = (corpus_bits != _hex_to_bits([sig])[0]).sum(axis=1)
        for j in np.flatnonzero(dist <= PROBE_MAX_DIST):
            cid = cluster_of[corpus_ids[j]]
            if cid not in radius:
                return f"cluster {cid} has no representative"
            hit = got.pop((pid, corpus_ids[j]), None)
            if hit is None:
                if radius[cid] + PROBE_MAX_DIST < n_bands:
                    return f"{pid}: missed {corpus_ids[j]} at distance {dist[j]}"
            elif hit != (cid, dist[j]):
                return f"{pid}: {corpus_ids[j]} returned as {hit}, true ({cid}, {dist[j]})"
    if got:
        return f"{len(got)} returned match(es) beyond max_dist, e.g. {next(iter(got))}"
    return None


def probe_serve(run: Run) -> None:
    spark = run.spark
    t0 = time.perf_counter()
    src, digest = write_input(run)
    tr = spark.read.parquet(src)
    workdir = run.path("snapshot_workdir")
    run.resolve(tr, workdir, "snapshot-resolve", traced=False)
    setup_s = time.perf_counter() - t0

    # The snapshot's batch run is the first in a cold JVM, and its wall time
    # swings with JIT warm-up; throughput is measured on a second, warm run
    # of the same input.
    resolve_dir = run.path("resolve_workdir")
    run.attempted += 1
    res, resolve_wall = run.resolve(tr, resolve_dir, "resolve")
    if run.tracer.enabled:
        record_resolve_counts(run, res, resolve_dir)
    problem = partition_problem(
        spark.read.parquet(os.path.join(resolve_dir, "clusters")), tr.select("conv_id").distinct()
    )
    if problem:
        run.fail(f"resolve: clusters are not a partition of the input: {problem}")

    with run.tracer.operation("snapshot", "snapshot", layer="probe"):
        t = time.perf_counter()
        clusters = spark.read.parquet(os.path.join(workdir, "clusters"))
        sigs = spark.read.parquet(os.path.join(workdir, "signatures"))
        reps = probe_mod.reps_with_radius(clusters, sigs).cache()
        members = clusters.join(sigs.select("conv_id", "sig_hex"), "conv_id").cache()
        with run.tracer.span("probe.materialize", "probe"):
            reps.count()
            members.count()
        snapshot_s = time.perf_counter() - t
    setup_s += snapshot_s

    corpus = members.select("conv_id", "cluster_id", "sig_hex").collect()
    corpus_ids = [r["conv_id"] for r in corpus]
    cluster_of = {r["conv_id"]: r["cluster_id"] for r in corpus}
    corpus_bits = _hex_to_bits([r["sig_hex"] for r in corpus])
    radius = {r["cluster_id"]: r["radius"] for r in reps.select("cluster_id", "radius").collect()}
    pool = _request_pool([r["sig_hex"] for r in corpus], run.seed)
    run.context.update(input_hash=digest, corpus_convs=len(corpus_ids), clusters=len(radius))

    lat_ms: list[float] = []
    traced_ms: list[float] = []
    untraced_ms: list[float] = []
    n_matches = n_traced_probes = 0
    loop_t0 = time.perf_counter()
    q = 0
    while True:
        if run.tracer.enabled:
            if q >= 2 * TRACED_REQUESTS:
                break
        elif lat_ms and time.perf_counter() - loop_t0 >= run.seconds:
            break
        probes = pool[q % len(pool)]
        trace_this = run.tracer.enabled and q % 2 == run.seed % 2
        run.attempted += 1
        try:
            with run.tracer.operation(f"req{q}", "probe", layer="probe_stream") if trace_this else contextlib.nullcontext():
                t = time.perf_counter()
                req = spark.createDataFrame(probes, streaming_probe.PROBE_DDL)
                out = streaming_probe.probe_stream(req, reps, members, max_dist=PROBE_MAX_DIST)
                with run.tracer.span("probe_stream.collect", "probe_stream"):
                    rows = out.collect()
                ms = (time.perf_counter() - t) * 1e3
        except Exception:
            traceback.print_exc()
            run.fail(f"request {q} raised")
            q += 1
            continue
        lat_ms.append(ms)
        (traced_ms if trace_this else untraced_ms).append(ms)
        if trace_this:
            n_matches += len(rows)
            n_traced_probes += len(probes)
        problem = probe_problem(probes, rows, corpus_bits, corpus_ids, cluster_of, radius)
        if problem:
            run.fail(f"request {q}: {problem}")
        q += 1

    if run.tracer.enabled:
        run.layer["probe.snapshot_s"] = snapshot_s
        run.layer["probe_stream.matches_per_probe"] = n_matches / max(n_traced_probes, 1)
        if traced_ms and untraced_ms:
            run.layer["trace.overhead_s"] = (
                statistics.median(traced_ms) - statistics.median(untraced_ms)
            ) / 1e3

    problem = partition_problem(clusters, tr.select("conv_id").distinct())
    if problem:
        run.fail(f"snapshot: clusters are not a partition of the input: {problem}")
    run.metrics.update(
        setup_s=setup_s,
        op_ms_p50=statistics.median(lat_ms) if lat_ms else float("nan"),
        resolve_convs_per_s=len(corpus_ids) / resolve_wall,
        pairwise_f1=pairwise_f1(
            run, tr, clusters, spark.read.parquet(os.path.join(workdir, "candidate_pairs"))
        ),
        stored_bytes_per_input_byte=tree_size(workdir)[0] / text_bytes(tr),
    )
    run.context.update(requests=len(lat_ms), snapshot_s=round(snapshot_s, 3),
                       resolve_s=round(resolve_wall, 3))
    if len(lat_ms) >= 2:
        qs = statistics.quantiles(lat_ms, n=10)
        run.context.update(request_ms_p90=round(qs[8], 1),
                           request_samples_beyond_p90=sum(x > qs[8] for x in lat_ms))


WORKLOADS = {"resolve_fold": resolve_fold, "probe_serve": probe_serve}
