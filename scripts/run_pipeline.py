"""Production entrypoint: the full ER pipeline as a spark-submit job.

    spark-submit --master <cluster> --py-files build/hexspark.zip \\
        scripts/run_pipeline.py \\
        --input  <path or table of transcripts(conv_id,turn_idx,role,text,tool,ts)> \\
        --workdir <stage-table root (Iceberg namespace or path)> \\
        [--max-dist 20] [--n-bands 16] [--max-block 2000] [--min-score 0.0]
        [--scoring-mode blend|fs|fs_levels]  # fs = EM-calibrated
                          # Fellegi-Sunter gate; fs_levels = multi-level FS
        [--fs-tf-adjust]  # fs: term-frequency-adjust the canon field
        [--meta-prune off|wep|wnp]  # meta-blocking candidate prune pre-scoring
        [--robust]        # cluster on triangle-corroborated edges only,
                          # queue bridge edges for review (bridge_edges table)
        [--repair-min-avg 0.8]  # post-hoc precision pass: evict low-cohesion
                          # members, re-cluster (evicted_nodes review table)
        [--incremental]   # fold --input as a NEW batch into a completed run

Master/executors come from spark-submit. Every stage materializes to the
workdir (Iceberg when a catalog is configured — see pipeline/io.py — else
parquet), records per-partition lineage in stage_metrics, and is skipped
on rerun when already complete, so a killed job resumes from its last
finished stage. Exit output is one JSON line with per-stage rows and the
run manifest location.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet path or table")
    ap.add_argument("--workdir", required=True, help="stage output root")
    ap.add_argument("--max-dist", type=int, default=20)
    ap.add_argument("--n-bands", type=int, default=16)
    ap.add_argument("--max-block", type=int, default=2000)
    ap.add_argument("--min-score", type=float, default=0.0)
    ap.add_argument("--alpha", type=float, default=0.75)
    ap.add_argument(
        "--scoring-mode", choices=("blend", "fs", "fs_levels"), default="blend",
        help="'blend' = fixed hamming+Jaro-Winkler alpha blend gated on "
             "max-dist; 'fs' = Fellegi-Sunter weights with (m, u, p) "
             "EM-fitted on this run's own unlabeled candidate pairs "
             "(model recorded in the manifest; incremental folds reuse it); "
             "'fs_levels' = multi-level FS: 3-level exact/near/disagree "
             "comparisons with per-level (m, u) from the categorical EM — "
             "separates concentrated from dispersed difference even when "
             "boolean agreement patterns tie",
    )
    ap.add_argument(
        "--fs-threshold", type=float, default=None,
        help="FS decision weight; default derives the posterior-0.5 "
             "threshold log2((1-p)/p) from the fitted prevalence",
    )
    ap.add_argument(
        "--fs-tf-adjust", action="store_true",
        help="fs mode only: term-frequency-adjust the canon-prefix field — "
             "corpus frequency of the shared prefix sets its agreement "
             "weight (boilerplate openings stop counting as evidence); "
             "frequencies land in the canon_tf stage table and incremental "
             "folds reuse them",
    )
    ap.add_argument(
        "--meta-prune", choices=("off", "wep", "wnp", "cnp", "cep"),
        default="off",
        help="meta-blocking: prune the candidate-pair stream by blocking-"
             "graph evidence (CBS = agreeing-band count, free codegen) "
             "before scoring; 'wep' keeps edges >= the global mean weight, "
             "'wnp' >= either endpoint's local mean (recall-safer), 'cnp' "
             "each node's top --meta-cnp-k edges (hard per-record budget), "
             "'cep' the --meta-cep-budget globally best edges (progressive "
             "resolution). The pruned stream is its own resumable stage "
             "table (pruned_pairs)",
    )
    ap.add_argument(
        "--meta-cnp-k", type=int, default=10,
        help="cnp only: per-record candidate budget (top-k incident edges "
             "per node survive; total pairs scored <= k * n_records)",
    )
    ap.add_argument(
        "--meta-cep-budget", type=int, default=1_000_000,
        help="cep only: global candidate budget (the ~K best-evidence "
             "pairs survive; threshold ties all kept)",
    )
    ap.add_argument(
        "--robust", action="store_true",
        help="high-precision mode: cluster only on triangle-corroborated "
             "edges; uncorroborated (bridge) edges land in the "
             "bridge_edges review-queue stage table",
    )
    ap.add_argument(
        "--repair-min-avg", type=float, default=None,
        help="post-clustering repair: evict members whose average within-"
             "cluster edge score falls below this, re-cluster survivors; "
             "raw closure kept as clusters_raw, evicted members land in "
             "the evicted_nodes review-queue stage table (batch mode only)",
    )
    ap.add_argument(
        "--clustering-mode", choices=["cc", "pivot", "star", "hac", "lpa"], default="cc",
        help="clusters stage algorithm: 'cc' = transitive closure (max "
             "recall), 'pivot' = parallel KwikCluster correlation "
             "clustering — clusters bounded by one pivot's direct match-"
             "neighborhood, so a single false edge cannot glue two whole "
             "entities (batch mode only), 'star' = star clustering — same "
             "neighborhood bound but centers picked by descending degree, "
             "so cluster ids land on the best-connected records (batch "
             "mode only), 'hac' = component-local exact average-linkage "
             "clustering cut at --hac-threshold — refuses chained merges "
             "whose mean cross distance fails the cut (batch mode only), "
             "'lpa' = unseeded synchronous label propagation — density-"
             "sensitive: over-merged components split along their sparse "
             "cut by majority voting (batch mode only)",
    )
    ap.add_argument(
        "--hac-threshold", type=float, default=None,
        help="hac mode only: average-linkage distance cut "
             "(default: --max-dist)",
    )
    ap.add_argument(
        "--extra-passes", default="",
        help="comma-separated extra blocking passes unioned with the LSH "
             "bands (suffix, phonetic, snm, adaptive_snm) — recall "
             "levers; switches scoring to the thin-pairs path "
             "(batch mode only)",
    )
    ap.add_argument(
        "--pivot-salt", default="",
        help="pivot mode only: salt of the md5 priority permutation "
             "(a different salt is a fresh random visiting order)",
    )
    ap.add_argument(
        "--drop-contained", action="store_true",
        help="exact containment pre-dedup: drop conversations that are "
             "strict turn-level prefixes of another (resumed sessions) or "
             "exact duplicates before assembly; dropped conversations "
             "re-enter the final clusters attached to their surviving "
             "container's cluster (batch mode only)",
    )
    ap.add_argument(
        "--containment-depth-cap", type=int, default=256,
        help="containment prefix-index depth cap: bounds per-conversation "
             "prefix-digest materialization; beyond it block keys coarsen "
             "to the depth-cap prefix but stay lossless",
    )
    ap.add_argument(
        "--stability-samples", type=int, default=None,
        help="materialize an edge_confidence stage: per-edge bootstrap "
             "co-clustering counts over this many deterministic edge "
             "subsamples (pipeline/stability.py); observational review "
             "signal for fragile single-path merges",
    )
    ap.add_argument("--stability-keep-frac", type=float, default=0.8)
    ap.add_argument(
        "--incremental", action="store_true",
        help="treat --input as a NEW batch and fold it into the workdir's "
             "completed run (fingerprints only the batch, never re-scores "
             "old-vs-old; see hexspark/pipeline/incremental.py)",
    )
    args = ap.parse_args()

    # Under spark-submit the JVM is already up when this runs, so a local
    # os.environ setdefault would never reach executor Python workers.
    # Ship the glibc malloc tuning through executorEnv instead (see
    # hexspark/session.py for the why); for the DRIVER-side python workers
    # of local mode, set these in spark-env.sh / the submitting shell.
    spark = (
        SparkSession.builder.appName("hexspark-er-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", str(1 << 30))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from hexspark.pipeline.runner import PipelineConfig, Runner

    if args.input.endswith((".parquet", "/")) or "/" in args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = spark.table(args.input)

    cfg = PipelineConfig(
        n_bands=args.n_bands,
        max_block=args.max_block,
        max_dist=args.max_dist,
        alpha=args.alpha,
        min_score=args.min_score,
        scoring_mode=args.scoring_mode,
        fs_threshold=args.fs_threshold,
        fs_tf_adjust=args.fs_tf_adjust,
        meta_prune=args.meta_prune,
        meta_cnp_k=args.meta_cnp_k,
        meta_cep_budget=args.meta_cep_budget,
        robust=args.robust,
        repair_min_avg=args.repair_min_avg,
        clustering_mode=args.clustering_mode,
        pivot_salt=args.pivot_salt,
        hac_threshold=args.hac_threshold,
        drop_contained=args.drop_contained,
        containment_depth_cap=args.containment_depth_cap,
        stability_samples=args.stability_samples,
        stability_keep_frac=args.stability_keep_frac,
        extra_passes=tuple(
            p for p in (args.extra_passes or "").split(",") if p
        ),
    )
    runner = Runner(spark, args.workdir, cfg)
    result = (
        runner.run_incremental(transcripts) if args.incremental
        else runner.run(transcripts)
    )

    out = {
        "run_id": result.run_id,
        "stages_run": result.stages_run,
        "stages_skipped": result.stages_skipped,
        "cc_rounds": result.cc_rounds,
        "rows": {name: df.count() for name, df in result.tables.items()},
        "manifest": f"{args.workdir}/run_manifest.json",
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
