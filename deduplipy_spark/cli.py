"""CLI — the spark-submit entrypoint.

Packaged run on a cluster (north rule's deployment form):

    zip -r dedup.zip deduplipy_spark
    spark-submit --py-files dedup.zip -m deduplipy_spark.cli \\
        run --input s3://bucket/files --output s3://bucket/clusters \\
        --checkpoint s3://bucket/ckpt

In local mode (sandbox): python -m deduplipy_spark.cli run --input ... .
Subcommands: run (flagship pipeline; --model applies a fitted Deduplicator),
fit (active-learning console loop -> model JSON), datagen (synthesize a
planted-cluster corpus). Repo-root bench.py is the benchmark entrypoint;
perfbench/run.py (--trace 1 for per-layer times) measures the pipeline.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _add_config_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--shingle-k", type=int, default=None)
    p.add_argument("--bands", type=int, default=None)
    p.add_argument("--rows-per-band", type=int, default=None)
    p.add_argument("--band-cap", type=int, default=None)
    p.add_argument("--pair-strategy", choices=("capped", "exact"),
                   default=None,
                   help="hot-band handling: capped+star (default) or "
                        "salted exact enumeration")
    p.add_argument("--score-threshold", type=float, default=None)
    p.add_argument("--cluster-threshold", type=float, default=None)
    p.add_argument("--no-fill-missing", action="store_true")
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--content-col", default="content")
    p.add_argument("--id-cols", default="repo,path,commit")


def _config_from(args) -> "EngineConfig":
    from deduplipy_spark.config import EngineConfig

    overrides = {
        f: getattr(args, f) for f in (
            "shingle_k", "bands", "rows_per_band", "band_cap",
            "pair_strategy", "score_threshold", "cluster_threshold")
        if getattr(args, f) is not None
    }
    if args.no_fill_missing:
        overrides["fill_missing"] = False
    if args.checkpoint:
        overrides["checkpoint_dir"] = args.checkpoint
    return EngineConfig(id_cols=tuple(args.id_cols.split(",")),
                        content_col=args.content_col, **overrides)


def _config_flags_set(args) -> list[str]:
    """The `_add_config_args` flags that `args` moves off their default."""
    p = argparse.ArgumentParser(add_help=False)
    _add_config_args(p)
    return ["--" + dest.replace("_", "-")
            for dest, default in vars(p.parse_args([])).items()
            if getattr(args, dest) != default]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="deduplipy-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    runp = sub.add_parser("run", help="flagship near-dup pipeline")
    runp.add_argument("--input", required=True)
    runp.add_argument("--output", required=True)
    runp.add_argument("--format", default="parquet")
    runp.add_argument("--model", default=None,
                      help="saved Deduplicator JSON (from `fit`): learned "
                           "rules block and the classifier scores")
    _add_config_args(runp)

    fitp = sub.add_parser(
        "fit", help="active-learning fit with the console labeler "
                    "(y/n/s/f prompts); saves a model JSON for `run --model`"
    )
    fitp.add_argument("--input", required=True)
    fitp.add_argument("--format", default="parquet")
    fitp.add_argument("--model-out", required=True)
    fitp.add_argument("--n-samples", type=int, default=10_000)
    fitp.add_argument("--col-names", default="content")
    fitp.add_argument("--interaction", action="store_true",
                      help="degree-2 interaction features + L1 classifier "
                           "(the reference's interaction=True pipeline)")

    genp = sub.add_parser("datagen", help="synthesize planted-cluster corpus")
    genp.add_argument("--output", required=True)
    genp.add_argument("--n-files", type=int, default=100_000)
    genp.add_argument("--n-clusters", type=int, default=10_000)
    genp.add_argument("--members", type=int, default=5)
    genp.add_argument("--seed", type=int, default=42)
    genp.add_argument("--partitions", type=int, default=64)

    args = ap.parse_args(argv)
    if args.cmd == "run" and args.model:
        ignored = _config_flags_set(args)
        if ignored:
            runp.error(f"--model runs the model's saved config; "
                       f"{', '.join(ignored)} would be ignored")
    elif args.cmd == "run":
        try:
            cfg = _config_from(args)
        except ValueError as e:
            runp.error(str(e))
    from deduplipy_spark.session import get_spark

    spark = get_spark("deduplipy-spark-cli")
    t0 = time.monotonic()
    if args.cmd == "run":
        files = spark.read.format(args.format).load(args.input)
        if args.model:
            from deduplipy_spark.deduplicator import Deduplicator

            dd = Deduplicator.load(args.model)
            cfg = dd.cfg
            out = dd.predict(files)
        else:
            from deduplipy_spark.plans.pipeline import DedupPipeline

            out = DedupPipeline(spark, cfg).run(files)
        out.write.mode("overwrite").format(args.format).save(args.output)
        n = spark.read.format(args.format).load(args.output).count()
        print(json.dumps({"cmd": "run", "rows": n,
                          "config_hash": cfg.config_hash(),
                          "wall_sec": round(time.monotonic() - t0, 2)}))
    elif args.cmd == "fit":
        from deduplipy_spark.deduplicator import Deduplicator

        cols = args.col_names.split(",")
        dd = Deduplicator(col_names=cols, verbose=1,
                          interaction=args.interaction)
        files = spark.read.format(args.format).load(args.input)
        dd.fit(files, labeler=None, n_samples=args.n_samples)  # console loop
        dd.save(args.model_out)
        print(json.dumps({
            "cmd": "fit", "model": args.model_out,
            "rules_selected": dd.rules_selected,
            "classifier": dd.model_params is not None,
            "wall_sec": round(time.monotonic() - t0, 2),
        }))
    elif args.cmd == "datagen":
        from deduplipy_spark.sources.datagen import gen_files

        df = gen_files(spark, args.n_files, args.n_clusters, args.members,
                       args.seed, args.partitions)
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"cmd": "datagen", "rows": args.n_files,
                          "wall_sec": round(time.monotonic() - t0, 2)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
