"""spark-submit entry point (BASELINE.json:14 "run via spark-submit
--py-files on a multi-executor cluster").

    zip -r pipeline.zip kg
    spark-submit --py-files pipeline.zip main.py \\
        --pages /data/pages_parquet --out /data/kg_out \\
        [--stage all|matched_pairs|components|triples] \\
        [--n-pages 50000]  (generate the synthetic fixture instead)

Three stage tables land under --out: ``matched_pairs`` (the one Arrow
crossing's rule-matched surface pairs), ``components`` (the compiled
alias dictionary: alias -> (entity_id, component), each alias's
linked entity and that entity's same-as component) and ``triples``
(partitioned by pred).
The orchestrator is checkpoint-resumable: rerunning skips completed
stages (their `_SUCCESS` marker exists), so a killed job continues
where it stopped. `--stage X` forces recompute of X and everything
after it by deleting those outputs first. `matched_pairs` holds
surfaces, not entity ids, so after a dictionary update
`--stage components` re-links the stored pairs without re-running the
crossing over the pages. The driver is stateless — all state lives in
the stage tables (SURVEY.md §3.2).
"""

from __future__ import annotations

import argparse
import json
import sys
import os

STAGE_ORDER = ["matched_pairs", "components", "triples"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", help="input pages parquet/iceberg path")
    ap.add_argument("--n-pages", type=int, default=None,
                    help="generate a synthetic pages fixture of this size")
    ap.add_argument("--out", required=True, help="checkpoint/output root")
    ap.add_argument("--stage", default="all", choices=["all", *STAGE_ORDER],
                    help="force recompute from this stage onward")
    ap.add_argument("--noise", type=float, default=0.0)
    args = ap.parse_args(argv)

    from kg import fixtures as FX
    from kg.pipeline import run_pipeline
    from kg.session import build_session

    spark = build_session(app_name="kg-pipeline")

    if args.stage != "all":
        # Hadoop FS API, not shutil: the checkpoint root may be
        # hdfs:// or s3a:// (os.path would silently no-op there and
        # every stage would be wrongly skipped as complete)
        from kg import io

        for s in STAGE_ORDER[STAGE_ORDER.index(args.stage):]:
            path = os.path.join(args.out, s)
            if io.fs_exists(spark, path):
                io.fs_delete(spark, path)

    if args.pages:
        pages = spark.read.parquet(args.pages)
    elif args.n_pages:
        pages = FX.gen_pages(spark, args.n_pages, seed=42, noise=args.noise)
    else:
        ap.error("need --pages or --n-pages")

    res = run_pipeline(
        spark,
        pages,
        FX.aliases_df(spark),
        FX.entity_vecs_df(spark),
        checkpoint_root=args.out,
    )
    log = res["_orchestrator"].log
    n = res["triples"].count()
    print(json.dumps({"triples": n, "stages": log}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
