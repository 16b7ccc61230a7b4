"""spark-submit entry point for the log pipeline (north_star launch mode).

Launch from the repository root (multi-executor layout, or local[N]):

    zip -qr /tmp/tlp.zip txtlogparser_spark
    spark-submit --master 'local[8]' --py-files /tmp/tlp.zip \
        tools/run_job.py --data .bench_data/seq_2000000 --out /tmp/run_out

Runs parse → enrich → route → aggregate over the sequences table, writes
the routed sink (partitioned by route, flat span columns), the per-filter/search
metrics tables, and a run manifest; prints a one-line JSON summary that
also names the span kernel that ran, and why (LogPipeline.span_kernel).
No repo imports besides the shipped --py-files zip: this file must stay
runnable from a bare spark-submit with only the zip on the PYTHONPATH.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True, help="fixture dir (sequences/ + source_info.parquet)")
    ap.add_argument("--out", required=True, help="output dir for sinks + metrics")
    ap.add_argument("--workspace", default=None, help="workspace config JSON (default: fixture workspace)")
    ap.add_argument("--no-search", action="store_true")
    ap.add_argument("--compact", action="store_true",
                    help="AQE-rebalanced, sorted sink files (sources/compact.py)")
    ap.add_argument("--shards", type=int, default=0,
                    help="also write N token-balanced shard dirs of the "
                         "routed sequences (operators/packing.py::shard_plan)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("txtlogparser-spark-run").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from txtlogparser_spark.config import WorkspaceConfig, load_workspaces
    from txtlogparser_spark.plans.pipeline import LogPipeline
    from txtlogparser_spark.plans.lineage import RunManifest, new_run_id
    from txtlogparser_spark.sources.fixtures import build_vocab, default_workspace

    if args.workspace:
        with open(args.workspace) as fh:
            d = json.load(fh)
        if "workspaces" in d:
            # versioned store envelope (save_workspaces format): load it
            # properly instead of letting from_dict default every field
            # into an empty pass-everything workspace
            wss = load_workspaces(args.workspace)
            if not wss:
                raise SystemExit(
                    f"--workspace {args.workspace}: store contains no "
                    "workspaces — nothing to run"
                )
            # the reference persists+restores the ACTIVE workspace id
            # (WorkspaceManager.cpp:46,127-133); running wss[0] by file
            # order would silently run the wrong workspace's filters
            active = d.get("activeWorkspaceId")
            by_id = {w.id: w for w in wss}
            if active in by_id:
                ws = by_id[active]
            else:
                if active is not None:
                    print(
                        f"WARN: activeWorkspaceId {active!r} not in store; "
                        f"falling back to first workspace (id={wss[0].id})"
                    )
                ws = wss[0]
        elif "filters" in d or "searches" in d:
            ws = WorkspaceConfig.from_dict(d)
        else:
            raise SystemExit(
                f"--workspace {args.workspace}: neither a workspace dict "
                "(filters/searches keys) nor a versioned store "
                "(workspaces key) — refusing to run with an implicit "
                "empty workspace that would route every row"
            )
    else:
        ws = default_workspace()

    info = spark.read.parquet(os.path.join(args.data, "source_info.parquet"))
    pipe = LogPipeline(spark, ws, build_vocab(), source_info=info)
    seqs = pipe.load_sequences(os.path.join(args.data, "sequences"))

    run_id = new_run_id()
    manifest = RunManifest(
        run_id=run_id,
        config_digest=ws.digest(),
        input_path=args.data,
        out_dir=args.out,
    )
    manifest.save()

    t0 = time.perf_counter()
    routed = pipe.run(seqs, with_search=not args.no_search)
    pipe.write_sinks(routed, args.out, compact=args.compact)
    sink = spark.read.parquet(os.path.join(args.out, "routed"))
    # ONE scan for rows_routed + per-filter metrics (the sentinel row
    # carries the total) instead of a count() pass plus a metrics pass
    from txtlogparser_spark.operators.aggregate import (
        ALL_ROWS_SENTINEL,
        one_pass_metrics_flat,
    )

    import pyspark.sql.functions as F

    m = one_pass_metrics_flat(sink).persist()
    srow = m.where(F.col("filter_id") == ALL_ROWS_SENTINEL).select("line_count").collect()
    n = int(srow[0][0]) if srow else 0
    fc = m.where(F.col("filter_id") != ALL_ROWS_SENTINEL)
    fc.coalesce(1).write.mode("overwrite").parquet(os.path.join(args.out, "metrics_filters"))
    m.unpersist()
    if not args.no_search:
        sc = pipe.search_counts(sink)
        sc.coalesce(1).write.mode("overwrite").parquet(os.path.join(args.out, "metrics_searches"))
    if args.shards > 0:
        pipe.write_sharded(sink, args.out, args.shards)
    dt = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "run_id": run_id,
                "rows_routed": n,
                "wall_sec": round(dt, 2),
                "out": args.out,
                "span_kernel": pipe.span_kernel(
                    with_search=not args.no_search
                ).record(),
                "filter_counts": {
                    str(r["filter_id"]): [r["occurrence_count"], r["line_count"]]
                    for r in spark.read.parquet(
                        os.path.join(args.out, "metrics_filters")
                    ).collect()
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
