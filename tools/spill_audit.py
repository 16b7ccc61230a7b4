"""Spill / memory-headroom audit for the widest shuffles (r4 VERDICT #6).

The 100-TB story in BENCH/PLANS.md pins plan SHAPES (no single-partition
exchanges, broadcast dims, bounded skew); this tool adds the MEMORY
evidence: per-stage shuffle volume, spill bytes, and peak execution
memory for the shuffle-heaviest queries, measured from the Spark UI REST
API (the same numbers the History Server shows a cluster operator).

Queries audited: the end-to-end log pipeline at 32M rows (the core
scaling dataset) plus the widest document-table shuffles at sf0.1.
A stage that spills at this scale would spill catastrophically at 100×;
zero spill with bounded peak memory is the headroom evidence.

Usage: python tools/spill_audit.py [--rows 32000000] [--sf /root/testdata/sf0.1]
Writes a "## Spill audit" section into BENCH/PLANS.md (replacing any
previous one) and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MARK_BEGIN = "<!-- SPILL_AUDIT_BEGIN -->"
MARK_END = "<!-- SPILL_AUDIT_END -->"

# shuffle-heaviest driver queries (by BENCH/PLANS.md exchange counts and
# shuffle volume observed in bench runs)
DOC_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_groups",
    "fuzzy_dedup_corpus",
    "epoch_shuffle",
    "shard_plan",
]


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read().decode())


def _stage_rows(base: str, app_id: str, after_stage: int) -> list[dict]:
    stages = _api(base, f"/api/v1/applications/{app_id}/stages?status=complete")
    return [s for s in stages if s.get("stageId", -1) > after_stage]


def _max_stage(base: str, app_id: str) -> int:
    stages = _api(base, f"/api/v1/applications/{app_id}/stages")
    return max((s.get("stageId", -1) for s in stages), default=-1)


def _fmt_bytes(n: float) -> str:
    for unit in ("B", "KiB", "MiB", "GiB"):
        if abs(n) < 1024:
            return f"{n:.1f} {unit}"
        n /= 1024
    return f"{n:.1f} TiB"


def audit_one(base: str, app_id: str, name: str, fn) -> dict:
    before = _max_stage(base, app_id)
    t0 = time.perf_counter()
    fn()
    dt = time.perf_counter() - t0
    rows = _stage_rows(base, app_id, before)
    tot = lambda k: sum(s.get(k, 0) or 0 for s in rows)
    peak = max((s.get("peakExecutionMemory", 0) or 0 for s in rows), default=0)
    worst = max(
        rows,
        key=lambda s: (s.get("shuffleWriteBytes", 0) or 0),
        default=None,
    )
    return {
        "query": name,
        "sec": round(dt, 2),
        "stages": len(rows),
        "shuffle_write": tot("shuffleWriteBytes"),
        "shuffle_read": tot("shuffleReadBytes"),
        "spill_memory": tot("memoryBytesSpilled"),
        "spill_disk": tot("diskBytesSpilled"),
        "peak_exec_memory": peak,
        "widest_stage": (
            {
                "stageId": worst.get("stageId"),
                "shuffle_write": worst.get("shuffleWriteBytes", 0),
                "spill_disk": worst.get("diskBytesSpilled", 0),
                "tasks": worst.get("numCompleteTasks", 0),
            }
            if worst
            else None
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=32_000_000)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("txtlogparser-spill-audit")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus * 2, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "true")  # REST API is the metrics source
        .config("spark.ui.retainedStages", "2000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    results: list[dict] = []

    # ---- end-to-end pipeline at the core-scaling row count ----
    seq_dir = os.path.join(ROOT, ".bench_data", f"seq_{args.rows}")
    if os.path.isdir(seq_dir):
        from txtlogparser_spark.plans.pipeline import LogPipeline
        from txtlogparser_spark.sources.fixtures import (
            build_vocab,
            default_workspace,
        )

        info = spark.read.parquet(f"{seq_dir}/source_info.parquet")
        pipe = LogPipeline(
            spark, default_workspace(), build_vocab(), source_info=info
        )

        def run_pipe():
            seqs = pipe.load_sequences(f"{seq_dir}/sequences")
            routed = pipe.run(seqs, with_text=False)
            routed.write.format("noop").mode("overwrite").save()

        results.append(
            audit_one(base, app_id, f"log_pipeline_e2e_{args.rows}", run_pipe)
        )
    else:
        print(f"WARN: {seq_dir} missing — run bench/scaling first", file=sys.stderr)

    # ---- widest document-table shuffles at sf ----
    for name in DOC_QUERIES:
        fn = qs[name]

        def run_q(fn=fn):
            spark.catalog.clearCache()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()

        results.append(audit_one(base, app_id, name, run_q))

    spark.stop()

    # ---- render the PLANS.md section ----
    lines = [
        MARK_BEGIN,
        "## Spill audit (per-stage memory evidence, r4 VERDICT #6)",
        "",
        f"Measured {time.strftime('%Y-%m-%d %H:%M')} via the Spark UI REST API "
        f"(local[{args.cpus}], 48g driver, AQE on; pipeline at "
        f"{args.rows:,} rows, document queries at {args.sf}).",
        "A stage that spills here would spill catastrophically at 100×;",
        "zero spill with bounded peak execution memory is the headroom",
        "evidence the plan-shape table cannot show. `peak exec mem` is the",
        "stage-level aggregate of task peaks (the Spark UI's stage figure);",
        "the pipeline e2e's zero shuffle bytes are by design — its data",
        "path is exchange-free (broadcast enrich dim, partition-offset",
        "ordering, map-only span stage).",
        "",
        "| query | sec | stages | shuffle write | shuffle read | "
        "spill (mem) | spill (disk) | peak exec mem |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in results:
        lines.append(
            f"| {r['query']} | {r['sec']} | {r['stages']} | "
            f"{_fmt_bytes(r['shuffle_write'])} | {_fmt_bytes(r['shuffle_read'])} | "
            f"{_fmt_bytes(r['spill_memory'])} | {_fmt_bytes(r['spill_disk'])} | "
            f"{_fmt_bytes(r['peak_exec_memory'])} |"
        )
    spills = [r for r in results if r["spill_disk"] or r["spill_memory"]]
    lines += [
        "",
        (
            "**Spills: none** — every audited shuffle fits executor memory "
            "with the bench partitioning (shuffle.partitions = "
            f"{max(args.cpus * 2, 32)}, maxPartitionBytes = 4m)."
            if not spills
            else "**Spilling queries:** "
            + ", ".join(
                f"{r['query']} ({_fmt_bytes(r['spill_disk'])} disk)" for r in spills
            )
            + " — see widest_stage detail in the JSON line; mitigation is "
            "raising spark.sql.shuffle.partitions for these stages "
            "(AQE coalesces back when small)."
        ),
        MARK_END,
    ]

    plans = os.path.join(ROOT, "BENCH", "PLANS.md")
    with open(plans) as fh:
        txt = fh.read()
    block = "\n".join(lines)
    if MARK_BEGIN in txt:
        txt = re.sub(
            re.escape(MARK_BEGIN) + ".*?" + re.escape(MARK_END),
            block,
            txt,
            flags=re.S,
        )
    else:
        txt = txt.rstrip() + "\n\n" + block + "\n"
    with open(plans, "w") as fh:
        fh.write(txt)

    print(json.dumps({"spill_audit": results}))


if __name__ == "__main__":
    main()
