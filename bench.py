"""Benchmark harness: headline queries + end-to-end log pipeline throughput.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "pipeline_rows": N, "pipeline_sec": s, "throughput_seq_per_sec": r}

Env:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] width (default 32)
  BENCH_SEQ_ROWS       synthesized sequences rows (default 2_000_000)
  BENCH_TRIALS         pipeline-leg trials (default 3)

INTERFERENCE CONTROL (round-2 lesson: a single-shot number taken in a
noisy co-tenant window got recorded as a 6× "regression" that interleaved
A/B adjudication later disproved). This sandbox is a shared VM, so:
  - the pipeline leg runs BENCH_TRIALS times, plan rebuilt fresh each
    trial (re-collecting one DataFrame would reuse registered shuffle
    outputs and skip the parse stage); the reported number is the MEDIAN
    of clean trials (all trials if none are clean);
  - every trial records 1-min loadavg at start and CPU steal% during it;
    a trial is flagged dirty when load was already > 0.25×CPUS or
    steal% > 2 — visible contention;
  - each headline query runs twice (second run excludes first-iteration
    codegen/broadcast warmup) and reports the min;
  - raw trials + contention metadata ship in the JSON so a reviewer can
    re-adjudicate instead of trusting one number;
  - (round-3 VERDICT #3) if ALL initial trials are dirty, the bench does
    NOT ship a co-tenant measurement as the round artifact: it polls for
    a quiet window (a short CPU-bound steal probe — steal only accrues
    while our vCPUs are runnable, so an idle-box sample would read 0
    even under heavy co-tenant load) and re-runs trials until the
    consistency gate below is met or BENCH_CLEAN_RETRY_SEC (default
    900) is exhausted;
  - (round-4 VERDICT #4) the steal/load flags cannot see a SAME-VM
    co-tenant that arrives mid-bench (no hypervisor steal; loadavg
    mid-bench is confounded by our own saturating trials), so the
    recorded basis additionally requires CONSISTENCY: ≥2 clean trials
    within 15% of the fastest clean trial. Contention only ever adds
    time, so trials >15% above the clean minimum are co-tenant-inflated
    and excluded from the recorded median (they remain in the JSON).

The sequences table for the parse→route→aggregate leg is synthesized
deterministically (seed 42) by the FIXTURES.md generator — no external
data — and cached under .bench_data/.
"""

from __future__ import annotations

import json
import statistics
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SEQ_ROWS = int(os.environ.get("BENCH_SEQ_ROWS", "2000000"))
TRIALS = max(1, int(os.environ.get("BENCH_TRIALS", "3")))
CLEAN_RETRY_SEC = float(os.environ.get("BENCH_CLEAN_RETRY_SEC", "900"))
BENCH_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_data")


def _loadavg1() -> float:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except Exception:
        return -1.0


def _cpu_stat() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from the aggregate /proc/stat line."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except Exception:
        return 0, 0



def probe_steal(spark) -> float:
    """CPU steal%% measured DURING a short all-core CPU-bound burst.
    Steal accrues only while our vCPUs are runnable, so probing an idle
    box would read ~0 under any co-tenant load — the probe must spin."""
    tot0, st0 = _cpu_stat()
    spark.range(0, 6_000_000 * CPUS, 1, CPUS).selectExpr(
        "count_if(xxhash64(id) % 7 = 0)"
    ).collect()
    tot1, st1 = _cpu_stat()
    return 100.0 * (st1 - st0) / (tot1 - tot0) if tot1 > tot0 else 0.0


HEADLINE = [
    "log_route",
    "log_filter_counts",
    "log_search_counts",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "tpch_pricing_summary",
    "events_hourly",
    # NOTE: new round-3 queries (corpus_funnel etc.) are deliberately NOT
    # added here — BENCH_r*.json's "value" sums this fixed suite, so the
    # basis must stay identical across rounds to stay comparable.
    # Round-3 additions are timed in BENCH/BASELINE.md instead.
]


def ensure_bench_sequences() -> str:
    from txtlogparser_spark.sources.fixtures import FixtureSpec, write_fixture_tables

    out = os.path.join(BENCH_DIR, f"seq_{SEQ_ROWS}")
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        spec = FixtureSpec(
            n_rows=SEQ_ROWS, n_sources=16, seed=42, hot_fraction=0.5
        )
        write_fixture_tables(out, spec)
        with open(marker, "w") as fh:
            fh.write("ok")
    return out


def run_pipeline_bench(spark) -> tuple[int, float]:
    """End-to-end parse→enrich→route→aggregate over the synthesized
    sequences table (hot-source skew included)."""
    from txtlogparser_spark.config import WorkspaceConfig
    from txtlogparser_spark.plans.pipeline import LogPipeline
    from txtlogparser_spark.sources.fixtures import build_vocab, default_workspace

    import shutil

    data_dir = ensure_bench_sequences()
    vocab = build_vocab()
    info = spark.read.parquet(f"{data_dir}/source_info.parquet")
    pipe = LogPipeline(spark, default_workspace(), vocab, source_info=info)
    seqs = pipe.load_sequences(f"{data_dir}/sequences")
    sink = os.path.join(BENCH_DIR, "routed_sink")
    shutil.rmtree(sink, ignore_errors=True)
    import pyspark.sql.functions as F

    t0 = time.perf_counter()
    from txtlogparser_spark.operators.aggregate import (
        filter_metrics_flat,
        search_metrics_flat,
    )

    # ONE pipeline execution: routed rows land in the sink; aggregates
    # read the (columnar, pruned) sink instead of recomputing the UDF.
    # with_text=False: the per-row invariant is token-array equality,
    # spans are stored as run()'s flat int-list columns (a metrics read
    # scans ONE narrow column), display text is detokenized per page on
    # read.
    routed = pipe.run(seqs, with_text=False)
    routed.write.mode("overwrite").parquet(sink)
    routed_sink = spark.read.parquet(sink)
    n = routed_sink.count()
    filter_metrics_flat(routed_sink).collect()
    search_metrics_flat(routed_sink).collect()
    # render-on-demand display window (OutputData.cpp:504-524 analog);
    # project before the top-k so TakeOrdered carries narrow rows
    pipe.display_text(
        routed_sink.select("doc_id", "tokens", "source_rank", "line_no")
        .orderBy("source_rank", "line_no")
        .limit(100)
    ).collect()
    dt = time.perf_counter() - t0
    return n, dt


def main():
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    # pre-existing co-tenant load, sampled BEFORE any of our own Spark
    # work — the headline suite saturates the box, so sampling at the
    # first pipeline trial would flag trial 0 dirty on a quiet machine
    load_at_start = _loadavg1()

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("txtlogparser-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS * 2, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        # split the (row-group-sized) parquet scan finely enough that the
        # Arrow UDF stage saturates all cores even on a 50%-hot source
        .config("spark.sql.files.maxPartitionBytes", "4m")
        # G1 degrades into full-GC spirals on repeated wide parquet writes
        # (humongous row-group buffers); ParallelGC stays flat. Smaller
        # row groups bound per-writer buffering across the 20 leaf columns.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.hadoop.parquet.block.size", str(32 * 1024 * 1024))
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm JVM codegen + Python/Arrow workers once so the first headline
    # query isn't charged the cold-start (protocol excludes startup)
    spark.range(1000).selectExpr("sum(id)").collect()
    try:
        import pandas as _pd  # noqa: F401
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _warm(s):
            return s

        spark.range(1000).select(_warm("id")).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass

    qs = entry_mod.queries()
    per_query: dict[str, float] = {}
    query_trials: dict[str, list[float]] = {}
    total = 0.0
    for name in HEADLINE:
        # tpch_pricing_summary / events_hourly were folded into
        # relational_suite in the driver registry (50-slot cap) but their
        # functions remain — the bench basis stays the identical plans
        fn = qs.get(name) or getattr(entry_mod, f"q_{name}")
        ts = []
        for _ in range(2):  # 2nd run excludes per-plan codegen warmup
            # hermetic trials: operators may persist() small intermediates
            # (dedup candidate tables); without clearing, trial 2 reads
            # trial 1's cache and records cache-hit time as query time
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        query_trials[name] = [round(t, 3) for t in ts]
        per_query[name] = round(min(ts), 3)
        total += min(ts)

    pipe_trials: list[float] = []
    trial_meta: list[dict] = []
    rows = 0

    def run_trial(k: int) -> None:
        nonlocal rows
        load0 = _loadavg1()
        tot0, st0 = _cpu_stat()
        r, dt = run_pipeline_bench(spark)  # plan rebuilt fresh inside
        rows = r
        tot1, st1 = _cpu_stat()
        steal_pct = (
            100.0 * (st1 - st0) / (tot1 - tot0) if tot1 > tot0 else 0.0
        )
        # dirty = co-tenant steal during the trial, or PRE-EXISTING load
        # at bench start (every in-bench load sample — including trial
        # 0's, which follows the headline suite — reflects our own work,
        # so load alone can only flag the state of the box before us)
        dirty = steal_pct > 2.0 or (k == 0 and load_at_start > 0.25 * CPUS)
        pipe_trials.append(dt)
        trial_meta.append(
            {
                "sec": round(dt, 3),
                "load1_before": round(load0, 2),
                "steal_pct": round(steal_pct, 2),
                "dirty": dirty,
            }
        )

    for k in range(TRIALS):
        run_trial(k)

    def clean_trials() -> list[float]:
        return [t for t, m in zip(pipe_trials, trial_meta) if not m["dirty"]]

    def consistent_clean() -> list[float]:
        """Clean trials within 15% of the fastest clean trial. A same-VM
        co-tenant arriving mid-bench is invisible to the steal/load
        flags (r4 VERDICT #4: a 22.8s trial entered median_clean at
        load1 15.9); contention only ADDS time, so the reproducible
        capability is the cluster at the clean minimum."""
        cl = sorted(clean_trials())
        return [t for t in cl if t <= cl[0] * 1.15] if cl else []

    # too few mutually-consistent clean trials → hunt for a quiet window
    # instead of recording the co-tenant as the round number
    retries = 0
    deadline = time.monotonic() + CLEAN_RETRY_SEC
    while len(consistent_clean()) < 2 and time.monotonic() < deadline:
        st = probe_steal(spark)
        if st > 2.0:
            # contended right now: sleep out part of the budget and re-probe
            time.sleep(min(30.0, max(1.0, deadline - time.monotonic())))
            continue
        retries += 1
        run_trial(TRIALS + retries)

    clean = clean_trials()
    consistent = consistent_clean()
    if len(consistent) >= 2:
        pipe_sec, pipe_basis = (
            statistics.median(consistent),
            "median_consistent_clean",
        )
    elif clean:
        # a single clean trial with no agreeing partner: min is the
        # defensible bound (the slower clean trials measured a co-tenant)
        pipe_sec, pipe_basis = min(clean), "min_clean_unconfirmed"
    else:
        # every trial (including retries) ran under visible co-tenant
        # steal: the median then measures the co-tenant twice over — the
        # MIN trial is the defensible capability bound (noise only adds
        # time), and the basis field plus per-trial steal records make
        # the substitution auditable rather than silent
        pipe_sec, pipe_basis = min(pipe_trials), "min_all_trials_dirty"
    total += pipe_sec

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline suite + parse-route-aggregate pipeline wall time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {**per_query, "log_pipeline_e2e": round(pipe_sec, 3)},
                "sf": sf,
                "pipeline_rows": rows,
                "pipeline_input_rows": SEQ_ROWS,
                "pipeline_sec": round(pipe_sec, 3),
                "pipeline_sec_basis": pipe_basis,
                "pipeline_trials": trial_meta,
                "pipeline_trials_clean": len(clean),
                "pipeline_trials_consistent": len(consistent),
                "pipeline_clean_retries": retries,
                "query_trials": query_trials,
                "throughput_seq_per_sec": round(SEQ_ROWS / pipe_sec, 1),
                "throughput_best_seq_per_sec": round(
                    SEQ_ROWS / min(pipe_trials), 1
                ),
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
