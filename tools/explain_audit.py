"""Plan-quality audit: verify each headline query's physical plan has the
properties that matter at 100 TB, and write the evidence to BENCH/PLANS.md.

Checked per query:
- PushedFilters reach the parquet scan (predicate pushdown)
- ReadSchema is narrower than the table (column pruning)
- WholeStageCodegen spans exist (JVM-side execution)
- broadcast joins where a dimension is joined (no fact shuffle)
- Python stages (ArrowEvalPython / MapInArrow / MapInPandas) only where
  the operator genuinely needs them

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

AUDITED = [
    "log_route",
    "log_filter_counts",
    "log_passthrough_page",
    "log_page_offset",
    "log_nav_matches",
    "log_nav_next",
    "log_nav_prev",
    "log_nav_search",
    "relational_suite",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "multimodal_features",
    "log_ingest_tokenize",
    "user_session_windows",
    "dedup_minhash_lsh",
    "ann_lsh_topk",
    "dedup_groups",
    "tfidf_top_terms",
    "ann_ivf_topk",
    "events_asof_join",
    "events_session_range_join",
    "decontaminate_eval",
    "source_mix_sample",
    "pack_chunks",
    "pack_greedy",
    "repetition_stats",
    "corpus_stats_suite",
    "corpus_funnel",
    "bloom_prior_dedup",
]
# The curated list above orders the interesting plans first; every other
# registered driver query is appended at runtime so the audit covers the
# full surface (main() extends AUDITED with the missing keys).

PY_STAGES = ("ArrowEvalPython", "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas")


def plan_text(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def single_partition_counts(df) -> tuple:
    """(killer, benign) SinglePartition exchanges, from the SIMPLE-mode
    plan where `Exchange SinglePartition` appears inline. (The formatted
    mode prints `Exchange (n)` with the arguments on a separate
    `Arguments: SinglePartition, ...` line — a regex over formatted text
    silently counts 0, which is how an earlier version of this audit
    under-reported; fixed round 3.)

    killer = a full-table one-task funnel (rows flow through one task) —
    the 100-TB scale-killer; must be 0 (global indices use partitioned
    windows + broadcast offsets instead, operators/windowing.py).
    benign (scalar-agg) = the final exchange of a SCALAR aggregate
    (child is a HashAggregate/SortAggregate with no keys): it carries
    one pre-aggregated row per upstream partition, bounded by the
    partition count, which is how any global count/sum executes.
    benign (bucket-dim) = the offsets cumsum of a two-level prefix-sum
    decomposition (operators/packing.py::chunk_pack,
    operators/windowing.py bucket indices): the child aggregate's keys
    include a WIDTH-BOUNDED bucket column (`_pb`/`_bkt`, = key/2^20 or
    a fixed hex prefix), so the exchange carries one row per bucket —
    n/bucket_width metadata rows, raised with scale per the operator
    docstrings. Detection is name-scoped to those repo-convention
    columns on purpose: a generic keyed aggregate through
    SinglePartition stays a killer."""
    text = plan_text(df, "simple")
    lines = text.splitlines()
    killer = benign = 0
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        nxt = lines[i + 1] if i + 1 < len(lines) else ""
        # keyless child aggregate = one pre-aggregated row per partition
        # flows through the exchange (partial, merge, or an empty
        # count-star stage that planned as functions=[])
        if re.search(r"Aggregate\(key(s)?=\[\]", nxt):
            benign += 1
        # width-bounded bucket dim: child aggregate keyed on _pb/_bkt
        elif re.search(r"Aggregate\(key(s)?=\[[^\]]*(_pb|_bkt)#", nxt):
            benign += 1
        else:
            killer += 1
    return killer, benign


def audit(df) -> dict:
    text = plan_text(df, "formatted")
    codegen = plan_text(df, "codegen")  # "Found N WholeStageCodegen subtrees"
    killer, benign = single_partition_counts(df)
    return {
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", text)),
        "read_schemas": re.findall(r"ReadSchema: (struct<[^\n]*)", text),
        "codegen_spans": int(
            (re.search(r"Found (\d+) WholeStageCodegen", codegen) or [0, 0])[1]
        ),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", text)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", text)),
        "python_stages": [s for s in PY_STAGES if s in text],
        "exchanges": len(re.findall(r"\bExchange\b", text)),
        "single_partition": killer,
        "scalar_agg_funnels": benign,
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        # audit inspects the STATIC plan; AQE wraps everything in
        # AdaptiveSparkPlan and hides codegen subtrees until execution
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m

    qs = m.queries()
    AUDITED.extend(k for k in qs if k not in AUDITED)
    lines = [
        "# Physical-plan audit (tools/explain_audit.py)",
        "",
        f"Per headline query at `{sf_dir}`: evidence that filters push to the",
        "scan, columns prune, execution stays in whole-stage codegen, dimension",
        "joins broadcast, and Python appears only in the operators that need it.",
        "",
        "| query | pushed filters | pruned read schemas | codegen spans | bcast/smj joins | exchanges | 1-part exch (killer/scalar-agg) | python stages |",
        "|---|---|---|---|---|---|---|---|",
    ]
    bad_single = []
    scalar_agg = []
    for name in AUDITED:
        # folded suite members (quality/log_nav/pack suites) keep their
        # standalone q_ functions — audit those plans directly; the
        # suite row itself is the union of them plus the final sort
        fn = qs.get(name) or getattr(m, f"q_{name}")
        df = fn(spark, sf_dir)
        a = audit(df)
        schemas = "; ".join(s[:60] for s in a["read_schemas"][:3]) or "-"
        if a["single_partition"]:
            bad_single.append(name)
        if a["scalar_agg_funnels"]:
            scalar_agg.append(name)
        lines.append(
            f"| {name} | {a['pushed_filters']} | `{schemas}` | "
            f"{a['codegen_spans']} | {a['broadcast_joins']}/{a['sort_merge_joins']} | "
            f"{a['exchanges']} | {a['single_partition']}/{a['scalar_agg_funnels']} | "
            f"{', '.join(a['python_stages']) or '-'} |"
        )
        print(lines[-1])
    lines.append("")
    lines.append(
        f"Full-table one-task `Exchange SinglePartition` (the 100-TB "
        f"scale-killer): "
        + ("**0 in every audited query**." if not bad_single else f"PRESENT in {bad_single} — fix before scale-up.")
    )
    lines.append(
        "Scalar-aggregate funnels (final exchange of a keyless aggregate; "
        "carries one partial row per partition — how any global count "
        "executes, fine at any scale): " + str(sorted(scalar_agg) or "none")
    )
    lines.append(
        "Counted from the simple-mode plan; an earlier audit version "
        "grepped `Exchange SinglePartition` in FORMATTED text, where the "
        "arguments sit on a separate line — that regex matches nothing "
        "and silently reported 0 (fixed round 3; the two-bucket split "
        "above re-established the evidence)."
    )
    print(lines[-3]); print(lines[-2])

    lines += [
        "",
        "Python stages are expected ONLY in: log_* (span-extraction semantics",
        "Catalyst cannot express) and multimodal_features (mapInPandas decode",
        "plumbing). Every other query is pure JVM.",
        "",
        "The log-pipeline plan over tokenized sequences (LogPipeline.run) adds:",
        "token-level survival prefilter before the Python stage, broadcast",
        "enrich join, and flat-column sink so metrics reads prune to one",
        "int-list column — see BENCH/BASELINE.md for measured throughput.",
    ]
    out = os.path.join(ROOT, "BENCH", "PLANS.md")
    # preserve the spill-audit block (tools/spill_audit.py owns it) —
    # this tool rewrites everything else
    spill_block = ""
    if os.path.exists(out):
        with open(out) as fh:
            prev = fh.read()
        m = re.search(
            r"<!-- SPILL_AUDIT_BEGIN -->.*?<!-- SPILL_AUDIT_END -->", prev, re.S
        )
        if m:
            spill_block = "\n\n" + m.group(0)
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + spill_block + "\n")
    print(f"\nwrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
