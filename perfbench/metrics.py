"""Turn a worker result into the metrics ``BENCHMARK.json`` names.

End-to-end metrics come from untraced runs, per-layer metrics from traced
runs of the same units. Per-layer times and task counters are means per round
(crawl) or per batch (SERP); funnel counts are totals over the traced
units. A layer a workload never calls reads 0: every per-layer metric is
printed for both workloads, and only the end-to-end metrics are never 0.
"""

from __future__ import annotations

import statistics

# span name -> per-layer metric (seconds per round)
SPAN_METRICS = [
    "pipeline.run_round.collect", "pipeline.maintain",
    "seen_set.first_seen_in_batch", "seen_set.filtered_new",
    "seen_set.build_bloom_shards", "seen_set.update_bloom_shards",
    "politeness.apply_robots", "politeness.schedule", "fetch.fetch_and_validate",
    "tables.commit.fetches", "tables.commit.seen_keys", "tables.commit.seen_shards",
    "tables.commit.metrics", "tables.commit.extractions", "tables.append_frontier",
    "tables.compact", "tables.expire_snapshots", "tables.remove_orphans",
    "cascade.apply_cascade_array", "warc_rules.parse_serp",
]
# job label -> event-log counters reported per round
EVENT_METRICS = {
    "seen_set.filtered_new": "all",
    "politeness.schedule": "all",
    "tables.commit.fetches": "all",
    "tables.commit.seen_shards": "all",
    "pipeline.run_round.collect": "all",
    "cascade.apply_cascade_array": "all",
    "warc_rules.parse_serp": "all",
    "tables.commit.seen_keys": ("tasks", "run_ms"),
    "tables.commit.metrics": ("tasks", "run_ms"),
    "tables.compact": ("tasks", "run_ms"),
    "tables.commit.extractions": ("tasks", "run_ms"),
}
EVENT_COUNTERS = (
    "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
)
# labels of the jobs a crawl round runs (everything under run_round)
ROUND_LABEL_PREFIXES = ("pipeline.run_round", "seen_set.", "politeness.", "fetch.", "tables.commit.")


def _rounds(units) -> list[dict]:
    return [r for u in units for r in u["rounds"]]


def end_to_end(res: dict, peak_rss_mb: float) -> dict[str, float]:
    units = res["units"]
    rounds = [r["round_s"] for r in _rounds(units)]
    return {
        # session start + worker pool start + the median set-up repetition
        "setup_s": res["session_s"] + res["warm_up_s"] + statistics.median(res["setup_reps_s"]),
        "urls_per_s": sum(u["fetched"] for u in units) / sum(u["wall_s"] for u in units),
        "round_p50_s": statistics.median(rounds),
        "round_max_s": max(rounds),
        "peak_rss_mb": peak_rss_mb,
        "state_bytes_per_url": statistics.median(u["state_bytes_per_url"] for u in units),
    }


def _event_label(label: str) -> str:
    # a compaction's rewrite jobs are labelled tables.compact.commit.<table>
    return "tables.compact" if label.startswith("tables.compact") else label


def per_layer(res: dict) -> dict[str, float]:
    traced = res["units"]
    rounds = _rounds(traced)
    n = len(rounds)
    spans = res["span_totals"]
    out: dict[str, float] = {}
    for name in SPAN_METRICS:
        out[f"{name}_s"] = spans.get(name, {}).get("s", 0.0) / n
    out["pipeline.run_round.self_s"] = res.get("run_round_self_s", 0.0) / n

    events: dict[str, dict[str, float]] = {}
    for label, agg in res["events"].items():
        tgt = events.setdefault(_event_label(label), {})
        for k, v in agg.items():
            tgt[k] = tgt.get(k, 0) + v
    for label, counters in EVENT_METRICS.items():
        for c in EVENT_COUNTERS if counters == "all" else counters:
            out[f"{label}.{c}"] = events.get(label, {}).get(c, 0) / n
    round_labels = [
        v for k, v in events.items() if k.startswith(ROUND_LABEL_PREFIXES)
        or k in ("cascade.apply_cascade_array", "warc_rules.parse_serp")
    ]
    tasks = sum(v["tasks"] for v in round_labels)
    out["spark.tasks_per_round"] = tasks / n
    out["spark.ms_per_task"] = sum(v["run_ms"] for v in round_labels) / max(tasks, 1)
    out["tables.bytes_written"] = sum(
        v.get("output_bytes", 0) for k, v in events.items() if k.startswith("tables.commit.")
    ) / n
    out["tables.data_dirs"] = statistics.median(u["data_dirs"] for u in traced)
    out["tables.compactions"] = spans.get("tables.compact", {}).get("calls", 0) / len(traced)

    counts: dict[str, int] = {}
    for r in rounds:
        for k, v in r.get("counts", {}).items():
            counts[k] = counts.get(k, 0) + v
    for k in ("probed", "suspects", "exact_hits"):
        out[f"seen_set.{k}"] = counts.get(k, 0)
    non_members = counts.get("probed", 0) - counts.get("exact_hits", 0)
    out["seen_set.bloom_fp_rate"] = (
        (counts.get("suspects", 0) - counts.get("exact_hits", 0)) / non_members
        if non_members else 0.0
    )
    out["seen_set.bloom_fp_target"] = res["bloom_fp_target"]
    for k in ("robots_dropped", "over_budget", "scheduled"):
        out[f"politeness.{k}"] = counts.get(k, 0)
    for k in ("fetched", "ok", "valid"):
        out[f"fetch.{k}"] = counts.get(k, 0)
    decoded = events.get("tables.commit.fetches", {}).get("rows.MapInArrow", 0)
    out["fetch.payload_rows_decoded"] = decoded / n
    out["fetch.useful_ratio"] = counts.get("fetched", 0) / decoded if decoded else 0.0

    facts = [u["facts"] for u in traced if "facts" in u]
    out["cascade.parsed"] = sum(f["queries"] for f in facts)
    out["warc_rules.queries"] = sum(f["warc_queries"] for f in facts)
    out["warc_rules.blocks"] = sum(f["blocks"] for f in facts)

    out["trace.round_p50_s"] = statistics.median(r["round_s"] for r in rounds)
    out["trace.wrapper_s"] = res["wrapper_s"] / n
    if "pipeline.run_round" in spans:
        total = spans["pipeline.run_round"]["s"]
        out["trace.span_coverage"] = 1 - res["run_round_self_s"] / total
    else:
        batch = sum(r["round_s"] for r in rounds)
        covered = sum(spans.get(k, {}).get("s", 0.0) for k in (
            "cascade.apply_cascade_array", "warc_rules.parse_serp", "tables.commit.extractions"))
        out["trace.span_coverage"] = covered / batch
    out["trace.count_s"] = sum(r.get("count_s", 0.0) for r in rounds) / n
    return out
