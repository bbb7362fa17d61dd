"""Metric definitions: the end-to-end metrics every workload prints, and
the per-layer metrics the traced run prints (zero where a workload does
not run the layer)."""

from __future__ import annotations

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "peak_pss_mb": "MB",
}

# spans whose Spark task metrics are reported, and the task metrics
EVENT_SPANS = (
    "frontier.links",
    "functions.urls",
    "frontier.scheduler.dedup",
    "frontier.seen.novel",
    "frontier.seen.add",
    "frontier.checkpoint.commit",
    "frontier.politeness.topk",
    "operators.textdedup.minhash",
    "operators.textdedup.lsh_pairs",
    "operators.textdedup.cc",
    "operators.textdedup.ngram",
    "operators.similarity.topk",
    "operators.similarity.neardup",
)
EVENT_FIELDS = {
    "task_cpu_s": "s",
    "task_run_s": "s",
    "scheduler_delay_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
}
# spans that run Python UDFs: Spark reports their Python worker time
PYTHON_SPANS = (
    "frontier.seen.novel",
    "frontier.seen.add",
    "operators.textdedup.ngram",
    "operators.similarity.topk",
    "operators.similarity.neardup",
)

PER_LAYER: dict[str, str] = {
    "frontier.links.self_s": "s",
    "frontier.links.docs_scanned": "count",
    "frontier.links.links_out": "count",
    "frontier.links.us_per_link": "us",
    "functions.urls.self_s": "s",
    "functions.urls.rows": "count",
    "functions.urls.us_per_row": "us",
    "frontier.scheduler.dedup.self_s": "s",
    "frontier.scheduler.dedup.cands_in": "count",
    "frontier.scheduler.dedup.winners_out": "count",
    "frontier.scheduler.dedup.winners_per_cand": "ratio",
    "frontier.seen.novel.self_s": "s",
    "frontier.seen.novel.rows_in": "count",
    "frontier.seen.novel.bloom_hits": "count",
    "frontier.seen.novel.rescued": "count",
    "frontier.seen.novel.observed_fpp": "ratio",
    "frontier.seen.add.self_s": "s",
    "frontier.seen.add.broadcast_bytes": "B",
    "frontier.checkpoint.commit_s": "s",
    "frontier.checkpoint.bytes_written": "B",
    "frontier.checkpoint.files_written": "count",
    "frontier.checkpoint.restore_s": "s",
    "frontier.checkpoint.resume_s": "s",
    "frontier.checkpoint.store_bytes_per_url": "B",
    "frontier.politeness.topk_self_s": "s",
    "frontier.politeness.task_skew": "ratio",
    "frontier.politeness.robots_self_s": "s",
    "frontier.scheduler.state_self_s": "s",
    "frontier.scheduler.jobs_per_round": "count",
    "frontier.scheduler.fixed_job_s": "s",
    "frontier.scheduler.fixed_cost_share": "ratio",
    "plans.ranks.global_sequence.self_s": "s",
    "operators.textdedup.minhash_s": "s",
    "operators.textdedup.lsh_pairs_s": "s",
    "operators.textdedup.cc_rounds": "count",
    "operators.textdedup.cc_s": "s",
    "operators.textdedup.simhash_s": "s",
    "operators.textdedup.ngram_s": "s",
    "operators.textdedup.ngram_kernel_path": "count",
    "operators.similarity.topk_s": "s",
    "operators.similarity.neardup_s": "s",
}
for _span in EVENT_SPANS:
    for _field, _unit in EVENT_FIELDS.items():
        PER_LAYER.setdefault(f"{_span}.{_field}", _unit)
for _span in PYTHON_SPANS:
    PER_LAYER[f"{_span}.python_s"] = "s"
PER_LAYER.update({
    "trace.failed_tasks": "count",
    "trace.untraced_op_s": "s",
    "trace.overhead_s": "s",
    "trace.gap_s": "s",
})

# per-layer metrics where more is better; every other one is "lower"
HIGHER_IS_BETTER = {"operators.textdedup.ngram_kernel_path"}
