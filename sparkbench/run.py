"""Benchmark entry point.

    python3 sparkbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0

Runs closed-loop operations of one workload from a single process on
``local[n]`` (n <= 4), checks every operation's output, and prints one
JSON object as the last line of standard output: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a separate traced operation
with ``--trace 1``. Everything else goes to standard error and to a run
record under ``.bench_work/runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkbench import harness  # noqa: E402
from sparkbench.metrics import END_TO_END, EVENT_FIELDS, EVENT_SPANS, PER_LAYER, PYTHON_SPANS  # noqa: E402

# Untimed operations on the workload's smaller warm-up inputs before
# timing starts. STEADINESS.md has the first/last ratios behind these
# counts; neardup would need three, which the run budget cannot absorb.
WARMUP_OPS = {"crawl": 1, "neardup": 1}


def _workload(name: str):
    if name == "crawl":
        from sparkbench.crawl import Crawl

        return Crawl
    from sparkbench.neardup import Neardup

    return Neardup


class Runner:
    """Runs and checks operations, counting attempted and failed ones."""

    def __init__(self, w, spark, sampler):
        self.w, self.spark, self.sampler = w, spark, sampler
        self.attempted = self.failed = 0
        self.check_s = 0.0

    def run(self, fn, extra_check=None):
        self.attempted += 1
        t = time.monotonic()
        try:
            out = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"operation failed: {type(e).__name__}: {e}", file=sys.stderr)
            self.failed += 1
            harness.free_rdds(self.spark, self.w.keep)
            return None, time.monotonic() - t
        wall = time.monotonic() - t
        self.sampler.pause()
        tc = time.monotonic()
        ok = self.w.check(out) and (extra_check is None or extra_check(out))
        self.check_s += time.monotonic() - tc
        self.sampler.resume()
        if not ok:
            print(f"{self.w.name}: output check failed", file=sys.stderr)
            self.failed += 1
        harness.free_rdds(self.spark, self.w.keep)
        if hasattr(self.w, "done"):
            self.w.done()
        return out, wall


def layer_metrics(name, tr, stats, untraced, traced, fixed_job_s, n_rounds) -> dict:
    from sparkbench.trace import merge

    v = {k: 0.0 for k in PER_LAYER}

    def ev(span):
        return merge(stats, tr.group_ids(span))

    for span in EVENT_SPANS:
        g = ev(span)
        for f in EVENT_FIELDS:
            v[f"{span}.{f}"] = float(getattr(g, f))
    for span in PYTHON_SPANS:
        v[f"{span}.python_s"] = ev(span).python_s
    v["trace.failed_tasks"] = float(sum(g.failed_tasks for g in stats.values()))
    layer_spans = [s for s in tr.spans if not s.name.startswith("trace.")]
    traced_s = sum(s.self_s for s in layer_spans)
    untraced_s = untraced.op_s
    v["trace.untraced_op_s"] = untraced_s
    v["trace.overhead_s"] = traced.op_s - untraced_s
    v["trace.gap_s"] = untraced_s - traced_s
    if name == "crawl":
        c = traced.layers
        v["frontier.links.self_s"] = tr.self_s("frontier.links")
        v["frontier.links.docs_scanned"] = c["docs_scanned"]
        v["frontier.links.links_out"] = c["links_out"]
        v["frontier.links.us_per_link"] = 1e6 * v["frontier.links.self_s"] / max(c["links_out"], 1)
        v["functions.urls.self_s"] = tr.self_s("functions.urls")
        v["functions.urls.rows"] = c["url_rows"]
        v["functions.urls.us_per_row"] = 1e6 * v["functions.urls.self_s"] / max(c["url_rows"], 1)
        v["frontier.scheduler.dedup.self_s"] = tr.self_s("frontier.scheduler.dedup")
        v["frontier.scheduler.dedup.cands_in"] = c["cands_in"]
        v["frontier.scheduler.dedup.winners_out"] = c["winners_out"]
        v["frontier.scheduler.dedup.winners_per_cand"] = c["winners_out"] / max(c["cands_in"], 1)
        v["frontier.seen.novel.self_s"] = tr.self_s("frontier.seen.novel")
        v["frontier.seen.novel.rows_in"] = c["novel_rows_in"]
        v["frontier.seen.novel.bloom_hits"] = c["bloom_hits"]
        v["frontier.seen.novel.rescued"] = c["rescued"]
        v["frontier.seen.novel.observed_fpp"] = c["rescued"] / max(c["bloom_hits"], 1)
        v["frontier.seen.add.self_s"] = tr.self_s("frontier.seen.add")
        v["frontier.seen.add.broadcast_bytes"] = c["broadcast_bytes"]
        v["frontier.checkpoint.commit_s"] = tr.self_s("frontier.checkpoint.commit")
        v["frontier.checkpoint.bytes_written"] = c["bytes_written"]
        v["frontier.checkpoint.files_written"] = c["files_written"]
        v["frontier.checkpoint.restore_s"] = c["restore_s"]
        v["frontier.checkpoint.resume_s"] = untraced.resume_s
        v["frontier.checkpoint.store_bytes_per_url"] = untraced.store_bytes / max(len(untraced.seen), 1)
        v["frontier.politeness.topk_self_s"] = tr.self_s("frontier.politeness.topk")
        v["frontier.politeness.task_skew"] = ev("frontier.politeness.topk").task_skew
        v["frontier.politeness.robots_self_s"] = tr.self_s("frontier.politeness.robots")
        v["frontier.scheduler.state_self_s"] = tr.self_s("frontier.scheduler.state")
        jobs = stats["op.untraced"].jobs if "op.untraced" in stats else 0
        v["frontier.scheduler.jobs_per_round"] = jobs / n_rounds
        v["frontier.scheduler.fixed_job_s"] = fixed_job_s
        v["frontier.scheduler.fixed_cost_share"] = jobs * fixed_job_s / untraced_s
        v["plans.ranks.global_sequence.self_s"] = tr.self_s("plans.ranks.global_sequence")
    else:
        cc = ev("operators.textdedup.cc")
        v["operators.textdedup.minhash_s"] = tr.self_s("operators.textdedup.minhash")
        v["operators.textdedup.lsh_pairs_s"] = tr.self_s("operators.textdedup.lsh_pairs")
        # dedup_clusters runs one convergence count per materialized round
        v["operators.textdedup.cc_rounds"] = float(cc.count_actions("Dataset.count"))
        v["operators.textdedup.cc_s"] = tr.self_s("operators.textdedup.cc")
        v["operators.textdedup.simhash_s"] = tr.self_s("operators.textdedup.simhash")
        v["operators.textdedup.ngram_s"] = tr.self_s("operators.textdedup.ngram")
        v["operators.textdedup.ngram_kernel_path"] = traced.layers["ngram_kernel_path"]
        v["operators.similarity.topk_s"] = tr.self_s("operators.similarity.topk")
        v["operators.similarity.neardup_s"] = tr.self_s("operators.similarity.neardup")
    return {k: {"value": float(x), "unit": PER_LAYER[k]} for k, x in v.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    harness.scrub_env()
    try:
        import pyspark  # noqa: F401

        import warchaeology_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2

    workdir = os.path.join(harness.WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    event_dir = os.path.join(workdir, "eventlog") if args.trace else None
    record: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "loadavg_start": harness.loadavg(),
        "source_sha256": harness.source_digest(), "cores": harness.CORES,
    }
    sampler = harness.PssSampler()
    sampler.start()
    t0 = time.monotonic()
    spark = harness.start_spark(args.workload, event_dir)
    try:
        session_s = time.monotonic() - t0
        record["conf"] = harness.effective_conf(spark)
        w = _workload(args.workload)(spark, args.seed, workdir)
        t1 = time.monotonic()
        w.prepare()
        inputs_s = time.monotonic() - t1
        w.keep = harness.persistent_rdd_ids(spark)
        runner = Runner(w, spark, sampler)
        warm = []
        for _ in range(WARMUP_OPS[args.workload]):
            out, wall = runner.run(lambda: w.op(warm=True))
            warm.append(wall)
        setup_s = session_s + inputs_s + sum(warm)
        record.update(session_s=session_s, inputs_s=inputs_s, warmup_op_s=warm, setup_s=setup_s)

        if args.trace:
            build_metrics = traced_run(args.workload, w, spark, runner, event_dir, record)
        else:
            timed = []
            while not timed or sum(o.op_s for o, _ in timed) < args.seconds:
                out, wall = runner.run(w.op)
                if out is None:
                    if runner.attempted > 20:
                        break
                    continue
                timed.append((out, wall))
            op_s = [o.op_s for o, _ in timed]
            rates = [o.items / o.op_s for o, _ in timed]
            record.update(op_s=op_s, items=[o.items for o, _ in timed],
                          op_layers=[o.layers for o, _ in timed],
                          first_last_ratio=op_s[0] / op_s[-1] if op_s else None)
            if args.workload == "crawl":
                record["resume_s"] = [o.resume_s for o, _ in timed]
            e2e = {
                "setup_s": setup_s,
                "items_per_s": statistics.median(rates) if rates else 0.0,
                "peak_pss_mb": sampler.peak_mb,
            }

            def build_metrics():
                return {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    finally:
        harness.stop_spark(spark)
        sampler.stop()
    # the traced run's event log is complete only once Spark has stopped
    metrics = build_metrics()
    record.update(
        attempted=runner.attempted, failed=runner.failed, check_s=runner.check_s,
        loadavg_end=harness.loadavg(), metrics=metrics,
        peak_pss_mb_by_part={k: v / 1024 for k, v in sampler.part_peak_kb.items()},
    )
    path = harness.write_record(f"{args.workload}-{args.seed}", record)
    print(f"run record: {path}", file=sys.stderr)
    shutil.rmtree(workdir, ignore_errors=True)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def traced_run(name, w, spark, runner, event_dir, record):
    """One untraced operation (tagged, for its job count) and one traced
    replay; returns a callable that builds the per-layer metrics after
    Spark has stopped and flushed its event log."""
    from sparkbench.trace import Tracer, find_event_log, reduce_event_log

    tr = Tracer(spark)
    with tr.span("trace.calibrate"):
        for _ in range(10):
            spark.range(1).count()
    calibrate_s = tr.spans[-1].duration

    sc = spark.sparkContext
    sc.setJobGroup("op.untraced", "untraced operation")
    untraced, _ = runner.run(w.op)
    sc.setLocalProperty("spark.jobGroup.id", None)

    def same_counts(out):
        if name != "crawl" or untraced is None:
            return True
        if out.metrics != untraced.metrics:
            print("traced replay per-round counts differ from the untraced run",
                  file=sys.stderr)
            return False
        return True

    traced, _ = runner.run(lambda: w.traced_op(tr), extra_check=same_counts)
    if untraced is not None and traced is not None and name == "crawl":
        record["round_metrics"] = untraced.metrics

    def build():
        stats = reduce_event_log(find_event_log(event_dir))
        cal = stats.get(tr.group_ids("trace.calibrate")[0])
        fixed_job_s = calibrate_s / cal.jobs if cal and cal.jobs else 0.0
        if untraced is None or traced is None:
            return {k: {"value": 0.0, "unit": u} for k, u in PER_LAYER.items()}
        from sparkbench.crawl import ROUNDS

        return layer_metrics(name, tr, stats, untraced, traced, fixed_job_s, ROUNDS)

    return build


if __name__ == "__main__":
    sys.exit(main())
