"""Traced replay of one ``crawl`` operation.

``run_crawl`` fuses a round's layers into a few lazily checkpointed plans,
so its timings cannot say which layer did the work. This replay runs the
same rounds in ``run_crawl``'s order from the layers' public functions,
with an eager ``localCheckpoint`` after each layer, inside one tracer span
per layer. Counting jobs (``trace.counts``) run outside the layer spans.
Its per-round metrics must equal the untraced operation's.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from sparkbench.crawl import KILL_AFTER, N_SEEDS, ROUNDS, Crawl, CrawlOutput, _dir_bytes


def _count(tr, df) -> int:
    with tr.span("trace.counts"):
        return df.count()


def _bloom_fp(state, novel_hashes: np.ndarray) -> int:
    """Novel rows the bloom said maybe-seen: the false positives the
    exact anti-join rescued. Tests the driver-side shards directly."""
    from warchaeology_spark.frontier.seen import _test_bits

    if not state.broadcast_bloom or not len(novel_hashes):
        return 0
    P = state.num_partitions
    pids = (novel_hashes % P + P) % P
    hits = 0
    for p in np.unique(pids):
        shard = state._shards.get(int(p))
        if shard is not None:
            hits += int(_test_bits(shard, novel_hashes[pids == p], state.m_bits, state.k).sum())
    return hits


def replay(w: Crawl, tr) -> CrawlOutput:
    from pyspark.sql import functions as F

    from warchaeology_spark.frontier.checkpoint import SnapshotStore
    from warchaeology_spark.frontier.links import extract_outlinks
    from warchaeology_spark.frontier.politeness import politeness_topk, robots_gate
    from warchaeology_spark.frontier.scheduler import PENDING_COLS
    from warchaeology_spark.frontier.seen import SeenState
    from warchaeology_spark.functions.urls import canonical_parts, surt_key
    from warchaeology_spark.plans.ranks import global_sequence

    spark = w.spark
    root = os.path.join(w.workdir, "store-traced")
    shutil.rmtree(root, ignore_errors=True)
    cfg = w.config(ROUNDS, root)
    store = SnapshotStore(spark, root)
    c = {k: 0 for k in (
        "docs_scanned", "links_out", "url_rows", "cands_in", "winners_out",
        "novel_rows_in", "bloom_hits", "rescued", "broadcast_bytes",
        "bytes_written", "files_written",
    )}

    def new_state():
        return SeenState(
            spark,
            num_partitions=cfg.num_partitions,
            expected_total=cfg.expected_total,
            use_bloom=cfg.use_bloom,
            broadcast_bloom=cfg.broadcast_bloom,
        )

    def gate(df):
        with tr.span("frontier.politeness.robots"):
            return robots_gate(df, w.robots).localCheckpoint(eager=True)

    t_fresh = time.monotonic()
    ss = new_state()
    # seeds: canonicalize, first-wins per surt by seed_rank, robots gate
    with tr.span("functions.urls"):
        cp = canonical_parts("url")
        canon = (
            w.seeds[N_SEEDS].select("seed_rank", cp["url_canon"].alias("url_canon"),
                           cp["surt"].alias("surt"), cp["host"].alias("host"))
            .filter(F.col("url_canon").isNotNull())
            .withColumn("url_hash", F.xxhash64("surt"))
            .localCheckpoint(eager=True)
        )
    c["url_rows"] += _count(tr, w.seeds[N_SEEDS])
    with tr.span("frontier.scheduler.dedup"):
        firsts = canon.groupBy("surt").agg(
            F.min_by(F.struct("url_canon", "url_hash", "host", "seed_rank"),
                     F.col("seed_rank")).alias("w")
        ).select(
            "surt", F.col("w.url_canon").alias("url_canon"),
            F.col("w.url_hash").alias("url_hash"), F.col("w.host").alias("host"),
            F.lit(0).alias("depth"), F.lit(None).cast("string").alias("src_doc_id"),
        ).localCheckpoint(eager=True)
    gated = gate(firsts)
    with tr.span("trace.counts"):
        s0 = gated.agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.col("robots_denied").cast("long")).alias("d")).collect()[0]
    with tr.span("frontier.seen.add"):
        ss.add(gated, n_rows=s0["n"])
    seen_deltas = [gated.select("url_hash", "surt", "url_canon")]
    fetch_logs = []
    with tr.span("frontier.scheduler.state"):
        pending = gated.filter(~F.col("robots_denied")).select(*PENDING_COLS).localCheckpoint(eager=True)
    n_pending = s0["n"] - int(s0["d"] or 0)
    metrics: list[dict] = []
    n_docs = _count(tr, w.docs)
    restore_s = resume_start = 0.0

    for r in range(ROUNDS):
        if r == KILL_AFTER:
            # the kill: drop every in-memory object, resume from the store
            fresh_s = time.monotonic() - t_fresh
            del ss, pending
            resume_start = time.monotonic()
            with tr.span("frontier.checkpoint.restore") as sp:
                m = store.meta()
                pending = store.load("pending")
                ss = new_state()
                ss_meta = m.get("seen_state", {})
                if not ss_meta.get("broadcast_bloom", ss.broadcast_bloom):
                    ss.broadcast_bloom = False
                committed = ss_meta.get("seen_rows_approx")
                if committed is not None:
                    ss.seen_rows_approx = int(committed)
                ss.restore(store.load("seen"), store.load("bloom"),
                           assume_large=committed is None)
                metrics = list(m["metrics"])
            restore_s = sp.duration
            n_pending = _count(tr, pending)

        with tr.span("frontier.politeness.topk"):
            scheduled = politeness_topk(
                pending, w.politeness, cfg.default_budget, cfg.n_salts
            ).localCheckpoint(eager=True)
        n_sched = _count(tr, scheduled)
        fetch_logs.append(scheduled.select(
            F.lit(r).alias("round"), "url_canon", "surt", "url_hash", "host",
            "depth", "src_doc_id",
        ))
        pending_next = pending.join(scheduled.select("surt"), "surt", "left_anti")

        with tr.span("frontier.links"):
            fetched = w.docs.join(
                F.broadcast(scheduled.select(F.col("url_canon").alias("url"))), "url"
            )
            links = extract_outlinks(fetched.select("doc_id", "url", "spans")).join(
                F.broadcast(scheduled.select(F.col("url_canon").alias("src_url"),
                                             F.col("depth").alias("src_depth"))),
                "src_url",
            ).localCheckpoint(eager=True)
        c["docs_scanned"] += n_docs
        n_links = _count(tr, links)
        c["links_out"] += n_links
        with tr.span("functions.urls"):
            cands = links.withColumn("surt", surt_key(F.col("raw_url"))).filter(
                F.col("surt").isNotNull()
            ).localCheckpoint(eager=True)
        c["url_rows"] += n_links
        c["cands_in"] += _count(tr, cands)
        with tr.span("frontier.scheduler.dedup"):
            winners = cands.groupBy("surt").agg(
                F.min_by(
                    F.struct("raw_url", "src_depth", "src_doc_id"),
                    F.struct("src_depth", "src_url", "span_offset", "link_idx"),
                ).alias("w")
            ).localCheckpoint(eager=True)
        n_win = _count(tr, winners)
        c["winners_out"] += n_win
        with tr.span("functions.urls"):
            wcp = canonical_parts(F.col("w.raw_url"))
            discovered = winners.select(
                "surt",
                wcp["url_canon"].alias("url_canon"),
                F.xxhash64("surt").alias("url_hash"),
                wcp["host"].alias("host"),
                (F.col("w.src_depth") + 1).alias("depth"),
                F.col("w.src_doc_id").alias("src_doc_id"),
            ).localCheckpoint(eager=True)
        c["url_rows"] += n_win
        with tr.span("frontier.seen.novel"):
            novel = ss.novel(discovered).localCheckpoint(eager=True)
        c["broadcast_bytes"] += ss.last_broadcast_bytes
        ss.last_broadcast_bytes = 0
        with tr.span("trace.counts"):
            nh = novel.select("url_hash").toPandas()["url_hash"].to_numpy()
        fp = _bloom_fp(ss, nh)
        c["novel_rows_in"] += n_win
        c["rescued"] += fp
        c["bloom_hits"] += (n_win - len(nh)) + fp
        gated = gate(novel)
        with tr.span("trace.counts"):
            st = gated.agg(F.count(F.lit(1)).alias("n"),
                           F.sum(F.col("robots_denied").cast("long")).alias("d")).collect()[0]
        n_novel, n_denied = st["n"], int(st["d"] or 0)
        with tr.span("frontier.seen.add"):
            ss.add(gated, n_rows=n_novel)
        seen_deltas.append(gated.select("url_hash", "surt", "url_canon"))
        allowed = gated.filter(~F.col("robots_denied")).select(*PENDING_COLS)
        with tr.span("frontier.scheduler.state"):
            pending = pending_next.unionByName(allowed).localCheckpoint(eager=True)
            ss.seen = ss.seen.localCheckpoint(eager=True)
        n_pending = n_pending - n_sched + (n_novel - n_denied)
        metrics.append({"round": r, "scheduled": n_sched, "novel": n_novel,
                        "robots_denied": n_denied, "pending_after": n_pending})

        # commit, as run_crawl's _commit_snapshot does every round
        before = _dir_bytes(root)
        with tr.span("frontier.checkpoint.commit"):
            sd = seen_deltas[0]
            for extra in seen_deltas[1:]:
                sd = sd.unionByName(extra)
            fl = fetch_logs[0]
            for extra in fetch_logs[1:]:
                fl = fl.unionByName(extra)
            store.commit(
                {"pending": pending, "bloom": ss.bloom},
                {"next_round": r + 1, "metrics": metrics, "partition_metrics": [],
                 "seen_state": {"broadcast_bloom": ss.broadcast_bloom,
                                "jvm_bloom": ss.jvm_bloom,
                                "seen_rows_approx": ss.seen_rows_approx}},
                append={"seen": sd, "fetch_log": fl},
            )
            seen_deltas, fetch_logs = [], []
            pending = store.load("pending")
            ss.restore(store.load("seen"), store.load("bloom") if ss.is_sharded else None,
                       assume_large=False, check_format=False)
        after = _dir_bytes(root)
        c["bytes_written"] += after[0] - before[0]
        c["files_written"] += after[1] - before[1]

    with tr.span("plans.ranks.global_sequence"):
        fl = global_sequence(store.load("fetch_log"), ["round", "depth", "url_canon"], "seq")
        out = Crawl._collect(fl, ss.seen, metrics)
    out.fresh_s = fresh_s
    out.resume_s = time.monotonic() - resume_start
    out.store_bytes = _dir_bytes(root)[0]
    out.layers = dict(c, restore_s=restore_s)
    shutil.rmtree(root, ignore_errors=True)
    return out
