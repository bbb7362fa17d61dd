"""``crawl`` workload: the user's job. Three rounds over the ``bench``
fixture tier with a commit every round, a kill after round 1 and a resume.

One operation is a fresh ``run_crawl`` of rounds 0-1 on an empty snapshot
store, then, with every in-memory frontier object dropped, a
``run_crawl(resume=True)`` that restores the round-1 snapshot and runs
round 2 through its commit. Its output (crawl order and seen set) is
checked against ``frontier.oracle.simulate_crawl``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from sparkbench import harness

TIER = "bench"  # 50k documents over 1k hosts
N_SEEDS = 3_000  # drawn by the workload seed
# the warm-up crawl starts from the first WARM_SEEDS of them: the same
# plans on smaller rounds
WARM_SEEDS = 200
BUDGET_SCALE = 50  # politeness budgets x50: the scheduler is compute-bound
ROUNDS = 3
KILL_AFTER = 2  # rounds 0..KILL_AFTER-1 run fresh, the rest after a resume


@dataclass
class CrawlOutput:
    fetch: list[tuple]  # (round, seq, url_canon, url_hash, depth, src_doc_id)
    seen: list[tuple]  # sorted (surt, url_hash, url_canon)
    metrics: list[dict]
    n_seeds: int = N_SEEDS
    fresh_s: float = 0.0
    resume_s: float = 0.0
    store_bytes: int = 0
    layers: dict = field(default_factory=dict)

    @property
    def items(self) -> int:
        return len(self.fetch)

    @property
    def op_s(self) -> float:
        """Timed part: the two run_crawl calls."""
        return self.fresh_s + self.resume_s


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
        h.update(b"\n")
    return h.hexdigest()


def _dir_bytes(root: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class Crawl:
    name = "crawl"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.keep: set[int] = set()
        self._truth: dict[int, dict] = {}
        self._ops = 0

    # -- inputs -------------------------------------------------------------
    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from warchaeology_spark.fixtures import (
            TIERS,
            gen_documents_spans,
            gen_politeness,
            gen_robots,
        )

        spark = self.spark
        tier = TIERS[TIER]
        # the document table does not depend on the seed: generated once per
        # checkout and fixture version, then read like any input table
        key = harness.file_digest("warchaeology_spark/fixtures/generate.py", TIER)
        docs_path = os.path.join(harness.WORK, "inputs", f"documents-{TIER}-{key}")
        if not os.path.exists(docs_path):
            tmp = f"{docs_path}.tmp-{os.getpid()}"
            gen_documents_spans(spark, TIER).write.mode("overwrite").parquet(tmp)
            os.replace(tmp, docs_path)
        self.docs = spark.read.parquet(docs_path)
        rng = np.random.default_rng(self.seed)
        picks = rng.choice(tier.n_docs, N_SEEDS, replace=False)
        ids = [f"doc-{i:06d}" for i in picks]
        url_of = {
            r["doc_id"]: r["url"]
            for r in self.docs.filter(F.col("doc_id").isin(ids)).select("doc_id", "url").collect()
        }
        seeds = []
        for rank, doc_id in enumerate(ids):
            url = url_of[doc_id]
            # the same non-canonical spellings the fixture's own seeds use
            if rank % 3 == 0:
                url = url[:8].upper() + url[8:]
            elif rank % 3 == 1:
                url = url + "#top"
            seeds.append((url, rank))
        self.seed_rows = {
            n: [{"url": u, "seed_rank": r} for u, r in seeds[:n]] for n in (N_SEEDS, WARM_SEEDS)
        }
        self.seeds = {
            n: spark.createDataFrame(seeds[:n], "url string, seed_rank int").localCheckpoint(eager=True)
            for n in (N_SEEDS, WARM_SEEDS)
        }
        self.robots = gen_robots(spark, TIER).localCheckpoint(eager=True)
        self.politeness = (
            gen_politeness(spark, TIER)
            .withColumn("max_per_round", F.col("max_per_round") * BUDGET_SCALE)
            .localCheckpoint(eager=True)
        )
        self.robot_rows = [r.asDict() for r in self.robots.collect()]
        self.politeness_rows = [r.asDict() for r in self.politeness.collect()]

    def config(self, max_rounds: int, store: str, resume: bool = False):
        from warchaeology_spark.frontier.scheduler import CrawlConfig

        return CrawlConfig(
            max_rounds=max_rounds,
            default_budget=2 * BUDGET_SCALE,
            store_root=store,
            resume=resume,
        )

    def _store(self) -> str:
        self._ops += 1
        path = os.path.join(self.workdir, f"store-{self._ops}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    # -- one operation ------------------------------------------------------
    def op(self, warm: bool = False) -> CrawlOutput:
        from warchaeology_spark.frontier.scheduler import run_crawl

        spark = self.spark
        store = self._store()
        n_seeds = WARM_SEEDS if warm else N_SEEDS
        args = (spark, self.docs, self.seeds[n_seeds], self.robots, self.politeness)
        t0 = time.monotonic()
        killed = run_crawl(*args, self.config(KILL_AFTER, store))
        fresh_s = time.monotonic() - t0
        # the kill: nothing of the fresh crawl survives but its snapshots
        del killed
        harness.free_rdds(spark, self.keep)
        t1 = time.monotonic()
        res = run_crawl(*args, self.config(ROUNDS, store, resume=True))
        resume_s = time.monotonic() - t1
        out = self._collect(res.fetch_log, res.seen, res.metrics)
        out.n_seeds, out.fresh_s, out.resume_s = n_seeds, fresh_s, resume_s
        out.store_bytes = _dir_bytes(store)[0]
        shutil.rmtree(store, ignore_errors=True)
        return out

    @staticmethod
    def _collect(fetch_log, seen, metrics) -> CrawlOutput:
        fetch = [
            (r["round"], r["seq"], r["url_canon"], r["url_hash"], r["depth"], r["src_doc_id"])
            for r in fetch_log.select(
                "round", "seq", "url_canon", "url_hash", "depth", "src_doc_id"
            ).orderBy("seq").collect()
        ]
        seen_rows = sorted(
            (r["surt"], r["url_hash"], r["url_canon"])
            for r in seen.select("surt", "url_hash", "url_canon").collect()
        )
        return CrawlOutput(fetch, seen_rows, [dict(m) for m in metrics])

    # -- output check -------------------------------------------------------
    def _cache_path(self, n_seeds: int) -> str:
        key = harness.file_digest(
            "warchaeology_spark/fixtures/generate.py",
            "warchaeology_spark/frontier/oracle.py",
            "warchaeology_spark/frontier/links.py",
            "warchaeology_spark/functions/urls.py",
            f"seed={self.seed} tier={TIER} seeds={n_seeds} scale={BUDGET_SCALE} rounds={ROUNDS}",
        )
        return os.path.join(harness.WORK, "oracle", f"crawl-{key}.json")

    def _oracle(self, out: CrawlOutput) -> dict:
        """Run the sequential oracle. It reads only the documents of URLs it
        fetches, so it is given the documents of the URLs this output
        fetched: if the two crawl orders agree, those are exactly the
        documents the oracle needed, and the verdict is the same as with
        the whole table."""
        from pyspark.sql import functions as F

        from warchaeology_spark.frontier.oracle import simulate_crawl

        fetched = self.spark.createDataFrame([(f[2],) for f in out.fetch], "url string")
        docs = [
            r.asDict(recursive=True)
            for r in self.docs.join(F.broadcast(fetched), "url").collect()
        ]
        o = simulate_crawl(
            docs, self.seed_rows[out.n_seeds], self.robot_rows, self.politeness_rows,
            max_rounds=ROUNDS, default_budget=2 * BUDGET_SCALE,
        )
        fetch = [
            (e["round"], e["seq"], e["url_canon"], e["url_hash"], e["depth"], e["src_doc_id"])
            for e in o.fetch_log
        ]
        seen = sorted((s, h, c) for s, (h, c) in o.seen.items())
        return {"fetch": _digest(fetch), "seen": _digest(seen), "metrics": o.metrics}

    @staticmethod
    def _matches(out: CrawlOutput, truth: dict) -> bool:
        return (
            _digest(out.fetch) == truth["fetch"]
            and _digest(out.seen) == truth["seen"]
            and out.metrics == truth["metrics"]
        )

    def check(self, out: CrawlOutput) -> bool:
        path = self._cache_path(out.n_seeds)
        if out.n_seeds not in self._truth and os.path.exists(path):
            with open(path) as f:
                self._truth[out.n_seeds] = json.load(f)
        if out.n_seeds not in self._truth:
            truth = self._oracle(out)
            if not self._matches(out, truth):
                return False
            # cached only once verified (see _oracle)
            self._truth[out.n_seeds] = truth
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as f:
                json.dump(truth, f)
            os.replace(path + ".tmp", path)
        return self._matches(out, self._truth[out.n_seeds])

    # -- traced replay ------------------------------------------------------
    def traced_op(self, tr) -> CrawlOutput:
        from sparkbench.crawl_replay import replay

        return replay(self, tr)
