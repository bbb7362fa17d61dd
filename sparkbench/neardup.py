"""``neardup`` workload: one pass of the seven near-duplicate registry
queries that have a DuckDB oracle, over a seeded resample of
``documents`` and ``embeddings`` tables with the sf0.1 schema.

Each operation copies the inputs into a fresh directory: the registry's
shared pair-stage cache keys on (application id, input directory), so a
reused directory would time cache hits. Outputs are checked against
``queries.oracle_sql()`` run in DuckDB on the operation's own input files.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from sparkbench import harness

QUERIES = (
    "minhash_lsh_pairs",
    "dedup_clusters",
    "simhash_signatures",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_fast",
    "embedding_cosine_topk",
    "embedding_neardup_pairs",
)
N_DOCS = 600
N_VECS = 2_000
# the warm-up pass runs the same queries over smaller tables
WARM_DOCS = 200
WARM_VECS = 200
DIM = 64
# The sf0.1 documents draw 8-100 words from 31 words, so unrelated texts
# share LSH bands and chain into components whose diameter, and so the
# number of connected-components rounds (about 1.5 s each), changes with
# the corpus. Here the same 31 words plus 69 more keep chance collisions
# rare and near duplicates are perturbed copies of original documents
# (clusters are stars); the base corpus is fixed and the workload seed
# resamples it (see make_inputs).
VOCAB = (
    "a the spark window merge table column vector stream value data small big "
    "fast slow key row part line sort hash scan filter group agg join order "
    "query batch customer"
).split() + [f"w{i}" for i in range(69)]
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
NEAR_COPY = 0.15  # share of documents that are perturbed copies of originals
SWAP = 0.08  # share of a copy's words replaced


@dataclass
class NeardupOutput:
    rows: dict[str, list[tuple]]  # query -> normalized sorted rows
    op_s: float  # the pass, without the output check
    layers: dict = field(default_factory=dict)
    items: int = N_DOCS


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    return "" if v is None else str(v)


def normalize(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive form: columns sorted by name, cells as text."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def make_corpus(n_docs: int, n_vecs: int, corpus_seed: int = 0):
    """The fixed base tables the workload seed resamples."""
    import pyarrow as pa

    rng = np.random.default_rng(corpus_seed)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < NEAR_COPY:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            swap = rng.random(len(words)) < SWAP
            repl = rng.integers(0, len(VOCAB), len(words))
            texts.append(" ".join(VOCAB[r] if s else w for w, s, r in zip(words, swap, repl)))
        else:
            originals.append(i)
            n = int(rng.integers(8, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    docs = pa.table({
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = (rng.standard_normal((n_vecs, DIM)) * 0.1).astype(np.float32)
    emb = pa.table({
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return docs, emb


def make_inputs(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> None:
    """A seeded resample of the base tables of the same size: rows in a
    seeded order under seeded ids. Every seed runs the same near-dup
    structure, so the work per operation does not change with the seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs, emb = make_corpus(n_docs, n_vecs)
    rng = np.random.default_rng(seed)
    for name, t in (("documents", docs), ("embeddings", emb)):
        order = rng.permutation(t.num_rows)
        ids = rng.permutation(t.num_rows)
        id_col = "doc_id" if name == "documents" else "vec_id"
        t = t.take(pa.array(order)).add_column(0, id_col, pa.array(ids, pa.int64()))
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def input_digest(d: str) -> str:
    h = hashlib.sha256()
    for t in ("documents", "embeddings"):
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:24]


class Neardup:
    name = "neardup"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.keep: set[int] = set()
        self._ops = 0
        self._truth: dict[str, dict[str, list[tuple]]] = {}

    def prepare(self) -> None:
        self.base = {
            False: os.path.join(self.workdir, "inputs", "base"),
            True: os.path.join(self.workdir, "inputs", "warm"),
        }
        make_inputs(self.seed, self.base[False], N_DOCS, N_VECS)
        make_inputs(self.seed, self.base[True], WARM_DOCS, WARM_VECS)

    def _fresh_dir(self, warm: bool = False) -> str:
        self._ops += 1
        d = os.path.join(self.workdir, f"op-{self._ops}")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.base[warm], d)
        return d

    def op(self, warm: bool = False) -> NeardupOutput:
        from warchaeology_spark.queries import queries

        qs = queries()
        d = self._fresh_dir(warm)
        rows, query_s = {}, {}
        t0 = time.monotonic()
        for q in QUERIES:
            tq = time.monotonic()
            df = qs[q](self.spark, d)
            rows[q] = (df.columns, df.collect())
            query_s[q] = time.monotonic() - tq
        op_s = time.monotonic() - t0
        self.last_dir = d
        return NeardupOutput(
            {q: normalize(c, r) for q, (c, r) in rows.items()},
            op_s,
            {"query_s": query_s},
            WARM_DOCS if warm else N_DOCS,
        )

    def done(self) -> None:
        """Drop the last operation's input copy (after its check)."""
        shutil.rmtree(self.last_dir, ignore_errors=True)

    # -- output check -------------------------------------------------------
    def _oracle(self, d: str) -> dict[str, list[tuple]]:
        key = input_digest(d)
        if key in self._truth:
            return self._truth[key]
        code = harness.file_digest("warchaeology_spark/queries.py", ",".join(QUERIES))
        path = os.path.join(harness.WORK, "oracle", f"neardup-{key}-{code}.json")
        if os.path.exists(path):
            with open(path) as f:
                truth = {q: [tuple(r) for r in v] for q, v in json.load(f).items()}
        else:
            import duckdb

            from warchaeology_spark.queries import oracle_sql

            sqls = oracle_sql()
            con = duckdb.connect()
            try:
                for t in ("documents", "embeddings"):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
                by_sql: dict[str, list[tuple]] = {}
                truth = {}
                for q in QUERIES:
                    if sqls[q] not in by_sql:  # the two n-gram entries share one SQL
                        rel = con.sql(sqls[q])
                        by_sql[sqls[q]] = normalize([c[0] for c in rel.description], rel.fetchall())
                    truth[q] = by_sql[sqls[q]]
            finally:
                con.close()
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as f:
                json.dump(truth, f)
            os.replace(path + ".tmp", path)
        self._truth[key] = truth
        return truth

    def check(self, out: NeardupOutput) -> bool:
        truth = self._oracle(self.last_dir)
        return all(out.rows[q] == truth[q] for q in QUERIES)

    # -- traced replay ------------------------------------------------------
    def traced_op(self, tr) -> NeardupOutput:
        """The registry bodies of the seven queries, called layer by layer
        from ``operators.textdedup`` and ``operators.similarity``."""
        from pyspark.sql import functions as F

        from warchaeology_spark.operators.similarity import (
            block_neardup_candidates,
            cosine_topk,
        )
        from warchaeology_spark.operators.textdedup import (
            band_star_edges,
            dedup_clusters,
            minhash_lsh_pairs,
            minhash_signatures,
            ngram_doc_index,
            ngram_jaccard_dense,
            ngram_jaccard_neardups,
            simhash_signatures,
        )

        spark = self.spark
        d = self._fresh_dir()
        docs = spark.read.parquet(f"{d}/documents.parquet")
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        rows: dict[str, list[tuple]] = {}

        def take(q, df):
            rows[q] = normalize(df.columns, df.collect())

        t0 = time.monotonic()
        with tr.span("operators.textdedup.minhash"):
            sigs = minhash_signatures(docs)
        with tr.span("operators.textdedup.lsh_pairs"):
            take("minhash_lsh_pairs", minhash_lsh_pairs(docs, sigs=sigs))
        with tr.span("operators.textdedup.cc"):
            take("dedup_clusters", dedup_clusters(band_star_edges(sigs)))
        with tr.span("operators.textdedup.simhash"):
            take("simhash_signatures", simhash_signatures(docs))
        with tr.span("operators.textdedup.ngram"):
            grouped, n_vocab = ngram_doc_index(docs)
            dense = n_vocab <= 16384  # the registry's default dense-vocabulary cap
            for q, portable in (("ngram_jaccard_pairs", True), ("ngram_jaccard_pairs_fast", False)):
                if dense:
                    take(q, ngram_jaccard_dense(grouped, n_vocab, threshold=0.6))
                else:
                    take(q, ngram_jaccard_neardups(docs, threshold=0.6, portable=portable))
        with tr.span("operators.similarity.topk"):
            qv = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
            take("embedding_cosine_topk",
                 cosine_topk(emb, qv, k=5).withColumn("rank", F.col("rank").cast("long")))
        with tr.span("operators.similarity.neardup"):
            cand = block_neardup_candidates(emb, 0.2)
            take("embedding_neardup_pairs",
                 cand.withColumn("cos_sim", F.round(F.col("cos_raw"), 4))
                 .filter(F.col("cos_sim") >= 0.2).select("id_a", "id_b", "cos_sim"))
        self.last_dir = d
        return NeardupOutput(rows, time.monotonic() - t0,
                             {"ngram_kernel_path": float(dense)})
