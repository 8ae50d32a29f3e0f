"""The workloads: inputs made from a seed, one timed operation each.

Every workload is a closed loop with one client: the next operation
starts when the previous one has returned. The constructor builds the
inputs and warms up; ``op`` runs one timed operation and returns its
figures and its correctness checks. Input generation and the checks
run outside the timed region, which ``op`` runs inside ``region()``
(a span, in a traced run). README.md gives each workload's reason.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd

# Sizes. A run is a whole process (JVM start, setup, measurement) and
# most of it is fixed cost, so the operations are small; README.md
# ("Time budget and sizes") has the arithmetic.
DENSE_ENTITIES = 2000
FLAGSHIP_DOCS = 600
INC_BASE_ENTITIES = 1000
INC_DELTA_DOCS = 700

F1_FLOOR = 0.99

# the vocabulary of the registry's `documents` test table (sf0.*)
SALAD_VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the dup"
).split()


def pairwise_f1(pred: pd.Series, truth: pd.Series) -> float:
    """Pairwise F1 of a clustering over every pair of docs.

    ``pred`` and ``truth`` map doc_id -> cluster id over the same docs."""
    df = pd.DataFrame({"p": pred, "t": truth.reindex(pred.index)})

    def pairs(sizes: pd.Series) -> float:
        return float((sizes * (sizes - 1) // 2).sum())

    tp = pairs(df.groupby(["p", "t"]).size())
    pred_pairs = pairs(df.groupby("p").size())
    true_pairs = pairs(df.groupby("t").size())
    if tp == 0:
        return 0.0
    precision, recall = tp / pred_pairs, tp / true_pairs
    return 2 * precision * recall / (precision + recall)


def _clusters(catalog, spark) -> pd.Series:
    pdf = catalog.read(spark, "clusters").select("doc_id", "cluster_id").toPandas()
    return pdf.set_index("doc_id")["cluster_id"]


class BatchDense:
    """SynthConfig corpus through ``Pipeline.run()`` with default configs.

    Normalize, block_keys and block dominate, with catalog commits
    between them. The cheap score bound cannot cut here and the inline
    sketch is off, so this is the bypass side for cascade work."""

    name = "batch_dense"
    # Pipeline.run reports its committed pairs and edges
    counted: dict[str, str] = {}

    def __init__(self, spark, work: str, seed: int):
        from chameleon_entity_linking_spark.plans.pipeline import Pipeline
        from chameleon_entity_linking_spark.sources.synth import SynthConfig

        self.spark, self.work = spark, work
        self.cfg = SynthConfig(n_entities=DENSE_ENTITIES, seed=seed)
        self.template = os.path.join(work, "dense_inputs")
        pipe = Pipeline(spark, self.template, self.cfg)
        pipe.ingest()
        self.truth = (
            pipe.catalog.read(spark, "expected_clusters")
            .toPandas()
            .set_index("doc_id")["cluster_id"]
        )
        self.n_docs = len(self.truth)
        self.counts: set[tuple[int, int]] = set()
        self.n_ops = 0
        self.warmup_s = self.op(timed=False)["resolve_s"]

    def op(self, timed: bool = True, region=nullcontext) -> dict:
        from chameleon_entity_linking_spark.plans.pipeline import Pipeline

        # a fresh warehouse per operation, else every stage resume-skips;
        # the last one stays until the next operation (a traced run
        # still counts its tables after the operation returns)
        previous = os.path.join(self.work, f"dense_op{self.n_ops - 1}")
        shutil.rmtree(previous, ignore_errors=True)
        warehouse = os.path.join(self.work, f"dense_op{self.n_ops}")
        self.n_ops += 1
        shutil.copytree(self.template, warehouse)
        pipe = Pipeline(self.spark, warehouse, self.cfg)
        with region():
            t0 = time.perf_counter()
            res = pipe.run(evaluate=False)
            dt = time.perf_counter() - t0
        f1 = pairwise_f1(_clusters(pipe.catalog, self.spark), self.truth)
        if timed:
            self.counts.add((res["n_pairs"], res["n_edges"]))
        checks = {
            "f1": f1 >= F1_FLOOR,
            "all_docs_clustered": res["n_clusters_rows"] == self.n_docs,
            "same_pairs_and_edges_every_op": len(self.counts) <= 1,
        }
        return {
            "resolve_s": dt,
            "docs": self.n_docs,
            "f1": f1,
            "pairs": res["n_pairs"],
            "edges": res["n_edges"],
            "stage_s": res["timings"],
            "checks": checks,
        }


def salad_corpus(seed: int, n: int) -> pd.DataFrame:
    """Word-salad docs by the recipe of the registry's `documents` test table."""
    rng = np.random.default_rng(seed)
    texts = [
        " ".join(rng.choice(SALAD_VOCAB, size=int(rng.integers(10, 71))))
        for _ in range(n)
    ]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": [f"src{i % 7}" for i in range(n)],
            "n_chars": [len(t) for t in texts],
        }
    )


class BatchFlagship:
    """Word salad through the registry's ``er_pipeline_full``.

    Production config: threshold 0.905, lsh2 buckets of up to 2048
    members through the salted triangle, inline sketch. Raw pairs far
    outnumber key rows, so block expansion and the score cascade carry
    the time: the mechanism side for cascade work."""

    name = "batch_flagship"
    # the registry query commits nothing and returns only clusters
    counted = {"candidate_pairs": "pairs", "edges_above_threshold": "edges"}

    def __init__(self, spark, work: str, seed: int):
        import __spark_entry__

        self.spark = spark
        self.sf_dir = os.path.join(work, "flagship_inputs")
        os.makedirs(self.sf_dir)
        docs = salad_corpus(seed, FLAGSHIP_DOCS)
        docs.to_parquet(os.path.join(self.sf_dir, "documents.parquet"), index=False)
        self.query = __spark_entry__.queries()["er_pipeline_full"]
        # er_pipeline_f1's rule: every 4th doc has a `_dup` mention
        # (positive); its pairing with the next one's `_dup` is negative
        self.src = [str(i) for i in range(0, FLAGSHIP_DOCS, 4)]
        self.n_docs = FLAGSHIP_DOCS + len(self.src)
        self.outputs: set[int] = set()
        self.warmup_s = self.op(timed=False)["resolve_s"]

    def _f1(self, cid: dict) -> float:
        tp = sum(cid[s] == cid[s + "_dup"] for s in self.src)
        fp = sum(cid[a] == cid[b + "_dup"] for a, b in zip(self.src, self.src[1:]))
        fn = len(self.src) - tp
        return 2 * tp / (2 * tp + fp + fn)

    def op(self, timed: bool = True, region=nullcontext) -> dict:
        with region():
            t0 = time.perf_counter()
            out = self.query(self.spark, self.sf_dir)
            pdf = out.select("doc_id", "cluster_id").toPandas()
            dt = time.perf_counter() - t0
        cid = dict(zip(pdf["doc_id"], pdf["cluster_id"]))
        f1 = self._f1(cid)
        if timed:
            self.outputs.add(hash(frozenset(cid.items())))
        checks = {
            "f1": f1 >= F1_FLOOR,
            "all_docs_clustered": len(cid) == self.n_docs,
            "same_clusters_every_op": len(self.outputs) <= 1,
        }
        return {"resolve_s": dt, "docs": self.n_docs, "f1": f1, "checks": checks}


def _perturb(tokens: list[str], rng: np.random.RandomState) -> list[str]:
    """A new mention: the synth generator's drop/typo/swap noise."""
    kept = [t for t in tokens if rng.random_sample() > 0.05] or tokens[:1]
    out = []
    for t in kept:
        if t and rng.random_sample() < 0.08:
            i = rng.randint(len(t))
            t = t[:i] + "abcdefghijklmnopqrstuvwxyz"[rng.randint(26)] + t[i + 1 :]
        out.append(t)
    if len(out) > 2 and rng.random_sample() < 0.2:
        i = rng.randint(len(out) - 1)
        out[i], out[i + 1] = out[i + 1], out[i]
    return out


class IncrementalRefresh:
    """A committed base corpus, then a fixed sequence of delta batches.

    Each batch holds new mentions of committed docs under fresh ids and
    goes through ``Pipeline.incremental``. Catalog appends and
    overwrites, many small Spark jobs, and cluster merging set the
    latency; block and score see only the delta."""

    name = "incremental_refresh"
    # the delta's candidate pairs are never committed
    counted = {"incremental_candidate_pairs": "pairs"}

    def __init__(self, spark, work: str, seed: int):
        from chameleon_entity_linking_spark.plans.pipeline import Pipeline
        from chameleon_entity_linking_spark.sources.synth import SynthConfig

        self.spark = spark
        self.pipe = Pipeline(
            spark,
            os.path.join(work, "incremental"),
            SynthConfig(n_entities=INC_BASE_ENTITIES, seed=seed),
        )
        self.pipe.run(evaluate=False)
        base = self.pipe.catalog.read(spark, "documents").toPandas()
        self.base = base.sort_values("doc_id").reset_index(drop=True)
        truth = self.pipe.catalog.read(spark, "expected_clusters").toPandas()
        self.truth = truth.set_index("doc_id")["cluster_id"]
        self.seed = seed
        self.n_ops = 0
        # The base run is the warm-up. A run's time budget holds one
        # delta, so the timed operation is the first delta, whose
        # delta-only plans are compiled inside it.
        self.warmup_s = 0.0

    def _delta(self, b: int) -> pd.DataFrame:
        """Batch ``b``: new mentions of randomly drawn committed docs."""
        rng = np.random.RandomState([self.seed, b])
        picks = rng.choice(len(self.base), INC_DELTA_DOCS, replace=False)
        rows, truth = [], {}
        for i, src in enumerate(picks):
            doc = self.base.iloc[int(src)]
            doc_id = f"n{b:04d}_{i:05d}"
            spans = [
                {**s, "text": " ".join(_perturb(s["text"].split(), rng))}
                if s["kind"] == "text"
                else s
                for s in doc["spans"]
            ]
            rows.append((doc_id, spans))
            truth[doc_id] = self.truth[doc["doc_id"]]
        self.truth = pd.concat([self.truth, pd.Series(truth)])
        return pd.DataFrame(rows, columns=["doc_id", "spans"])

    def op(self, timed: bool = True, region=nullcontext) -> dict:
        from chameleon_entity_linking_spark.sources.synth import DOC_SCHEMA

        batch = self._delta(self.n_ops)
        new_docs = self.spark.createDataFrame(
            list(batch.itertuples(index=False)), schema=DOC_SCHEMA
        )
        with region():
            t0 = time.perf_counter()
            res = self.pipe.incremental(new_docs, batch_id=f"delta-{self.n_ops}")
            dt = time.perf_counter() - t0
        self.n_ops += 1
        pred = _clusters(self.pipe.catalog, self.spark)
        f1 = pairwise_f1(pred, self.truth)
        checks = {
            "f1": f1 >= F1_FLOOR,
            "every_delta_doc_clustered": bool(
                batch["doc_id"].isin(pred.dropna().index).all()
            ),
        }
        return {
            "resolve_s": dt,
            "docs": len(batch),
            "f1": f1,
            "edges": res["n_new_edges"],
            "checks": checks,
        }


WORKLOADS = {w.name: w for w in (BatchDense, BatchFlagship, IncrementalRefresh)}
