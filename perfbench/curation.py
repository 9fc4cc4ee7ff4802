"""``llm_curation``: curate documents, build an ANN index, then probe it.

One pass:

1. text: ``operators.text`` stats and repetition signals over the
   documents, forced as a per-rule quality summary;
2. dedup: quality-kept documents through ``operators.dedup`` exact and
   MinHash-LSH dedup, forced to the surviving ids;
3. build: ``operators.similarity.build_ivfpq_index`` over the embeddings,
   codebook training included;
4. ``PROBES`` seeded probe calls of ``ivfpq_topk_against_index``.

Only the probes are operations (latency, ops/s); the pass wall covers all
four steps.  Probe results are checked against exact L2 distances, and
their recall against exact ``similarity.cosine_topk`` over the same
queries, outside the timed region.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa

from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
    dedup,
    similarity,
    text,
)

import gen
from common import Op, Workload

PROBES = 4
QUERIES_PER_PROBE = 8
K = 10
QUALITY = "quality_score >= 0.55 AND distinct_token_ratio >= 0.2"


class LLMCuration(Workload):
    min_passes = 1

    def __init__(self, spark, tracer, seed: int, scale: float):
        super().__init__()
        self.spark, self.tracer = spark, tracer
        self.seed = seed
        self.tables = gen.star_schema(seed, scale, ["documents", "embeddings"])
        emb = self.tables["embeddings"]
        self.vectors = np.asarray(emb["embedding"].combine_chunks().flatten(),
                                  np.float32).reshape(emb.num_rows, gen.EMB_DIM)
        self._probes: list[tuple[pa.Table, pa.Table]] = []

    def prepare(self, root: str) -> None:
        self.root = root
        self.data = os.path.join(root, "input")
        gen.write_tables(self.tables, self.data)
        self.passes = 0

    def warm(self) -> None:
        for op in self.ops(0):
            op.run()

    # -- one pass -----------------------------------------------------------

    def ops(self, pass_no: int) -> list[Op]:
        self.passes += 1
        index = os.path.join(self.root, f"index{self.passes}")
        rng = np.random.default_rng([self.seed, 13, pass_no])
        ops = [
            Op("text", self._text, lambda out: out.num_rows == 1, counted=False),
            Op("dedup", self._dedup, self._check_dedup, counted=False),
            Op("build", lambda: self._build(index),
               lambda out: os.path.exists(os.path.join(out, "meta.json")), counted=False),
        ]
        for i in range(PROBES):
            q = self._queries(rng, pass_no * 1000 + i)
            qdf = self.spark.createDataFrame(q)
            ops.append(Op(f"probe{i}", lambda qdf=qdf: self._probe(qdf, index),
                          lambda out, q=q: self._check_probe(q, out)))
        return ops

    def _docs(self):
        return self.spark.read.parquet(os.path.join(self.data, "documents.parquet"))

    def _kept(self):
        return text.repetition_stats(text.text_stats(self._docs())).filter(QUALITY)

    def _text(self) -> pa.Table:
        stats = text.repetition_stats(text.text_stats(self._docs()))
        with self.tracer.span("operators.text.quality"):
            return stats.agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum(F.expr(f"CAST({QUALITY} AS INT)")).alias("kept"),
                F.avg("quality_score").alias("avg_quality"),
            ).toArrow()

    def _dedup(self) -> pa.Table:
        exact = dedup.exact_dedup(self._kept().select("doc_id", "text"))
        pairs = dedup.minhash_dedup_pairs(exact, threshold=0.8)
        with self.tracer.span("operators.dedup.survivors"):
            return dedup.dedup_keep_representatives(exact, pairs).select("doc_id").toArrow()

    def _check_dedup(self, out: pa.Table) -> bool:
        """Survivors are a subset of ``dedup.exact_dedup`` over the kept
        documents, which keeps exactly the lowest id per normalized text."""
        kept = self._kept().select("doc_id", "text").toArrow()
        engine_exact = set(dedup.exact_dedup(self.spark.createDataFrame(kept))
                           .select("doc_id").toArrow()["doc_id"].to_pylist())
        first: dict[str, int] = {}
        for doc_id, txt in zip(kept["doc_id"].to_pylist(), kept["text"].to_pylist()):
            norm = re.sub(r"\s+", " ", txt.lower())
            first[norm] = min(doc_id, first.get(norm, doc_id))
        survivors = set(out["doc_id"].to_pylist())
        return (engine_exact == set(first.values()) and survivors <= engine_exact
                and len(survivors) == out.num_rows and len(survivors) > 0)

    def _build(self, path: str) -> str:
        emb = self.spark.read.parquet(os.path.join(self.data, "embeddings.parquet"))
        return similarity.build_ivfpq_index(emb, path)

    def _queries(self, rng: np.random.Generator, base: int) -> pa.Table:
        """Corpus vectors plus noise, renormalized; ids outside the corpus."""
        pick = self.vectors[rng.integers(0, len(self.vectors), QUERIES_PER_PROBE)]
        q = pick + rng.normal(0, 0.05, pick.shape)
        q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
        ids = 10_000_000 + base * QUERIES_PER_PROBE + np.arange(QUERIES_PER_PROBE)
        flat = pa.array(q.ravel(), pa.float32())
        offsets = pa.array(np.arange(0, q.size + 1, gen.EMB_DIM), pa.int32())
        return pa.table({"query_id": pa.array(ids, pa.int64()),
                         "embedding": pa.ListArray.from_arrays(offsets, flat)})

    def _probe(self, qdf, index: str) -> pa.Table:
        with self.tracer.span("operators.similarity.probe"):
            return similarity.ivfpq_topk_against_index(
                qdf, index, k=K, nprobe=12, shortlist=100).toArrow()

    def _check_probe(self, q: pa.Table, out: pa.Table) -> bool:
        """K distinct corpus ids per query, ranked 1..K by their exact
        squared L2 distance, which the output reports to 1e-9."""
        qv = {qid: np.asarray(v, np.float64) for qid, v in
              zip(q["query_id"].to_pylist(), q["embedding"].to_pylist())}
        rows: dict[int, list[tuple[int, int, float]]] = {}
        for qid, vid, dist, rank in zip(*(out[c].to_pylist() for c in
                                          ("query_id", "vec_id", "l2_dist", "rank"))):
            rows.setdefault(qid, []).append((rank, vid, dist))
        if set(rows) != set(qv):
            return False
        for qid, hits in rows.items():
            hits.sort()
            ids = [v for _, v, _ in hits]
            if [r for r, _, _ in hits] != list(range(1, K + 1)) or len(set(ids)) != K:
                return False
            if not all(0 <= v < len(self.vectors) for v in ids):
                return False
            exact = ((self.vectors[ids].astype(np.float64) - qv[qid]) ** 2).sum(axis=1)
            got = np.array([d for _, _, d in hits])
            if not np.allclose(got, exact, rtol=1e-9, atol=1e-12) or np.any(np.diff(got) < 0):
                return False
        self._probes.append((q, out))
        return True

    def after_pass(self) -> None:
        """Recall@K of the pass's probes against exact cosine top-K."""
        if not self._probes:
            return
        queries = pa.concat_tables([q for q, _ in self._probes])
        emb = self.spark.read.parquet(os.path.join(self.data, "embeddings.parquet"))
        exact = similarity.cosine_topk(
            emb, self.spark.createDataFrame(queries), k=K).toArrow()
        truth: dict[int, set[int]] = {}
        for qid, vid in zip(exact["query_id"].to_pylist(), exact["vec_id"].to_pylist()):
            truth.setdefault(qid, set()).add(vid)
        for _, out in self._probes:
            got: dict[int, set[int]] = {}
            for qid, vid in zip(out["query_id"].to_pylist(), out["vec_id"].to_pylist()):
                got.setdefault(qid, set()).add(vid)
            self.recalls += [len(got[q] & truth[q]) / K for q in got]
        self._probes.clear()
