"""Recall@k evidence harness for the approximate-ANN family.

The CORRECTNESS oracles certify the ANN operators' *determinism*
(same probe, same bits in any engine); this script measures their
*retrieval quality* — recall@k against the brute-force twin — per
(n_probe, rerank) setting, so the documented defaults are
evidence-based rather than folklore.

Two corpora:

* the driver's sf embeddings (near-orthogonal random vectors — the
  WORST case for any partition-based ANN: cosine structure is noise,
  so cell pruning necessarily discards near-ties; reported to keep the
  family honest about geometry it cannot exploit), and
* a clustered synthetic corpus (the geometry real embedding spaces
  have, and the one the pytest floor pins): ``n_clusters`` separated
  unit directions with small deterministic perturbations.

Usage: python scripts/ann_recall.py [sf_dir]   # default sf0.1
Prints a markdown table (paste into BASELINE.md) plus one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from rheoceros_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    ivf_probe,
    ivf_write,
    ivfpq_probe,
    ivfpq_write,
    recall_at_k,
)
from rheoceros_spark.session import get_session  # noqa: E402

K = 10
QUERY_STRIDE = 97  # ~1% of sf0.1's 5000 vectors → 52 queries


def clustered_corpus(spark, n=2000, dim=64, n_clusters=8):
    """Deterministic clustered unit-ish vectors: cluster c's base
    direction concentrates on coordinates [c*dim/n_clusters, ...),
    each member perturbed by a small id-dependent offset."""
    width = dim // n_clusters
    rows = []
    for i in range(n):
        c = i % n_clusters
        vec = [0.0] * dim
        for j in range(c * width, (c + 1) * width):
            vec[j] = 1.0
        for j in range(dim):
            vec[j] += 0.05 * (((i * 31 + j * 7) % 11) - 5)
        rows.append((i, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def sweep(spark, emb, tag, tmp, settings):
    n = emb.count()
    qids = [r.vec_id for r in emb.select("vec_id").collect() if r.vec_id % QUERY_STRIDE == 0]
    qvecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(qids)).collect()
    }
    exact = {
        qid: cosine_topk(emb, query_id=qid, k=K)
        for qid in qids
    }
    # cache exact top-k rows once
    exact_ids = {qid: {r.vec_id for r in df.collect()} for qid, df in exact.items()}

    ivf_path = f"{tmp}/recall_ivf_{tag}"
    ivfpq_path = f"{tmp}/recall_ivfpq_{tag}"
    ivf_write(emb, ivf_path, n_centroids=8)
    ivfpq_write(emb, ivfpq_path, n_cells=8, iters=2, n_codes=16, m=4)

    out = []
    for family, path, probe in (
        (
            "ivf",
            ivf_path,
            lambda qv, np_, rr, qid: ivf_probe(
                spark, path, qv, k=K, n_probe=np_, exclude_id=qid
            ),
        ),
        (
            "ivfpq",
            ivfpq_path,
            lambda qv, np_, rr, qid: ivfpq_probe(
                spark, path, qv, k=K, n_probe=np_, rerank=rr, exclude_id=qid
            ),
        ),
    ):
        for n_probe, rerank in settings:
            recs = []
            for qid in qids:
                approx = probe(qvecs[qid], n_probe, rerank, qid)
                got = {r.vec_id for r in approx.collect()}
                want = exact_ids[qid]
                recs.append(len(got & want) / len(want))
            out.append(
                {
                    "corpus": tag,
                    "family": family,
                    "n_probe": n_probe,
                    "rerank": rerank,
                    "recall_at_10": round(sum(recs) / len(recs), 4),
                    "n_queries": len(recs),
                }
            )
            print(
                f"  {tag:9s} {family:6s} n_probe={n_probe} rerank={rerank:4d} "
                f"recall@10={out[-1]['recall_at_10']:.4f}",
                file=sys.stderr,
            )
    return out


def main():
    import tempfile

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_session(
        "ann_recall", master="local[8]", extra_confs={"spark.ui.enabled": "false"}
    )
    tmp = tempfile.mkdtemp(prefix="ann_recall_")
    settings = [(1, 50), (2, 50), (2, 200), (4, 200), (8, 500)]
    results = []
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id").isNotNull()
    )
    results += sweep(spark, emb, "sf", tmp, settings)
    results += sweep(spark, clustered_corpus(spark), "clustered", tmp, settings)

    print("\n| corpus | family | n_probe | rerank | recall@10 | queries |")
    print("|---|---|---|---|---|---|")
    for r in results:
        print(
            f"| {r['corpus']} | {r['family']} | {r['n_probe']} | {r['rerank']} "
            f"| {r['recall_at_10']:.3f} | {r['n_queries']} |"
        )
    print(json.dumps({"metric": "ann_recall_at_10", "results": results}))


if __name__ == "__main__":
    main()
