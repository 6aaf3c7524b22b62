#!/usr/bin/env python
"""Measure ANN strategy tradeoffs (wall clock + recall@k vs brute force)
on a scale dataset: brute-force cosine, IVF (min-id centroids), IVF
(deterministic k-means), the Arrow IVF arm, int8-quantized scoring,
IVF x int8, product quantization and IVF-PQ.

The point (BASELINE.md): the approximate strategies must buy their scan
reduction with bounded recall loss, measured — not asserted — at a
corpus size where the differences are real.

Usage: python tools/ann_compare.py [data_dir] [k] [n_queries]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

ROOT = str(pathlib.Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
# the Arrow arm's Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)


def main() -> int:
    data = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    nq = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark import get_spark
    from mknssh_11_bigdata_spark.operators.similarity import (
        brute_force_topk,
        ivf_int8_topk,
        ivf_topk,
        ivf_pq_topk,
        ivf_topk_arrow,
        kmeans_centroids,
        pq_topk,
        quantized_topk,
    )
    from mknssh_11_bigdata_spark.sources.readers import load_table

    spark = get_spark(app_name="ann-compare")
    emb = load_table(spark, data, "embeddings")
    n_corpus = emb.count()  # warms the scan
    queries = emb.filter(F.col("vec_id") < nq)
    dim = len(queries.first()["embedding"])

    def run(tag, df_factory):
        t0 = time.perf_counter()
        rows = df_factory().collect()
        sec = round(time.perf_counter() - t0, 2)
        return tag, sec, {(r.query_id, r.neighbor_id) for r in rows}

    results = {}
    tag, sec, truth = run(
        "brute_force",
        lambda: brute_force_topk(emb, queries, "vec_id", "embedding", k=k),
    )
    results[tag] = {"sec": sec, "recall_at_k": 1.0}

    strategies = {
        "ivf_minid": lambda: ivf_topk(
            emb, queries, "vec_id", "embedding", k=k
        ),
        "ivf_kmeans": lambda: ivf_topk(
            emb,
            queries,
            "vec_id",
            "embedding",
            k=k,
            centroids=kmeans_centroids(
                emb, "vec_id", "embedding", sample_mod=7
            ),
        ),
        "ivf_arrow": lambda: ivf_topk_arrow(
            emb, queries, "vec_id", "embedding", k=k
        ),
        "int8_quantized": lambda: quantized_topk(
            emb, queries, "vec_id", "embedding", k=k
        ),
        "ivf_x_int8": lambda: ivf_int8_topk(
            emb, queries, "vec_id", "embedding", k=k
        ),
        "pq": lambda: pq_topk(emb, queries, "vec_id", "embedding", dim, k=k),
        "ivf_pq": lambda: ivf_pq_topk(
            emb, queries, "vec_id", "embedding", dim, k=k
        ),
    }
    for tag, factory in strategies.items():
        t, sec, got = run(tag, factory)
        results[t] = {
            "sec": sec,
            "recall_at_k": round(len(truth & got) / len(truth), 4),
        }

    print(
        json.dumps(
            {"data_dir": data, "n_corpus": n_corpus, "k": k, "results": results}
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
