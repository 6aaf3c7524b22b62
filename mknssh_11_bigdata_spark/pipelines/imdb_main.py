"""End-to-end IMDb pipeline runner — the reference's ``main.py`` flow.

One call replaces ``/root/reference/main.py:6-27``: load the six TSV
dumps → generate the feature dataset → persist Parquet → embed titles →
reduce → split → train → score → explain. A user of the reference
switches by pointing ``run_pipeline`` at their IMDb dump directory.

Differences from the reference (all SURVEY.md §3.1/§4 intent fixes):
schema'd single-pass loads; embeddings computed Spark-side with an
Arrow-batched ``pandas_udf`` BEFORE the collect (the reference collected
first, then looped a sentence-transformer on the driver,
``embeddings_generation.py:24-31``); PCA instead of UMAP (deterministic,
broadcastable — UMAP is a global fit); import-gated xgboost/SHAP with a
deterministic numpy fallback so the pipeline runs anywhere.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..sources.imdb import load_imdb_tables
from ..sources.writers import write_parquet
from .imdb_features import generate_dataset
from .ml import (
    add_label,
    add_title_embeddings,
    explain_model,
    pca_reduce,
    score_model,
    train_model,
    train_test_split,
)

__all__ = ["run_pipeline"]


def run_pipeline(
    spark: SparkSession,
    data_dir: str,
    out_path: str,
    top_n_entities: int = 1000,
    emb_out_dim: int = 10,
    seed: int = 42,
) -> dict[str, Any]:
    """Run the full pipeline; returns metrics + artifacts.

    Spark does everything through the Parquet write and the embedding
    UDF; only the final ML table (~rated-titles-sized, small by
    construction) crosses to pandas — the same cut point the reference
    chose (``main.py:17-19``), minus its driver-side embedding loop.
    """
    tables = load_imdb_tables(spark, data_dir)
    # keep the title text through cleanup: the embedding stage consumes
    # it Spark-side, and it is dropped below before training.
    dataset = generate_dataset(
        tables, top_n_entities=top_n_entities, keep=("primaryTitle",)
    )
    with_emb = add_title_embeddings(dataset, text_col="primaryTitle")
    write_parquet(with_emb, out_path)

    # read back with the schema just written: no inference job
    pdf = add_label(
        spark.read.schema(with_emb.schema).parquet(out_path)
    ).toPandas()
    # toPandas row order follows task completion order — nondeterministic
    # across runs. Everything downstream (positional index shuffle in
    # train_test_split, PCA summation) keys off row order, so pin it to
    # the stable id before any of that.
    pdf = pdf.sort_values("tconst", kind="mergesort").reset_index(drop=True)
    emb = np.array(pdf.pop("title_emb").tolist())
    reduced, _ = pca_reduce(emb, out_dim=min(emb_out_dim, emb.shape[1]))
    for i in range(reduced.shape[1]):
        pdf[f"title_emb_{i}"] = reduced[:, i]
    # drop ids/text and the leaky label source (reference's
    # dataset_cleanup_columns + model_train_explain.py:56,74)
    pdf = pdf.drop(
        columns=[
            c
            for c in ("tconst", "primaryTitle", "averageRating")
            if c in pdf.columns
        ]
    )
    train, test = train_test_split(pdf, seed=seed)
    model, features = train_model(train, seed=seed)
    metrics = score_model(model, features, test)
    explain = explain_model(model, features, test.head(200))
    return {
        "dataset_path": out_path,
        "n_rows": len(pdf),
        "n_features": len(features),
        "metrics": metrics,
        "top_factors": dict(list(explain.items())[:10]),
    }
