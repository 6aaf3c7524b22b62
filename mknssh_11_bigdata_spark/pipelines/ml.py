"""ML tail: label, embeddings, split, train, score, explain.

Re-expresses the reference's pandas/sklearn/xgboost tail
(``/root/reference/scripts/model_train_explain.py``,
``embeddings_generation.py``) with the Spark-side parts made scalable and
the single-node parts gated behind import-tries (xgboost/shap/sklearn are
optional; a deterministic numpy fallback keeps the pipeline runnable and
testable anywhere):

* label: ``rating >= 6`` as a Column expression — the reference used a
  row-wise pandas ``apply`` (F7 ⚠, ``model_train_explain.py:25-40``).
* embeddings: Arrow-batched ``pandas_udf`` over partitions — the
  reference encoded driver-side in one process
  (``embeddings_generation.py:24-31``). The encoder is pluggable; the
  default is a deterministic hash-projection stand-in (the container has
  no sentence-transformers — SURVEY §7 risk 4), so the PLUMBING (batching,
  schema, scale) is real and tested even where the model is fake.
* dimensionality reduction: PCA via numpy SVD with sign-fixing
  (deterministic). UMAP cannot be distribution-mapped (global fit —
  SURVEY §7 risk 4); at scale fit PCA on a sample, broadcast components.
* split/train/score: stratified split, logistic-regression fallback
  (numpy GD), accuracy/F1/confusion — xgboost used when installed.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "add_label",
    "hash_embedding_udf",
    "add_title_embeddings",
    "pca_reduce",
    "tsne_2d",
    "train_test_split",
    "train_model",
    "score_model",
    "explain_model",
]

EMBEDDING_DIM = 32


def add_label(df: DataFrame, rating_col: str = "averageRating") -> DataFrame:
    """Binary target: rating ≥ 6 (``model_train_explain.py:37-40`` used a
    pandas apply; this is one codegen'd expression)."""
    return df.withColumn(
        "label", (F.col(rating_col) >= 6.0).cast("int")
    )


def _hash_vector(text: str, dim: int) -> np.ndarray:
    """Deterministic unit vector from md5 bytes — the encoder stand-in."""
    raw = hashlib.md5((text or "").encode("utf-8")).digest()
    rng = np.random.default_rng(int.from_bytes(raw[:8], "big"))
    v = rng.standard_normal(dim)
    return v / (np.linalg.norm(v) or 1.0)


def hash_embedding_udf(dim: int = EMBEDDING_DIM):
    """Arrow-batched ``pandas_udf``: text column → array<double>.

    Swap ``_hash_vector`` for a real model's ``encode`` (loaded once per
    executor inside the UDF — e.g. sentence-transformers) and nothing
    else changes: batching, schema, and partition parallelism carry over.
    """

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def encode(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _hash_vector(t, dim).tolist())

    return encode


def add_title_embeddings(
    df: DataFrame, text_col: str = "primaryTitle", dim: int = EMBEDDING_DIM
) -> DataFrame:
    """Per-row text embeddings at scale (replaces the driver-side loop of
    ``embeddings_generation.py:24-31``)."""
    return df.withColumn("title_emb", hash_embedding_udf(dim)(F.col(text_col)))


def pca_reduce(
    emb: np.ndarray, out_dim: int = 10
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic PCA via SVD (signs fixed by largest-|loading| rule).

    Returns (reduced, components). UMAP (the reference's reducer) is a
    global fit that can't be distribution-mapped; PCA components can be
    fit on a sample and broadcast for ``pandas_udf`` projection at scale.
    """
    centered = emb - emb.mean(axis=0, keepdims=True)
    _, _, vt = np.linalg.svd(centered, full_matrices=False)
    comps = vt[:out_dim]
    # sign convention: force the max-|value| entry of each component > 0
    signs = np.sign(comps[np.arange(len(comps)), np.abs(comps).argmax(axis=1)])
    comps = comps * signs[:, None]
    return centered @ comps.T, comps


def tsne_2d(emb: np.ndarray, seed: int = 42) -> np.ndarray:
    """2-d projection helper (``apply_tsne``,
    ``/root/reference/scripts/data_analysis.py:119-134``): sklearn t-SNE
    when installed, deterministic 2-component PCA otherwise. Driver-side
    by design — t-SNE is a global fit over an already-reduced sample
    (visualization scale, never the 100 TB table)."""
    try:
        from sklearn.manifold import TSNE

        return TSNE(
            n_components=2, random_state=seed, init="pca"
        ).fit_transform(emb)
    except ImportError:
        reduced, _ = pca_reduce(emb, out_dim=2)
        return reduced


def train_test_split(
    pdf: pd.DataFrame,
    label_col: str = "label",
    test_frac: float = 0.2,
    seed: int = 42,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Stratified split (``model_train_explain.py:60-83``): per-class
    shuffled index split, deterministic under ``seed``."""
    rng = np.random.default_rng(seed)
    test_idx: list[np.ndarray] = []
    for _, grp in pdf.groupby(label_col):
        idx = grp.index.to_numpy()
        rng.shuffle(idx)
        test_idx.append(idx[: max(1, int(round(len(idx) * test_frac)))])
    test_mask = pdf.index.isin(np.concatenate(test_idx))
    return pdf[~test_mask], pdf[test_mask]


class _NumpyLogReg:
    """Deterministic logistic-regression fallback (full-batch GD)."""

    def __init__(self, lr: float = 0.1, epochs: int = 300):
        self.lr, self.epochs = lr, epochs
        self.w: np.ndarray | None = None
        self.mu: np.ndarray | None = None
        self.sd: np.ndarray | None = None

    def fit(self, X: np.ndarray, y: np.ndarray) -> "_NumpyLogReg":
        self.mu = X.mean(axis=0)
        self.sd = X.std(axis=0)
        self.sd[self.sd == 0] = 1.0
        Xn = np.c_[np.ones(len(X)), (X - self.mu) / self.sd]
        w = np.zeros(Xn.shape[1])
        for _ in range(self.epochs):
            p = 1.0 / (1.0 + np.exp(-Xn @ w))
            w -= self.lr * (Xn.T @ (p - y)) / len(y)
        self.w = w
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        Xn = np.c_[np.ones(len(X)), (X - self.mu) / self.sd]
        return (1.0 / (1.0 + np.exp(-Xn @ self.w)) >= 0.5).astype(int)

    @property
    def feature_importances_(self) -> np.ndarray:
        return np.abs(self.w[1:])


def train_model(
    train: pd.DataFrame, label_col: str = "label", seed: int = 42
):
    """XGBoost (``binary:logistic``, the reference's
    ``model_train_explain.py:100-109`` config) when installed; otherwise
    the deterministic numpy fallback. Returns (model, feature_names)."""
    features = [c for c in train.columns if c != label_col]
    X = train[features].to_numpy(dtype=float)
    y = train[label_col].to_numpy(dtype=float)
    try:
        import xgboost as xgb

        model = xgb.XGBClassifier(
            objective="binary:logistic",
            learning_rate=0.1,
            max_depth=12,
            n_estimators=200,
            base_score=float(y.mean()),
            random_state=seed,
        ).fit(X, y)
    except ImportError:
        model = _NumpyLogReg().fit(X, y)
    return model, features


def score_model(
    model, features: list[str], test: pd.DataFrame, label_col: str = "label"
) -> dict:
    """Accuracy / F1 / confusion matrix
    (``model_train_explain.py:113-169``) in plain numpy."""
    X = test[features].to_numpy(dtype=float)
    y = test[label_col].to_numpy(dtype=int)
    pred = np.asarray(model.predict(X), dtype=int)
    tp = int(((pred == 1) & (y == 1)).sum())
    tn = int(((pred == 0) & (y == 0)).sum())
    fp = int(((pred == 1) & (y == 0)).sum())
    fn = int(((pred == 0) & (y == 1)).sum())
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    return {
        "accuracy": (tp + tn) / len(y) if len(y) else 0.0,
        "f1": (
            2 * precision * recall / (precision + recall)
            if precision + recall
            else 0.0
        ),
        "confusion": [[tn, fp], [fn, tp]],
    }


def explain_model(model, features: list[str], sample: pd.DataFrame) -> dict:
    """SHAP TreeExplainer when available
    (``model_train_explain.py:171-183``); otherwise model feature
    importances. Returns {feature: score} descending."""
    try:
        import shap

        vals = shap.TreeExplainer(model).shap_values(
            sample[features].to_numpy(dtype=float)
        )
        scores = np.abs(np.asarray(vals)).mean(axis=0)
    except Exception:
        scores = np.asarray(
            getattr(model, "feature_importances_", np.zeros(len(features)))
        )
    ranked = sorted(zip(features, scores), key=lambda kv: -kv[1])
    return {k: float(v) for k, v in ranked}
