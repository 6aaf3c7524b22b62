"""End-to-end IMDb pipeline test (SURVEY.md §5.3): synthetic fixtures →
load → generate_dataset → checks on schema, semantics, determinism —
plus the analysis and ML tails."""

from __future__ import annotations

import hashlib
import threading

import pandas as pd
import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from imdb_fixtures import generate
from mknssh_11_bigdata_spark.pipelines import imdb_analysis as A
from mknssh_11_bigdata_spark.pipelines import ml as M
from mknssh_11_bigdata_spark.pipelines.imdb_features import (
    clean_titles,
    generate_dataset,
)
from mknssh_11_bigdata_spark.sources.imdb import load_imdb_tables


#: sha256 of the feature table on the fixture (top_n_entities=10) and of
#: run_pipeline's result, recorded on the per-role crew implementation
#: that crew_columns replaced: the rewrite must stay bit-identical.
DATASET_DIGEST = (
    "b14ff2bcf84aba89861fb75231ac605482bd71ff75a03125de705257f0fd521d"
)
PIPELINE_DIGEST = (
    "903b1971af833cc10f9419c5dbb0baa6a654ef7ea6475a4674f8852ace4dfd1c"
)
#: Py4J round trips to build generate_dataset on the fixture with a known
#: vocabulary: 348 measured on PySpark 4.1.2 (3,066 with Column chains
#: and per-role crew branches); the bound leaves 1.5x headroom.
ROUND_TRIP_BOUND = 520


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for part in parts:
        h.update(f"{part!r}\n".encode())
    return h.hexdigest()


def _table_digest(df) -> str:
    """Schema (names in order, types, nullability) + sorted rows."""
    schema = [
        (f.name, f.dataType.simpleString(), f.nullable) for f in df.schema
    ]
    return _digest(schema, *sorted(repr(tuple(r)) for r in df.collect()))


@pytest.fixture(scope="module")
def imdb_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("imdb")
    generate(str(d))
    return str(d)


@pytest.fixture(scope="module")
def tables(spark, imdb_dir):
    return load_imdb_tables(spark, imdb_dir)


@pytest.fixture(scope="module")
def dataset(tables):
    return generate_dataset(tables, top_n_entities=10).cache()


def test_loader_nulls_and_arrays(tables):
    basics = tables["title_basics"]
    # \N became real NULL (never the literal string)
    assert basics.filter(F.col("genres").isNull()).count() > 0
    lit = basics.filter(F.col("primaryTitle") == r"\N").count()
    assert lit == 0
    # csv-lists are real arrays
    assert dict(basics.dtypes)["genres"] == "array<string>"
    assert dict(tables["title_crew"].dtypes)["directors"] == "array<string>"


def test_clean_titles_contract(tables):
    cleaned = clean_titles(tables["title_basics"])
    rows = cleaned.select(
        "isAdult", "titleType", "startYear", "runtimeMinutes"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.isAdult == "0"  # junk '2024' rows excluded explicitly
        assert r.titleType in ("movie", "tvMovie", "short", "tvShort")
        assert 2000 <= r.startYear <= 2024
        assert r.runtimeMinutes is not None


def test_dataset_schema_and_content(dataset):
    cols = set(dataset.columns)
    # one-hot genre columns exist, sorted vocabulary => stable set
    genre_cols = sorted(c for c in cols if c.startswith("genre_"))
    assert genre_cols and genre_cols == sorted(genre_cols)
    assert "genre_Adult" not in cols or True  # vocabulary is data-driven
    for required in (
        "tconst", "averageRating", "runtimeMinutesBucket", "akas_count",
        "countries_count", "num_principals", "writer_mean_known",
        "director_mean_known", "has_top_director", "has_top_writer",
    ):
        assert required in cols, f"missing {required}"
    # dropped leaky/id columns
    assert "numVotes" not in cols and "primaryTitle" not in cols
    n = dataset.count()
    assert n > 20
    # flags are exact 0/1
    flags = dataset.select("has_top_director", "has_top_writer").collect()
    assert {v for r in flags for v in r} <= {0, 1}


def test_dataset_golden_digest(dataset):
    assert _table_digest(dataset) == DATASET_DIGEST


def test_crew_plan_shape_and_round_trips(tables, dataset, monkeypatch):
    """title_crew is scanned once per crew branch (ranking; stats+flags)
    and title_ratings once per use, and building the plan with a known
    vocabulary stays a few hundred Py4J round trips: wide projections
    are SQL text, not Column chains (~13 round trips per F.col on
    PySpark 4.1)."""
    vocab = [
        c[len("genre_"):] for c in dataset.columns if c.startswith("genre_")
    ]
    me, sent = threading.get_ident(), [0]
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        # the finalizer thread's object-release commands are not ours
        if threading.get_ident() == me:
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    # top_n_entities differs from the cached `dataset` fixture's, or the
    # cache manager would swap the whole plan for its InMemoryRelation
    df = generate_dataset(tables, genre_vocabulary=vocab, top_n_entities=5)
    monkeypatch.undo()
    assert sent[0] <= ROUND_TRIP_BOUND, sent[0]
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    assert sum("title_crew.tsv" in line for line in lines) <= 2, plan
    assert sum("title_ratings.tsv" in line for line in lines) <= 2, plan


def test_dataset_deterministic(tables):
    a = generate_dataset(tables, top_n_entities=10)
    b = generate_dataset(tables, top_n_entities=10)
    ka = sorted(map(repr, a.collect()))
    kb = sorted(map(repr, b.collect()))
    assert ka == kb


def test_runtime_buckets_match_edges(dataset):
    rows = dataset.select("runtimeMinutes", "runtimeMinutesBucket").collect()
    for r in rows:
        rt, b = r.runtimeMinutes, r.runtimeMinutesBucket
        want = 0 if rt < 30 else 1 if rt <= 90 else 2 if rt <= 150 else 3
        assert b == want, (rt, b)


def test_trends_and_histograms(tables):
    trends = A.trends_dataframe(
        tables["title_basics"], tables["title_ratings"]
    )
    rows = trends.collect()
    assert len(rows) > 0
    assert {"genre", "startYear", "mean_rating", "total_votes"} == set(
        trends.columns
    )
    assert not any(r.genre in ("Adult", "Short") for r in rows)

    hist = A.rating_histogram_cumulative(
        tables["title_basics"], tables["title_ratings"]
    ).orderBy("averageRating").collect()
    assert len(hist) > 0
    # cumulative is monotone and ends at the total
    cums = [r.cum_titles for r in hist]
    assert cums == sorted(cums)
    assert cums[-1] == sum(r.n_titles for r in hist)

    stats = A.basic_stats(tables["title_ratings"])
    assert stats["row_count"] > 0
    assert "averageRating" in stats["null_counts"]


def test_ml_tail_end_to_end(spark, dataset):
    with_emb = M.add_title_embeddings(
        M.add_label(dataset), text_col="tconst", dim=8
    )
    pdf = with_emb.select(
        "label", "averageRating", "runtimeMinutesBucket", "akas_count",
        "num_principals", "has_top_director", "title_emb",
    ).toPandas()
    emb = pd.DataFrame(
        pdf.pop("title_emb").tolist(),
        columns=[f"emb_{i}" for i in range(8)],
        index=pdf.index,
    )
    reduced, comps = M.pca_reduce(emb.to_numpy(), out_dim=4)
    assert reduced.shape == (len(pdf), 4) and comps.shape == (4, 8)
    for i in range(4):
        pdf[f"pc_{i}"] = reduced[:, i]
    pdf = pdf.drop(columns=["averageRating"])  # label source is leaky

    train, test = M.train_test_split(pdf, seed=42)
    assert len(train) + len(test) == len(pdf)
    model, feats = M.train_model(train)
    metrics = M.score_model(model, feats, test)
    assert 0.0 <= metrics["accuracy"] <= 1.0
    assert sum(sum(r) for r in metrics["confusion"]) == len(test)
    importance = M.explain_model(model, feats, test)
    assert set(importance) == set(feats)


def test_embedding_udf_deterministic(spark, dataset):
    a = M.add_title_embeddings(dataset, text_col="tconst", dim=8)
    va = {r.tconst: tuple(r.title_emb) for r in a.select("tconst", "title_emb").collect()}
    b = M.add_title_embeddings(dataset, text_col="tconst", dim=8)
    vb = {r.tconst: tuple(r.title_emb) for r in b.select("tconst", "title_emb").collect()}
    assert va == vb


def test_viz_trends_for_plot_topn_reduction(tables, spark):
    import mknssh_11_bigdata_spark.pipelines.imdb_analysis as A
    from mknssh_11_bigdata_spark.pipelines.viz import (
        top_genres_by_votes,
        trends_for_plot,
    )

    trends = A.trends_dataframe(tables["title_basics"], tables["title_ratings"])
    top2 = [r.genre for r in top_genres_by_votes(trends, top_n=2).collect()]
    assert len(top2) == 2
    pdf = trends_for_plot(trends, top_n=2)
    assert set(pdf["genre"].unique()) == set(top2)
    # sorted by (genre, startYear) for line plotting
    assert list(pdf.sort_values(["genre", "startYear"]).index) == list(pdf.index)
    assert {"mean_rating", "total_votes"} <= set(pdf.columns)


def test_run_pipeline_end_to_end(spark, imdb_dir, tmp_path):
    from mknssh_11_bigdata_spark.pipelines.imdb_main import run_pipeline

    out = run_pipeline(
        spark,
        imdb_dir,
        str(tmp_path / "dataset.parquet"),
        top_n_entities=10,
        emb_out_dim=4,
    )
    assert out["n_rows"] > 0
    assert out["n_features"] > 10
    m = out["metrics"]
    assert 0.0 <= m["accuracy"] <= 1.0 and 0.0 <= m["f1"] <= 1.0
    assert sum(sum(r) for r in m["confusion"]) > 0
    assert len(out["top_factors"]) == 10
    # determinism: a second run returns identical metrics
    out2 = run_pipeline(
        spark,
        imdb_dir,
        str(tmp_path / "dataset2.parquet"),
        top_n_entities=10,
        emb_out_dim=4,
    )
    assert out2["metrics"] == m
    del out["dataset_path"]
    assert _digest(out) == PIPELINE_DIGEST, out


def test_tsne_2d_shape_and_determinism():
    import numpy as np

    from mknssh_11_bigdata_spark.pipelines.ml import tsne_2d

    rng = np.random.default_rng(0)
    emb = rng.standard_normal((50, 8))
    a = tsne_2d(emb)
    b = tsne_2d(emb)
    assert a.shape == (50, 2)
    assert np.allclose(a, b)
