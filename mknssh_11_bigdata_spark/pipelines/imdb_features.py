"""IMDb feature-table pipeline — the reference's ``generate_dataset``
(``/root/reference/scripts/data_processing.py:70-374``) recomposed from
the operator library, Spark-first.

Every stage is a pure ``DataFrame -> DataFrame`` function so Catalyst
sees one fused plan (the reference had the same functional shape,
``data_processing.py:340-374``; we keep it and fix the §4.4 bugs):

* NO per-stage ``repartition("tconst")`` (reference J8 ⚠ — AQE plans the
  join exchanges; a manual pre-shuffle just doubles them).
* Every crew feature (J5/J6 people joins, A3 stats, A4 ranking, J7
  flags) comes from one long-form ``(tconst, role, pid)`` projection of
  ``title_crew`` (``crew_columns``): one grouped aggregate for all
  stats and flags, one ranking for both roles — ``title_crew`` is
  scanned twice, not once per role per feature.
* Membership flags are an exact broadcast equi-join on the top ids, not
  1000-term regexes (J7 ⚠, no prefix matches).
* Top-N entity ranking is tie-broken (T1 ⚠, deterministic).
* Wide projections, filters and aggregates are SQL text rendered by
  ``sql_literal``/``sql_ident``: the driver-side cost of a plan is its
  Py4J round trips, and a Column chain costs dozens per expression.
* One-hot genre vocabulary is sorted (deterministic schema).
* The final ``dropna`` (reference §4.4.6 — silently dropped every title
  without akas/crew/principals) is EXPLICIT and configurable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import bucketize, one_hot, sql_ident, sql_literal

__all__ = [
    "clean_titles",
    "initial_form",
    "crew_columns",
    "cleanup_columns",
    "generate_dataset",
]

#: Title types retained by the reference filter (data_processing.py:95,104).
KEPT_TITLE_TYPES = ("movie", "tvMovie", "short", "tvShort")
YEAR_RANGE = (2000, 2024)
MIN_VOTES = 100
RUNTIME_EDGES = [30, 91, 151]  # buckets: <30, 30-90, 91-150, >150
PRINCIPAL_CATEGORIES = ("actor", "actress", "producer", "writer")
#: crew role -> its title_crew id-array column
CREW_ROLES = {"director": "directors", "writer": "writers"}
#: person feature -> the name_basics array column whose size it is
PEOPLE_FEATURES = {"known": "knownForTitles", "prof": "primaryProfession"}


def _group(df: DataFrame, keys: list[str], aggs: list[str]) -> DataFrame:
    """``groupBy(keys).agg(aggs)`` from SQL text (see ``sql_literal`` for
    why text: each ``F.expr`` is one Py4J round trip, a Column chain is
    dozens)."""
    return df.groupBy(*map(F.expr, keys)).agg(*map(F.expr, aggs))


def clean_titles(title_basics: DataFrame) -> DataFrame:
    """The reference's title filter chain (``data_processing.py:99-106``):
    non-null year/runtime/genres ∧ non-adult ∧ kept types ∧ year window.

    ``isAdult`` is a dirty string column; the reference's implicit-cast
    ``== 0`` silently dropped junk rows (§4.4.4). We make the contract
    explicit: keep rows whose isAdult is exactly '0'.
    """
    types = ", ".join(map(sql_literal, KEPT_TITLE_TYPES))
    lo, hi = map(sql_literal, YEAR_RANGE)
    return title_basics.where(
        "startYear IS NOT NULL AND runtimeMinutes IS NOT NULL"
        f" AND genres IS NOT NULL AND isAdult = {sql_literal('0')}"
        f" AND titleType IN ({types}) AND startYear BETWEEN {lo} AND {hi}"
    )


def initial_form(
    title_basics: DataFrame,
    title_ratings: DataFrame,
    title_akas: DataFrame,
    title_principals: DataFrame,
    genre_vocabulary: list[str] | None = None,
) -> DataFrame:
    """Stage 1 (``dataset_generate_initial_form``,
    ``data_processing.py:70-189``): filters → inner join ratings →
    genre one-hots → akas count → principals profile → runtime bucket.

    Scale notes: the ratings join shuffles both sides on tconst once and
    every later per-title aggregate joins back on the same key (AQE
    reuses/plans exchanges — no manual repartition, unlike reference J8).
    The genre vocabulary is the one data-dependent step (two-phase
    dynamic schema, §4.3); pass ``genre_vocabulary`` to skip the extra
    job at scale.
    """
    titles = clean_titles(title_basics)
    rated = title_ratings.where(
        f"averageRating IS NOT NULL AND numVotes >= {sql_literal(MIN_VOTES)}"
    )
    df = titles.join(rated, "tconst", "inner")

    # one-hot genres (F3) — array column, sorted vocabulary
    df, genre_cols = one_hot(
        df, "genres", vocabulary=genre_vocabulary, prefix="genre_", is_array=True
    )
    # one-hot titleType (F5) — fixed vocabulary, no discovery job
    df, type_cols = one_hot(
        df, "titleType", vocabulary=list(KEPT_TITLE_TYPES), prefix="type_"
    )

    # A1: akas rows per title. The reference counted ALL akas rows but
    # named it countries_count (§4.4.7) — we keep count(*) semantics under
    # the honest name and add the distinct-region variant.
    akas_counts = _group(
        title_akas,
        ["titleId AS tconst"],
        ["count(1) AS akas_count", "count(DISTINCT region) AS countries_count"],
    )
    df = df.join(akas_counts, "tconst", "left")

    # A2: principals profile — one conditional aggregation
    principals_profile = _group(
        title_principals,
        ["tconst"],
        [
            *(
                f"sum(CASE WHEN category = {sql_literal(c)} THEN 1 ELSE 0 END)"
                f" AS {sql_ident(f'num_{c}s')}"
                for c in PRINCIPAL_CATEGORIES
            ),
            "count(1) AS num_principals",
            "count(DISTINCT category) AS num_principal_categories",
        ],
    )
    df = df.join(principals_profile, "tconst", "left")

    # F6: runtime bucket {0:<30, 1:30-90, 2:91-150, 3:>150}; NULLs were
    # filtered above so the reference's NULL→3 quirk (§4.4.3) is moot.
    df = bucketize(
        df, "runtimeMinutes", edges=RUNTIME_EDGES, out="runtimeMinutesBucket"
    )
    return df


def crew_columns(
    df: DataFrame,
    title_crew: DataFrame,
    name_basics: DataFrame,
    title_ratings: DataFrame,
    top_n_entities: int = 1000,
) -> DataFrame:
    """Stages 2+3 (``dataset_add_people_columns`` and
    ``dataset_add_popularity_columns``, ``data_processing.py:192-315``):
    per-title people stats (J5/J6 + A3) and the ``has_top_*`` flags
    (A4 + T1 + J7), all from ONE long-form ``(tconst, role, pid)``
    projection of ``title_crew``.

    * Ranking (A4 + T1): one ``groupBy(role, pid)`` of the rated crew,
      then a per-role ``row_number`` over the total order
      ``(avg_rating desc, avg_votes desc, pid asc)`` — the reference's
      orderBy+limit had no tie-break (§4.4.5). For N up to
      ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000) Catalyst
      turns ``row_number() <= N`` into a per-partition group limit
      before the shuffle, so only N rows per role per partition move.
    * Stats and flags: the crew rows join the person features and the
      top ids (J7 ⚠ was a 1000-term unanchored regex, prefix-buggy;
      here it is an exact broadcast equi-join), then one
      ``groupBy(tconst)`` computes every role's mean/min/max and
      ``max(is_top)`` as conditional aggregates.

    ``title_crew`` is scanned once per branch: twice in all.
    """
    stack = ", ".join(
        f"{sql_literal(role)}, {sql_ident(col)}"
        for role, col in CREW_ROLES.items()
    )
    crew = title_crew.selectExpr(
        "tconst", f"stack({len(CREW_ROLES)}, {stack}) AS (role, ids)"
    ).selectExpr("tconst", "role", "explode(ids) AS pid")

    impact = _group(
        crew.join(title_ratings, "tconst"),
        ["role", "pid"],
        ["avg(averageRating) AS avg_rating", "avg(numVotes) AS avg_votes"],
    )
    top = (
        impact.selectExpr(
            "role",
            "pid",
            "row_number() OVER (PARTITION BY role"
            " ORDER BY avg_rating DESC, avg_votes DESC, pid) AS impact_rank",
        )
        .where(f"impact_rank <= {sql_literal(top_n_entities)}")
        .selectExpr("role", "pid", "1 AS is_top")
    )

    # size(NULL array) is -1 in Spark (legacy); the reference inherited
    # that quirk via size(split(NULL)) — we keep NULL as NULL so the
    # aggregates below skip missing people instead of counting -1.
    people = name_basics.selectExpr(
        "nconst AS pid",
        *(
            f"CASE WHEN {sql_ident(c)} IS NOT NULL THEN size({sql_ident(c)})"
            f" END AS {feature}"
            for feature, c in PEOPLE_FEATURES.items()
        ),
    )
    # Column order: every stat writer-first, then the flags
    # director-first (the reference's stage order).
    stats = [
        f"{fn}(CASE WHEN role = {sql_literal(role)} THEN {feature} END)"
        f" AS {role}_{stat}_{feature}"
        for role in ("writer", "director")
        for feature in PEOPLE_FEATURES
        for fn, stat in (("avg", "mean"), ("min", "min"), ("max", "max"))
    ]
    flags = [
        f"max(CASE WHEN role = {sql_literal(role)} THEN is_top END)"
        f" AS has_top_{role}"
        for role in CREW_ROLES
    ]
    # Only the top ids (<= 2N rows) are hinted: name_basics is 14M rows
    # in the full dump, so its join strategy is left to the planner
    # (a broadcast at small sizes).
    per_title = _group(
        crew.join(people, "pid", "left").join(
            top.hint("broadcast"), ["role", "pid"], "left"
        ),
        ["tconst"],
        stats + flags,
    )
    # a title with no crew, or none in the top N, is flagged 0, not NULL
    return df.join(per_title, "tconst", "left").na.fill(
        {f"has_top_{role}": 0 for role in CREW_ROLES}
    )


#: Columns the reference drops before ML (ids, leaky target cousins;
#: ``data_processing.py:318-337`` + ``model_train_explain.py:56,74``).
DROP_COLUMNS = (
    "primaryTitle",
    "originalTitle",
    "titleType",
    "genres",
    "isAdult",
    "endYear",
    "numVotes",  # label-leaky (votes correlate with rating availability)
)


def cleanup_columns(
    df: DataFrame,
    drop: tuple[str, ...] = DROP_COLUMNS,
    dropna_required: tuple[str, ...] = (),
) -> DataFrame:
    """Stage 4 (``dataset_cleanup_columns``,
    ``data_processing.py:318-337``). The reference followed with a bare
    ``dropna()`` that silently inner-joined away every title missing any
    left-joined feature (§4.4.6). Here missing-feature rows are KEPT with
    imputed zeros by default; pass ``dropna_required`` to drop on
    specific columns explicitly.
    """
    out = df.drop(*[c for c in drop if c in df.columns])
    if dropna_required:
        out = out.na.drop(subset=list(dropna_required))
    numeric = [
        name
        for name, dtype in out.dtypes
        if dtype in ("int", "bigint", "double", "float")
        and name not in ("averageRating",)
    ]
    return out.na.fill(0, subset=numeric)


def generate_dataset(
    tables: dict[str, DataFrame],
    genre_vocabulary: list[str] | None = None,
    top_n_entities: int = 1000,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """The full feature pipeline (``generate_dataset``,
    ``data_processing.py:340-374``): one fused lazy plan from six input
    tables to the ML feature table. The only mid-pipeline action is the
    genre-vocabulary discovery (skipped when a vocabulary is passed)."""
    df = initial_form(
        tables["title_basics"],
        tables["title_ratings"],
        tables["title_akas"],
        tables["title_principals"],
        genre_vocabulary=genre_vocabulary,
    )
    df = crew_columns(
        df,
        tables["title_crew"],
        tables["name_basics"],
        tables["title_ratings"],
        top_n_entities=top_n_entities,
    )
    drop = tuple(c for c in DROP_COLUMNS if c not in keep)
    return cleanup_columns(df, drop=drop)
