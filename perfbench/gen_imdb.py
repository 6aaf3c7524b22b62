"""Seeded IMDb-shaped TSV dump generator.

Writes the six tables ``run_pipeline`` reads (``name_basics``,
``title_basics``, ``title_akas``, ``title_crew``, ``title_principals``,
``title_ratings``) as ``{out_dir}/{table}.tsv`` with a header row and
literal ``\\N`` for missing values, following the schemas and domains
in FIXTURES.md, at ``n_titles`` titles:

* people are drawn power-law skewed, so a few hot directors and writers
  appear on many titles;
* ~85% of titles have akas rows, crew lists hold 1-3 people, and the
  adversarial prefix-id pair (``nm0000001`` / ``nm00000010``) is planted
  among the hottest people;
* ``isAdult`` carries a few junk values (``2024``);
* ratings carry a learnable signal (genre, runtime and whether the
  title has one of the planted top directors, plus noise), so the
  pipeline's model scores above chance and a broken join moves its
  metrics.

The same ``(n_titles, seed)`` gives byte-identical files.

Usage: python3 perfbench/gen_imdb.py OUT_DIR N_TITLES SEED
"""

from __future__ import annotations

import os
import sys

import numpy as np

GENRES = [
    "Action", "Adventure", "Animation", "Comedy", "Crime", "Documentary",
    "Drama", "Family", "Fantasy", "Horror", "Music", "Mystery", "Romance",
    "Sci-Fi", "Short", "Sport", "Thriller", "War", "Western", "Adult",
]
#: rating shift per genre: the planted, learnable part of the label
GENRE_SHIFT = {"Documentary": 1.2, "Drama": 0.8, "Animation": 0.6,
               "War": 0.5, "Horror": -1.4, "Thriller": -0.5, "Comedy": -0.3}
TYPES = ["movie", "tvMovie", "short", "tvShort", "tvSeries", "tvEpisode",
         "video", "videoGame"]
TYPE_P = [0.36, 0.1, 0.14, 0.05, 0.1, 0.15, 0.05, 0.05]
PROFESSIONS = ["actor", "actress", "writer", "director", "producer",
               "composer", "editor", "cinematographer", "miscellaneous",
               "soundtrack"]
CATEGORIES = ["actor", "actress", "writer", "director", "producer",
              "composer", "editor", "cinematographer", "self"]
REGIONS = ["US", "DE", "FR", "UA", "JP", "GB", "IT", "ES", "IN", "BR"]
LANGUAGES = ["en", "de", "fr", "uk", "ja", "it", "es"]
AKA_TYPES = ["original", "imdbDisplay", "working", "alternative"]
TITLE_WORDS = (
    "night day love war city road house dark last first star king queen "
    "river blood ghost dream summer winter secret lost home black white "
    "little big man woman girl boy world heart fire ice storm sea sky "
    "Straße café naïve Ødegaard año cœur"
).split()
NULL = "\\N"

HEADERS = {
    "name_basics": ["nconst", "primaryName", "birthYear", "deathYear",
                    "primaryProfession", "knownForTitles"],
    "title_basics": ["tconst", "titleType", "primaryTitle", "originalTitle",
                     "isAdult", "startYear", "endYear", "runtimeMinutes",
                     "genres"],
    "title_akas": ["titleId", "ordering", "title", "region", "language",
                   "types", "attributes", "isOriginalTitle"],
    "title_crew": ["tconst", "directors", "writers"],
    "title_principals": ["tconst", "ordering", "nconst", "category", "job",
                         "characters"],
    "title_ratings": ["tconst", "averageRating", "numVotes"],
}


def _skewed_people(rng: np.random.Generator, n: int, n_people: int):
    """``n`` person indexes, power-law skewed toward low indexes (the
    20 hottest of 10k people take ~13% of all draws)."""
    return (n_people * rng.random(n) ** 3).astype(np.int64)


def _maybe(rng, values: list[str], p_null: float) -> list[str]:
    keep = rng.random(len(values)) >= p_null
    return [v if k else NULL for v, k in zip(values, keep)]


def _write(path: str, header: list[str], columns: list[list]) -> int:
    with open(path + ".tmp", "w", encoding="utf-8", newline="\n") as fh:
        fh.write("\t".join(header) + "\n")
        for row in zip(*columns):
            fh.write("\t".join(map(str, row)) + "\n")
    os.replace(path + ".tmp", path)
    return len(columns[0])


def build(n_titles: int, seed: int) -> dict[str, tuple[list, list]]:
    """Every table as ``(header, columns)``, from one seeded stream."""
    rng = np.random.default_rng(seed)
    n_people = max(200, n_titles // 2)
    people = np.asarray([f"nm{i:07d}" for i in range(1, n_people + 1)],
                        dtype=object)
    # the prefix pair sits among the hottest people
    people[1] = "nm00000010"
    titles = np.asarray([f"tt{i:07d}" for i in range(1, n_titles + 1)],
                        dtype=object)
    tables: dict[str, tuple[list, list]] = {}

    # ---- title_basics
    ttype = np.asarray(TYPES)[rng.choice(len(TYPES), n_titles, p=TYPE_P)]
    n_words = rng.integers(1, 5, n_titles)
    words = np.asarray(TITLE_WORDS)[
        rng.integers(0, len(TITLE_WORDS), int(n_words.sum()))
    ]
    ptitle = [" ".join(w).title() + f" {i}" for i, w in
              enumerate(np.split(words, np.cumsum(n_words)[:-1]))]
    otitle = [t if r < 0.8 else t.upper() for t, r in
              zip(ptitle, rng.random(n_titles))]
    is_adult = np.asarray(["0", "1", "2024"])[
        rng.choice(3, n_titles, p=[0.95, 0.04, 0.01])
    ]
    year = np.where(rng.random(n_titles) < 0.75,
                    rng.integers(2000, 2025, n_titles),
                    rng.integers(1890, 2032, n_titles))
    year_null = rng.random(n_titles) < 0.12
    end_year = year + rng.integers(0, 10, n_titles)
    end_null = (ttype != "tvSeries") | (rng.random(n_titles) < 0.5)
    runtime = np.clip(rng.gamma(4.0, 24.0, n_titles).astype(int), 1, 600)
    runtime_null = rng.random(n_titles) < 0.3
    n_genres = rng.integers(1, 4, n_titles)
    genre_idx = rng.integers(0, len(GENRES), (n_titles, 3))
    genre_lists = [sorted({GENRES[g] for g in row[:k]})
                   for row, k in zip(genre_idx, n_genres)]
    genre_null = rng.random(n_titles) < 0.04
    tables["title_basics"] = [
        titles, ttype, ptitle, otitle, is_adult,
        np.where(year_null, NULL, year.astype(str)),
        np.where(end_null | year_null, NULL, end_year.astype(str)),
        np.where(runtime_null, NULL, runtime.astype(str)),
        [NULL if z else ",".join(g) for g, z in zip(genre_lists, genre_null)],
    ]

    # ---- title_crew: skewed directors/writers, 1-3 each
    has_crew = rng.random(n_titles) < 0.9
    crew_rows = np.flatnonzero(has_crew)
    n_dir = rng.integers(1, 4, len(crew_rows))
    n_wri = rng.integers(1, 4, len(crew_rows))
    dirs = _skewed_people(rng, int(n_dir.sum()), n_people)
    wris = _skewed_people(rng, int(n_wri.sum()), n_people)
    dir_lists = np.split(dirs, np.cumsum(n_dir)[:-1])
    wri_lists = np.split(wris, np.cumsum(n_wri)[:-1])
    tables["title_crew"] = [
        titles[crew_rows],
        _maybe(rng, [",".join(people[np.unique(d)]) for d in dir_lists], 0.3),
        _maybe(rng, [",".join(people[np.unique(w)]) for w in wri_lists], 0.35),
    ]
    # planted signal: titles directed by one of the 20 hottest people
    top_director = np.zeros(n_titles, dtype=bool)
    top_director[crew_rows] = [bool((d < 20).any()) for d in dir_lists]

    # ---- title_ratings: ~45% of titles, votes straddle the >= 100 cut
    rated = np.flatnonzero(rng.random(n_titles) < 0.45)
    shift = np.asarray([sum(GENRE_SHIFT.get(g, 0.0) for g in gl)
                        for gl in genre_lists])
    score = (
        5.6 + shift + 0.012 * (np.minimum(runtime, 200) - 96)
        + 1.3 * top_director + rng.normal(0.0, 0.9, n_titles)
    )
    votes = np.exp(rng.uniform(np.log(5), np.log(3_000_000), n_titles))
    tables["title_ratings"] = [
        titles[rated],
        [f"{v:.1f}" for v in np.clip(score[rated], 1.0, 10.0)],
        votes[rated].astype(int),
    ]

    # ---- title_akas: ~85% of titles, 1-10 rows each
    has_akas = np.flatnonzero(rng.random(n_titles) < 0.85)
    n_akas = np.minimum(rng.geometric(0.4, len(has_akas)), 10)
    aka_title = np.repeat(has_akas, n_akas)
    ordering = np.concatenate([np.arange(1, k + 1) for k in n_akas])
    m = len(aka_title)
    ptitle_arr = np.asarray(ptitle, dtype=object)
    tables["title_akas"] = [
        titles[aka_title],
        ordering,
        [f"{t} ({o})" for t, o in zip(ptitle_arr[aka_title], ordering)],
        _maybe(rng, list(np.asarray(REGIONS)[rng.integers(0, 10, m)]), 0.22),
        _maybe(rng, list(np.asarray(LANGUAGES)[rng.integers(0, 7, m)]), 0.67),
        _maybe(rng, list(np.asarray(AKA_TYPES)[rng.integers(0, 4, m)]), 0.69),
        _maybe(rng, ["literal title"] * m, 0.99),
        np.where(ordering == 1, 1, 0),
    ]

    # ---- title_principals: ~90% of titles, 3-10 rows each
    has_pr = np.flatnonzero(rng.random(n_titles) < 0.9)
    n_pr = rng.integers(3, 11, len(has_pr))
    pr_title = np.repeat(has_pr, n_pr)
    k = len(pr_title)
    tables["title_principals"] = [
        titles[pr_title],
        np.concatenate([np.arange(1, c + 1) for c in n_pr]),
        people[_skewed_people(rng, k, n_people)],
        np.asarray(CATEGORIES)[rng.integers(0, len(CATEGORIES), k)],
        _maybe(rng, ["producer"] * k, 0.81),
        _maybe(rng, ['["Self"]'] * k, 0.52),
    ]

    # ---- name_basics
    n_prof = rng.integers(1, 4, n_people)
    prof_idx = rng.integers(0, len(PROFESSIONS), (n_people, 3))
    n_known = rng.integers(1, 7, n_people)
    known_idx = rng.integers(0, n_titles, (n_people, 6))
    birth = rng.integers(1850, 2025, n_people)
    tables["name_basics"] = [
        people,
        [f"Person {p}" for p in people],
        _maybe(rng, list(birth.astype(str)), 0.95),
        _maybe(rng, list((birth + rng.integers(20, 90, n_people)).astype(str)),
               0.98),
        _maybe(rng, [",".join(dict.fromkeys(PROFESSIONS[j] for j in row[:c]))
                     for row, c in zip(prof_idx, n_prof)], 0.2),
        _maybe(rng, [",".join(dict.fromkeys(titles[row[:c]]))
                     for row, c in zip(known_idx, n_known)], 0.11),
    ]
    return {name: (HEADERS[name], cols) for name, cols in tables.items()}


def write(out_dir: str, n_titles: int, seed: int) -> dict[str, int]:
    """Write every table to ``{out_dir}/{table}.tsv``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    return {
        name: _write(os.path.join(out_dir, f"{name}.tsv"), header, cols)
        for name, (header, cols) in build(n_titles, seed).items()
    }


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen_imdb.py OUT_DIR N_TITLES SEED")
    print(write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])))
