"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over the engine's query registry
(``mknssh_11_bigdata_spark/queries.py``): every implemented operator from
SURVEY.md §2 is a named (Spark, oracle-SQL) pair there; this module
exposes the registry in the driver's shape. The registry keeps plain
registration order; the driver's order — uncertified queries first,
derived from the recorded CORRECTNESS_r*.json files next to this module
— is applied here, so importing the library reads no repo files.
"""

from __future__ import annotations

import json
import pathlib
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mknssh_11_bigdata_spark.queries import QUERIES
from mknssh_11_bigdata_spark.registry import QuerySpec

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "customer_feature_table"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the reference's full ``generate_dataset``
    composition (SURVEY.md §3.1) on the driver's star schema:
    conditional-count profile → left join → one-hot → bucketize →
    deterministic top-N → membership semi-join → dimension join.
    The IMDb pipeline's own version is
    ``pipelines/imdb_features.generate_dataset``, whose crew half
    (``crew_columns``) ranks both roles in one grouped window and joins
    the top ids back in the same aggregate as the people stats.
    """
    return QUERIES[FLAGSHIP].spark(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in the
    driver-window order of :func:`_reorder_registry`."""
    return {
        name: spec.spark for name, spec in _reorder_registry(QUERIES).items()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted => the driver
    records a weaker rows-only check; only done for genuinely
    non-SQL-expressible ops)."""
    return {
        name: spec.oracle
        for name, spec in _reorder_registry(QUERIES).items()
        if spec.oracle is not None
    }


# ---------------------------------------------------------------------------
# Driver-gate window management (VERDICT r2 "Next round" #1).
#
# The driver records CORRECTNESS rows for only the first ~50 registered
# queries per round, so registry ORDER decides which queries earn a hard
# driver-gate row. Rounds 1-2 hand-maintained the rotation list and the
# arithmetic overflowed (63 names vs a 50-row window → 13 queries never
# certified). The rotation is now DERIVED from the recorded evidence:
# every CORRECTNESS_r*.json at the repo root is read on each queries() /
# oracle_sql() call, a query counts as driver-certified iff some round
# recorded hash_match=true for it (or, for the by-design rows-only
# queries, recorded its weaker rows-only row), and both order
# uncertified-first / certified-last. New queries and round-1 no_oracle
# rows therefore rotate into the window automatically, with no list to
# keep in sync.
# ---------------------------------------------------------------------------

#: Genuinely non-SQL-expressible queries (HLL/t-digest sketches, per-byte
#: blob math): the driver's rows-only record is the strongest row they
#: can ever earn, so one recorded row counts as certified.
_ROWS_ONLY_BY_DESIGN = {
    "event_type_sketch_stats",
    "multimodal_media_features",
}

#: Queries whose implementation or oracle changed after already earning
#: a green row, mapped to the FIRST round whose CORRECTNESS record
#: certifies the shipped code (the round in which the change lands).
#: Older green rows are ignored for these names, so they rotate back
#: into the window — and the entry expires automatically once the
#: driver records a green row in round ≥ the stated round.
_RECERTIFY = {
    "dedup_embedding_components": 3,  # n-scaled SRP geometry (r3)
    "trailing_24h_user_spend": 3,  # microsecond RANGE frame (r3, ADVICE)
    "event_props_map_explode": 3,  # TRY_CAST oracle (r3, ADVICE)
    "embedding_topk_ivf_kmeans": 3,  # map-only centroid assignment (r3)
    "embedding_topk_ivf_int8": 3,  # map-only centroid assignment (r3)
    # signed-zero normalization at the output boundary (r5, VERDICT r4
    # #1): the r4 row was red on Spark +0.0 vs DuckDB -0.0 for one
    # rounded tiny-negative avg; `nz()` normalizes both engines now.
    # Spark-side outputs of every OTHER nz'd query are bit-unchanged
    # (F.round never emits -0.0), so their earlier green rows stand.
    "dsir_importance_weights": 5,
    # round 7 implementation changes (outputs verified bit-identical
    # locally, but the shipped code differs from what the r6 rows
    # certified): dense-array Bloom probe (VERDICT r6 #1), shared
    # kmv_hash expression, weight-clamp removal (ADVICE r6).
    "dedup_bloom_membership": 7,
    "event_kmv_distinct": 7,
    "doc_weighted_sample": 7,
    "doc_weighted_sample_by_source": 7,
    # round 8: centroid-model hint routed through the measured-count
    # guard (VERDICT r7 watch #1) — output identical, plan differs.
    "embedding_label_outliers": 8,
    # round 8: per-doc novelty refactored onto the shared
    # _doc_novelty_frame substrate (per-source rollup consumes it) —
    # output bit-identical, code differs from what r6 certified.
    "doc_novelty_scores": 8,
    # round 8 review pass: oracle + Spark side moved onto the shared
    # _SCORE_SQL/_quality_frame definitions (whitespace-level oracle
    # change, identical results) — the r7 row certified older text.
    "curation_token_budget_selection": 8,
    # round 8 review pass 2: Spark body moved onto the shared
    # _pair_source_frame (oracle byte-identical via the template) —
    # output unchanged, code differs from what r7 certified.
    "dedup_pair_source_crosstab": 8,
}


def _scan_correctness() -> tuple[set[str], set[str]]:
    """(recorded, certified) name sets from the CORRECTNESS_r*.json
    records at the repo root — ``recorded`` is every name the driver
    has EVER written a row for (green or not), ``certified`` the subset
    whose most recent still-valid row is green. See
    :func:`_driver_certified` for the certification rules."""
    recorded: set[str] = set()
    latest: dict[str, tuple[int, bool]] = {}
    root = pathlib.Path(__file__).resolve().parent
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            recorded.add(name)
            if rnd < _RECERTIFY.get(name, 0):
                continue  # pre-change record: stale for the shipped code
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and name in _ROWS_ONLY_BY_DESIGN
                and row.get("spark_rows") is not None
            )
            if rnd >= latest.get(name, (-1, False))[0]:
                latest[name] = (rnd, green)
    certified = {name for name, (_, green) in latest.items() if green}
    return recorded, certified


def _driver_certified() -> set[str]:
    """Names with a green (or by-design rows-only) row in a recorded
    CORRECTNESS_r*.json that still certifies the SHIPPED code. Missing/
    corrupt files are simply skipped — on a fresh clone every query is
    uncertified and goes to the front.

    A name listed in :data:`_RECERTIFY` with required round ``N`` counts
    only if a round ≥ N recorded it green: its pre-change rows are stale
    by definition, and the entry EXPIRES BY ITSELF once the driver
    re-records the query — no hand-clearing between rounds (the r3
    version subtracted the list forever, which would have silently
    burned len(_RECERTIFY) window slots every later round).

    The MOST RECENT recorded row per name wins: a query that was green
    in round N but recorded a failure in round M > N is uncertified
    again and rotates back into the window to be re-proved — otherwise
    one stale green row would mask every later regression forever."""
    return _scan_correctness()[1]


def _reorder_registry(
    registry: dict[str, QuerySpec],
) -> dict[str, QuerySpec]:
    """``registry`` ordered uncertified-first for the driver's ~50-row
    window, with the uncertified FRONT itself priority-ordered:
    *pending* names (the driver has already recorded a non-green row,
    or a recertification debt is declared) sort before *fresh* names
    (registered after the last recorded round, never seen by the
    driver). A fresh name overflowing the window merely waits one
    round — next round the newly-green front rotates to the back and
    the fresh tail moves up — whereas a pending name kept out of the
    window would stay uncertified forever. Registration order is
    preserved within each band (the sort is stable)."""
    recorded, certified = _scan_correctness()

    def band(name: str) -> int:  # 0 pending, 1 fresh, 2 certified
        if name in certified:
            return 2
        return 0 if name in recorded or name in _RECERTIFY else 1

    return {name: registry[name] for name in sorted(registry, key=band)}
