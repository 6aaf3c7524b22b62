"""Order-insensitive result hashes, for checking registered queries
against their DuckDB oracle SQL on the workload's own files.

Canonicalization is the one ``tools/parity_subset.py`` applies: columns
sorted by lower-cased name, floats rounded to 9 digits (sign kept, NaN
as a string), arrays as tuples, rows sorted by ``repr``.
"""

from __future__ import annotations

import hashlib
import math
import os


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=repr
    )
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    h.update(repr(body).encode())
    return h.hexdigest()


def spark_hash(df) -> str:
    return result_hash(df.columns, [tuple(r) for r in df.collect()])


class DuckOracle:
    """DuckDB views over one table directory (one Parquet file per
    table)."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...]):
        import duckdb

        self.con = duckdb.connect()
        # two threads: the oracle runs beside an idle Spark session
        self.con.execute("SET threads TO 2")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def hash(self, sql: str) -> str:
        rel = self.con.execute(sql)
        cols = [c[0] for c in rel.description]
        return result_hash(cols, rel.fetchall())

    def close(self) -> None:
        self.con.close()
