"""Output checks: engine results against independent oracles.

* CDC state: the table's live rows against ``testgen.final_state_oracle``
  on (key, lsn, sha256(content)), compared in both directions.
* Point lookups: rows returned by ``read_keys`` against the live rows of
  those keys, tracked on the driver from the generated events.
* Board queries: each result against its ``oracle_sql()`` on DuckDB, with
  the value comparison of ``tools/compare_oracle.py``.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd

KEY_COLS = ["repo", "path", "commit"]


def _fingerprint(df):
    from pyspark.sql import functions as F

    return df.select(*KEY_COLS, "lsn", F.sha2(F.col("content"), 256).alias("sha"))


def state_mismatches(spark, table, events) -> int:
    """Rows present on one side only, (key, lsn, sha256(content)), as a
    multiset difference in both directions (one shuffle)."""
    from pyspark.sql import functions as F

    from docetl_spark.cdc import replay
    from docetl_spark.sources.testgen import final_state_oracle

    got = _fingerprint(replay.read_state(spark, table)).withColumn("_side", F.lit(1))
    want = _fingerprint(final_state_oracle(events, tuple(KEY_COLS))).withColumn("_side", F.lit(-1))
    diff = got.unionByName(want).groupBy(*KEY_COLS, "lsn", "sha").agg(F.sum("_side").alias("d"))
    return int(diff.agg(F.sum(F.abs("d"))).first()[0] or 0)


def live_counts(events, last_batches: list[int]) -> list[int]:
    """Live keys after each prefix ``batch_id <= b`` of ``events``, in one
    job: per key, the max-LSN event of every prefix; deletes drop the key."""
    from pyspark.sql import functions as F

    ev = F.struct("lsn", "op")
    per_key = events.groupBy(*KEY_COLS).agg(*[
        F.max(F.when(F.col("batch_id") <= b, ev)).alias(f"w{i}") for i, b in enumerate(last_batches)
    ])
    row = per_key.agg(*[
        F.sum((F.col(f"w{i}.op") != "D").cast("long")).alias(f"n{i}") for i in range(len(last_batches))
    ]).first()
    return [int(row[f"n{i}"] or 0) for i in range(len(last_batches))]


class LiveKeys:
    """Driver-side last-writer-wins state of every key, from the events."""

    def __init__(self):
        self.state: dict[tuple, tuple[int, str, str | None]] = {}

    def apply(self, pdf: pd.DataFrame) -> None:
        """``pdf``: repo, path, commit, lsn, op, sha (one row per event)."""
        for repo, path, commit, lsn, op, sha in pdf.sort_values("lsn").itertuples(index=False):
            key = (repo, path, commit)
            cur = self.state.get(key)
            if cur is None or lsn >= cur[0]:
                self.state[key] = (int(lsn), op, sha)

    def expected(self, keys: list[tuple]) -> list[tuple]:
        """One (key, lsn, sha) row per live key, sorted."""
        out = []
        for k in keys:
            cur = self.state.get(k)
            if cur is not None and cur[1] != "D":
                out.append((*k, cur[0], cur[2] or ""))
        return sorted(out)


def lookup_rows(rows) -> list[tuple]:
    """Returned rows as sorted (key, lsn, sha) tuples; a duplicate stays."""
    return sorted(
        (r["repo"], r["path"], r["commit"], int(r["lsn"]),
         hashlib.sha256(r["content"].encode()).hexdigest() if r["content"] is not None else "")
        for r in rows
    )


def query_matches(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    from tools.compare_oracle import canon, values_match

    return values_match(canon(got), canon(want))


def duckdb_views(tables_dir: str, names):
    import duckdb

    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables_dir, t)}.parquet'")
    return con
