"""Result correctness: each query's collected output against the DuckDB
oracle (``registry.oracle_sql()``) over the same parquet files.

Both sides are canonicalised with ``tools/check_oracle.canon_rows`` and
reduced to a digest, so a run record stores one short string per query and
two records can be compared without the rows.
"""

from __future__ import annotations

import hashlib

import duckdb

from databricks_observe_spark.operators import catalog_ops
from databricks_observe_spark.sources.tables import TABLE_NAMES
from tools.check_oracle import canon_rows


def digest(cols, rows) -> str:
    canon_cols, canon = canon_rows(list(cols), [tuple(r) for r in rows])
    return hashlib.sha256(repr((canon_cols, canon)).encode()).hexdigest()[:16]


class Oracle:
    """DuckDB views over one fixture directory, answering oracle SQL."""

    def __init__(self, data_dir: str, fixture_root: str):
        self._con = duckdb.connect()
        for name in TABLE_NAMES:
            self._con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'"
            )
        # the storage-metadata oracles stat files under a constant glob
        # (DuckDB table functions take no column arguments); point it at
        # the fixture this benchmark reads
        self._glob = (catalog_ops._FIXTURE_GLOB, f"{fixture_root}/*/*.parquet")

    def digest(self, sql: str) -> tuple[str, int]:
        tbl = self._con.execute(sql.replace(*self._glob)).arrow()
        rows = list(zip(*[c.to_pylist() for c in tbl.columns]))
        return digest(tbl.column_names, rows), len(rows)

    def close(self) -> None:
        self._con.close()


def check_results(collected: dict, oracle_sql: dict, oracle: Oracle) -> dict:
    """Verdict per query from ``collected[name] = (cols, rows)``.

    A query without oracle SQL is checked rows-only: it must have run.
    """
    out = {}
    for name, (cols, rows) in collected.items():
        got = digest(cols, rows)
        if name not in oracle_sql:
            out[name] = {"status": "rows-only", "rows": len(rows), "digest": got}
            continue
        want, n_want = oracle.digest(oracle_sql[name])
        status = "match" if got == want else "mismatch"
        out[name] = {
            "status": status, "rows": len(rows), "digest": got,
            "oracle_rows": n_want, "oracle_digest": want,
        }
    return out
