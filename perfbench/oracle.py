"""Result check: each gate's Spark output against its DuckDB twin.

Both sides go through the repository's own canonicalisation,
``tools/check_oracle.canon_hash``: equal ``(hash, columns, rows)`` triples
mean equal row multisets under the same column names.
"""

from __future__ import annotations

import os

from tools.check_oracle import canon_hash


class DuckTwin:
    """In-memory DuckDB over the fixture; spills only into ``tmp_dir``."""

    def __init__(self, data_dir: str, tables: tuple[str, ...], tmp_dir: str):
        import duckdb

        self._con = duckdb.connect()
        self._con.execute(f"SET temp_directory='{tmp_dir}'")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def expected_hash(self, sql: str) -> tuple:
        return canon_hash(self._con.execute(sql).fetchdf())

    def close(self) -> None:
        self._con.close()
