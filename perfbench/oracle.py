"""The DuckDB oracle comparison.

Results are compared with the order-insensitive value hash of the
engine's local oracle gate (``tools/check_oracle.py``): columns sorted
by name, rows rendered with canonical floats/timestamps, rows sorted,
then SHA-256 over the lines.
"""

from __future__ import annotations

import importlib.util
import os

_CHECK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "tools", "check_oracle.py")
_spec = importlib.util.spec_from_file_location("check_oracle", _CHECK)
_check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_check_oracle)
value_hash = _check_oracle.value_hash


class Oracle:
    """DuckDB views over one sf directory plus the registry's oracle SQL."""

    def __init__(self, sf_dir: str, table_names, oracle_sql: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in table_names:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        self.sql = oracle_sql

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when Spark's result matches the oracle, else the reason."""
        if name not in self.sql:
            return "no oracle SQL"
        res = self.con.execute(self.sql[name])
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        if sorted(cols) != sorted(d_cols):
            return f"columns {sorted(cols)} != {sorted(d_cols)}"
        if len(rows) != len(d_rows):
            return f"row count {len(rows)} != {len(d_rows)}"
        if value_hash(cols, rows) != value_hash(d_cols, d_rows):
            return "value hash mismatch"
        return None

    def close(self) -> None:
        self.con.close()
