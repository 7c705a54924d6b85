"""Result checking: canonical row forms and a DuckDB view of the inputs.

Rows from Spark and from DuckDB are compared order-insensitively after
the canonicalization ``tools/check_contract.py`` uses (columns sorted by
name, floats rounded to 6 digits, timestamps as ISO strings).  Sums of
doubles whose summation order legitimately differs between engines (the
incremental view) compare with a relative tolerance instead.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import duckdb


def norm_val(v, ndigits: int = 6):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, ndigits)
        return 0.0 if r == 0 else r
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat()
    return v


def canon(rows, colnames) -> list[tuple]:
    idx = sorted(range(len(colnames)), key=lambda i: colnames[i].lower())
    out = [tuple(norm_val(r[i]) for i in idx) for r in rows]
    out.sort(key=repr)
    return out


def spark_canon(rows) -> list[tuple]:
    """Canonical form of a list of ``pyspark.sql.Row``."""
    if not rows:
        return []
    return canon([tuple(r) for r in rows], list(rows[0].__fields__))


def close_rows(a: list[tuple], b: list[tuple], rel: float = 1e-9) -> bool:
    """Equal canonical rows, floats within ``rel`` relative tolerance."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=rel, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def fingerprint(rows: list[tuple]) -> str:
    """Order-insensitive digest of canonical rows."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


class Oracle:
    """DuckDB connection with one view per generated parquet table."""

    def __init__(self, data_dir: str, temp_dir: str):
        self.con = duckdb.connect(config={"threads": 1,
                                          "temp_directory": temp_dir})
        for fname in sorted(os.listdir(data_dir)):
            if fname.endswith(".parquet"):
                path = os.path.join(data_dir, fname).replace("'", "''")
                self.con.execute(
                    f"CREATE VIEW {fname[:-8]} AS "
                    f"SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> list[tuple]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return canon(cur.fetchall(), cols)

    def execute(self, sql: str) -> int:
        """Run a statement; returns the affected row count for DML."""
        res = self.con.execute(sql).fetchall()
        return int(res[0][0]) if res and res[0] and \
            isinstance(res[0][0], int) else 0

    def close(self) -> None:
        self.con.close()
