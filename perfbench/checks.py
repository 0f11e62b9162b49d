"""Output checks for the registry workload, run outside the timed region.

A query with a DuckDB oracle (`mnemo_spark.registry.ORACLE`) must
match the oracle's column names, row count and order-insensitive
values, after the same type-strict cell normalisation the repo's
oracle gate uses (floats to 9 significant digits, ints and bools
tagged, Decimals as floats). A rows-only query must hold true in
every self-check column it carries.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import Decimal

SELF_CHECK_COLS = ("valid", "roundtrip_ok", "ciphertext_differs")


def _norm_cell(v) -> str:
    if isinstance(v, bool):
        return "b:" + str(int(v))
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else "f:" + f"{v:.9g}"
    if isinstance(v, Decimal):
        return "f:" + f"{float(v):.9g}"
    if isinstance(v, int):
        return "i:" + str(v)
    return str(v)


def fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, sha256 of the sorted normalised rows), columns in
    name order so the two engines' column orders need not agree."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted(repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows)
    return len(normed), hashlib.sha256("\n".join(normed).encode()).hexdigest()


class OracleChecker:
    def __init__(self, sf_dir: str, table_names):
        import duckdb

        self.con = duckdb.connect()
        for t in table_names:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def check(self, cols: list[str], rows: list[tuple], oracle_sql: str | None) -> str | None:
        """None when the output is right, else why it is not."""
        cols = [c.lower() for c in cols]
        if oracle_sql is None:
            idx = [i for i, c in enumerate(cols) if c in SELF_CHECK_COLS]
            bad = sum(1 for r in rows if any(r[i] is not True for i in idx))
            return f"self-check column false on {bad} rows" if bad else None
        res = self.con.sql(oracle_sql)
        ocols = [c.lower() for c in res.columns]
        if any("HUGEINT" in str(t) for t in res.types):
            return "oracle returns a HUGEINT column"
        if sorted(cols) != sorted(ocols):
            return f"columns differ: spark={sorted(cols)} duckdb={sorted(ocols)}"
        s_n, s_fp = fingerprint(cols, rows)
        o_n, o_fp = fingerprint(ocols, res.fetchall())
        if s_n != o_n:
            return f"row count spark={s_n} duckdb={o_n}"
        if s_fp != o_fp:
            return "value fingerprint differs"
        return None
