"""Answer checking: an order-insensitive, type-tagged hash of a result,
computed the same way for Spark's answer and DuckDB's oracle answer.

Both sides go through pandas (``toPandas`` / ``fetchdf``), the path on
which the registered oracles are known to agree with Spark. Ints,
floats (9 significant digits), strings, timestamps and arrays hash
differently, so equal hashes mean equal values of the same kind.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

from datagen import TABLES


def canon(v) -> str:
    """Type-tagged rendering of one cell."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return "a[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        try:
            v = v.item()
        except (ValueError, TypeError):
            pass
    if v is None:
        return "~"
    try:
        if v != v:  # NaN, NaT
            return "~"
    except (TypeError, ValueError):
        pass
    if isinstance(v, bool):
        return f"b{int(v)}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return f"f{'+' if v > 0 else '-'}inf" if math.isinf(v) else f"f{v:.9g}"
    if isinstance(v, bytes):
        return "x" + v.hex()
    if hasattr(v, "isoformat"):
        try:
            return "t" + v.isoformat(sep=" ")
        except TypeError:  # datetime.date
            return "t" + v.isoformat()
    return f"s{v}"


def answer(pdf) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, hash) of a pandas frame."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        "\x1f".join(canon(row[i]) for i in order)
        for row in pdf.itertuples(index=False, name=None)
    )
    digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return tuple(sorted(cols)), len(rows), digest


class Oracle:
    """DuckDB over the generated tables of one catalog directory; it
    spills, if at all, under ``$TMPDIR``."""

    def __init__(self, sf_dir: str, threads: int, tables=TABLES) -> None:
        import os

        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET memory_limit='1GB'")
        self.con.execute(f"SET threads={threads}")
        self.con.execute(f"SET temp_directory='{os.environ['TMPDIR']}/duckdb'")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def answer(self, sql: str):
        return answer(self.con.execute(sql).fetchdf())

    def close(self) -> None:
        self.con.close()
