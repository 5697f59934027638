"""Correctness gate: every op's output against its DuckDB oracle.

Outputs are compared the way `tools/parity_sweep.py` does (and with its
`canon`): sorted column names, row count, and the order-insensitive
multiset of canonicalised rows. The gate runs off the clock.
"""

from __future__ import annotations

import duckdb

from tools.parity_sweep import TABLES, canon


def multiset(columns: list[str], rows) -> tuple[list[str], list[str]]:
    """(sorted lower-cased column names, sorted canonical row strings)
    from rows that are indexable by position in `columns` order."""
    order = sorted(range(len(columns)), key=lambda j: columns[j])
    return (
        sorted(c.lower() for c in columns),
        sorted(",".join(canon(r[j]) for j in order) for r in rows),
    )


class Oracle:
    """A DuckDB connection with the fixture views over one input dir."""

    def __init__(self, fixture_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")

    def expected(self, sql: str) -> tuple[list[str], list[str]]:
        res = self.con.sql(sql)
        return multiset(res.columns, res.fetchall())

    def landed(self, parquet_dir: str) -> tuple[list[str], list[str]]:
        """What a parquet sink wrote, read back by DuckDB."""
        res = self.con.sql(f"SELECT * FROM read_parquet('{parquet_dir}/*.parquet')")
        return multiset(res.columns, res.fetchall())

    def close(self) -> None:
        self.con.close()


def mismatch(got, want) -> str | None:
    """None when `got` equals `want`, else a one-line reason."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return f"columns {gcols} vs {wcols}"
    if len(grows) != len(wrows):
        return f"rows {len(grows)} vs {len(wrows)}"
    if grows != wrows:
        a, b = next((a, b) for a, b in zip(grows, wrows) if a != b)
        return f"value {a[:100]} vs {b[:100]}"
    return None


def corrupt(got):
    """A copy of an output with one value changed (or a row added when
    the output is empty): the gate's self-check feeds this through the
    same accounting as a real output and expects a failure."""
    cols, rows = got
    if not rows:
        return cols, ["\x00corrupt"]
    return cols, sorted(rows[1:] + [rows[0] + "|corrupt"])
