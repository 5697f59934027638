"""Smoke check of the ``__spark_entry__`` contract: ``entry(spark)``
must return a non-empty result of at least two columns on the session
it is handed."""

from __future__ import annotations

import __spark_entry__ as E


def test_entry_returns_rows(spark):
    rows = E.entry(spark).collect()
    assert rows, "entry() returned no rows"
    assert len(rows[0]) >= 2, rows[0]
