"""Registry-wide lint for the signed-zero percentile invariant
(SURVEY §7.5 r11 proposal 5, built the same round the class was
found, so the invariant is mechanical from the round it bit).

The r11 find: Spark's engine-internal exact `percentile` emits −0.0
where DuckDB's `quantile_cont` emits +0.0 when the interpolation lands
between a ±pair (grouped AND rolling forms, probe-measured). The fix
is `_util.pz` (+0.0 canonicalization) on every percentile-derived
output, mirrored `+ 0.0` in the oracle. This lint keeps the invariant
from regressing silently when a FUTURE op adds a percentile:

1. Any op whose Spark source calls exact `percentile(` (the
   interpolating aggregate; `approx_percentile` returns actual data
   elements and cannot CREATE a −0.0) must reference `pz`.
2. Any oracle occurrence of `quantile_cont(...)` — including a
   trailing `OVER (...)` window clause — must be followed by `+ 0.0`,
   UNLESS its argument starts with ABS( (a non-negative input cannot
   interpolate to −0.0; agg_mad_anomaly's mad_v).

A flagged op either wraps its output in pz/+0.0 or documents a new
exemption here with the reasoning.
"""

from __future__ import annotations

import inspect
import re

from tpc_di_etl_using_pyspark_spark.plans.registry import all_oracles, all_queries

_QUERIES = all_queries()
_ORACLES = all_oracles()


def _qc_occurrences(sql: str):
    """Yield (arg_text, tail_text) for each quantile_cont(...) in sql,
    where tail_text is what follows the closing paren (and any OVER
    (...) clause)."""
    for m in re.finditer(r"quantile_cont\(", sql):
        i, depth = m.end(), 1
        while i < len(sql) and depth:
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        arg = sql[m.end() : i - 1]
        rest = sql[i:]
        over = re.match(r"\s*OVER\s*\(", rest)
        if over:
            j, depth = over.end(), 1
            while j < len(rest) and depth:
                depth += {"(": 1, ")": -1}.get(rest[j], 0)
                j += 1
            rest = rest[j:]
        yield arg.strip(), rest


def test_spark_exact_percentile_is_pz_wrapped():
    bad = []
    for op, fn in _QUERIES.items():
        src = inspect.getsource(fn)
        if re.search(r"(?<!approx_)percentile\(", src) and "pz(" not in src:
            bad.append(op)
    assert not bad, (
        f"ops call exact percentile without _util.pz canonicalization "
        f"(−0.0 on ±pair interpolation, r11 class): {bad}"
    )


def test_oracle_quantile_cont_is_zero_canonicalized():
    bad = []
    for op, sql in _ORACLES.items():
        for arg, rest in _qc_occurrences(sql):
            if arg.upper().startswith("ABS("):
                continue  # non-negative input cannot interpolate to −0.0
            if not rest.lstrip().startswith("+ 0.0"):
                bad.append(op)
                break
    assert not bad, (
        f"oracle quantile_cont occurrences missing the mirrored '+ 0.0' "
        f"canonicalization: {bad}"
    )


def test_lint_actually_sees_the_five_fixed_ops():
    """Self-check: the lint's matchers cover the ops the class was
    fixed in — a regex drift that silently matched nothing would make
    both lints vacuously green."""
    spark_hits = {
        op
        for op, fn in _QUERIES.items()
        if re.search(r"(?<!approx_)percentile\(", inspect.getsource(fn))
    }
    oracle_hits = {
        op for op, sql in _ORACLES.items() if "quantile_cont(" in sql
    }
    expected = {
        "agg_percentile",
        "agg_median_mode",
        "agg_approx_percentile",
        "agg_mad_anomaly",
        "win_median_rolling",
    }
    assert expected <= spark_hits and expected <= oracle_hits
