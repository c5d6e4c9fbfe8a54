"""Skew-mitigation operators — the explicit salting path for pipelines
that cannot rely on AQE's runtime skew handling (SCALE.md §Joins/Windows).

`salted_aggregate` is the deterministic two-phase aggregation: a hot
group key (one user with 10⁹ rows) otherwise lands on a single reducer;
salting splits it across `n_salt` partial groups, combines partials in a
second (tiny) shuffle. Only algebraic aggregates are offered — they are
exactly the ones whose partials merge losslessly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fn name → (phase-1 partial, phase-2 combiner)
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[str, str, str]],
    n_salt: int = 16,
) -> DataFrame:
    """Two-phase (salted) groupBy for skewed keys.

    aggs: list of (column, fn, alias) with fn ∈ {sum, count, min, max}.
    Phase 1 groups by (keys + salt) — the hot key's rows spread over
    n_salt reducers; phase 2 groups by keys alone over ≤ n_salt rows per
    key. `avg` is deliberately absent: express it as sum/count so the
    partial merge stays exact.

    The salt is `pmod(hash(all columns), n_salt)` — deterministic per
    row, uniform in expectation, no RNG (replayable).
    """
    for _, fn, _ in aggs:
        if fn not in _ALGEBRAIC:
            raise ValueError(f"non-algebraic aggregate {fn!r}; use sum/count pairs")
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salt))
    phase1 = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(
        *[_ALGEBRAIC[fn][0](c).alias(a) for c, fn, a in aggs]
    )
    return phase1.groupBy(*keys).agg(
        *[_ALGEBRAIC[fn][1](a).alias(a) for _, fn, a in aggs]
    )
