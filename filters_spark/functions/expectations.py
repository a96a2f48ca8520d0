"""Table-level expectations: dataset-shaped checks beside the
row-shaped ``ValidationSchema``.

The reference library (``filters``, eflglobal) validates VALUES — a
chain per field, a mapper per record (``filters.FilterMapper``; see
SURVEY.md §2.5).  A production pipeline must also validate TABLES:
uniqueness of keys, referential closure against dimensions, accepted
value sets, null budgets, row-count envelopes.  This module is that
surface, kept deliberately Spark-first:

* Every expectation compiles to ONE aggregate (or one anti-join +
  aggregate for :func:`expect_foreign_key`) — no collects, no loops;
  Catalyst fuses same-table expectations that are unioned into a
  report into shared scans where possible, and at 100 TB each check
  is a single pass with map-side partials.
* An expectation RETURNS a 1-row DataFrame
  ``(expectation, passed, observed, threshold)`` — observed/threshold
  as exact BIGINT counts (gate-safe types, never doubles), so reports
  are unionable, writable, and oracle-checkable.
* :func:`report` unions any number of expectations into the audit
  frame a pipeline writes next to its output (the "data contract"
  artifact); ``passed`` aggregates with ``bool_and`` for a gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "expect_unique",
    "expect_non_null",
    "expect_values_in",
    "expect_range",
    "expect_foreign_key",
    "expect_row_count_between",
    "expect_freshness",
    "expect_distribution",
    "expect_schema",
    "observe_contract",
    "report",
]


def _row(df: DataFrame, name: str, violations: Column,
         threshold: int = 0) -> DataFrame:
    """One aggregate → (expectation, passed, observed, threshold)."""
    return df.agg(
        F.lit(name).alias("expectation"),
        (F.coalesce(violations, F.lit(0)) <= threshold).alias("passed"),
        F.coalesce(violations, F.lit(0)).cast("bigint").alias("observed"),
        F.lit(threshold).cast("bigint").alias("threshold"),
    )


def expect_unique(df: DataFrame, cols: list[str],
                  name: str | None = None) -> DataFrame:
    """No two rows share the same (cols) tuple.  observed = number of
    surplus rows (count − distinct count); NULL-bearing tuples count
    as equal (struct equality), matching SQL GROUP BY semantics."""
    n = name or f"unique({','.join(cols)})"
    # struct(...) is non-NULL even when every field is NULL, so
    # count_distinct sees every row and NULL-bearing tuples compare
    # by field equality — duplicates counted exactly
    key = F.struct(*[F.col(c) for c in cols])
    return _row(df, n, F.count(F.lit(1)) - F.count_distinct(key))


def expect_non_null(df: DataFrame, col: str, max_nulls: int = 0,
                    name: str | None = None) -> DataFrame:
    n = name or f"non_null({col})"
    return _row(df, n,
                F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)),
                max_nulls)


def expect_values_in(df: DataFrame, col: str, allowed: list,
                     name: str | None = None) -> DataFrame:
    """Every non-NULL value belongs to ``allowed`` (NULLs are
    :func:`expect_non_null`'s business, not this check's)."""
    n = name or f"values_in({col})"
    bad = F.when(F.col(col).isNotNull()
                 & ~F.col(col).isin(*allowed), 1).otherwise(0)
    return _row(df, n, F.sum(bad))


def expect_range(df: DataFrame, col: str, lo=None, hi=None,
                 name: str | None = None) -> DataFrame:
    """Every non-NULL value within [lo, hi] (either bound optional)."""
    n = name or f"range({col})"
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (F.col(col) < lo)
    if hi is not None:
        cond = cond | (F.col(col) > hi)
    bad = F.when(F.col(col).isNotNull() & cond, 1).otherwise(0)
    return _row(df, n, F.sum(bad))


def expect_foreign_key(df: DataFrame, key: str, dim: DataFrame,
                       dim_key: str, name: str | None = None,
                       broadcast_dim: bool = True) -> DataFrame:
    """Referential closure: every non-NULL ``key`` exists in
    ``dim.dim_key``.  One anti-join + one count; observed = orphan
    ROW count.  ``broadcast_dim`` (default) hints the dim's distinct
    keys broadcast — right for dimension tables; pass False for a
    fact-sized right side (a forced broadcast of a 100 TB key set is
    an OOM, not a hint) and let AQE pick the join strategy."""
    n = name or f"fk({key})"
    keys = dim.select(F.col(dim_key).alias(key)).distinct()
    if broadcast_dim:
        keys = F.broadcast(keys)
    orphans = df.where(F.col(key).isNotNull()).join(keys, key, "left_anti")
    return _row(orphans, n, F.count(F.lit(1)))


def expect_row_count_between(df: DataFrame, lo: int, hi: int,
                             name: str | None = None) -> DataFrame:
    """Row-count envelope — the cheap canary for a broken upstream
    filter or a double-applied backfill.  observed = actual row
    count; passed = lo <= observed <= hi (threshold column carries
    the upper bound)."""
    n = name or f"row_count[{lo},{hi}]"
    cnt = F.count(F.lit(1))
    return df.agg(
        F.lit(n).alias("expectation"),
        ((cnt >= lo) & (cnt <= hi)).alias("passed"),
        cnt.cast("bigint").alias("observed"),
        F.lit(hi).cast("bigint").alias("threshold"),
    )


def expect_freshness(df: DataFrame, ts_col: str, max_age_hours: int,
                     as_of, name: str | None = None) -> DataFrame:
    """The newest ``ts_col`` value is within ``max_age_hours`` of
    ``as_of`` — the stalled-ingest canary.  ``as_of`` is an EXPLICIT
    reference instant (a timestamp/date literal or Column): a
    wall-clock default would make the check unreproducible across
    reruns/engines (the prof_freshness discipline).  observed = age
    in hours (floor); an EMPTY table is infinitely stale and fails
    with observed = threshold + 1."""
    n = name or f"freshness({ts_col})"
    ref = F.lit(as_of).cast("timestamp") if not isinstance(as_of, Column) \
        else as_of.cast("timestamp")
    age_h = F.floor(
        (ref.cast("double") - F.max(ts_col).cast("timestamp")
         .cast("double")) / 3600).cast("bigint")
    return df.agg(
        F.lit(n).alias("expectation"),
        F.coalesce(age_h <= max_age_hours, F.lit(False)).alias("passed"),
        F.coalesce(age_h, F.lit(max_age_hours + 1)).cast("bigint")
        .alias("observed"),
        F.lit(max_age_hours).cast("bigint").alias("threshold"),
    )


def expect_distribution(df: DataFrame, col: str,
                        expected_shares: dict, tolerance: float = 0.05,
                        name: str | None = None) -> DataFrame:
    """The observed category mixture of ``col`` is within total-
    variation ``tolerance`` of ``expected_shares`` — the data-contract
    form of the drift monitor (a declared mixture, not a learned
    baseline).  Categories absent from the dict have expected share 0,
    so novel categories count at full weight.

    EXACT integer arithmetic throughout (the midpoint-rounding rule:
    no doubles in observed/threshold): shares are scaled to millionths
    and the comparison is Σ|n_c·10⁶ − p_c_micro·N| ≤ 2·tol_micro·N
    … i.e. observed = Σ|n_c·1e6 − p_micro·N| and threshold =
    2·tolerance_micro·N, both BIGINT (TV distance = observed /
    (2·N·1e6)).

    Category matching is canonicalized ONE way: the observed group
    key and the expected keys are both Spark's own ``cast('string')``
    of the NATIVE value (the expected dict keys ride into a tiny
    local frame typed as given and Spark casts them) — so bool
    columns, where Python's ``str()`` disagrees with Spark's cast
    ('True' vs 'true'), match instead of double-counting.  The keys
    share one plain type (bool, int, float, str or date; None is a
    NULL key); anything else raises ``TypeError``.

    Scale shape: a grouped count (map-side combine), a broadcast
    full-outer join against the |expected| + observed-categories
    keys, and two PLAIN aggregates — no global-partition window, so
    a high-cardinality column degrades to an ordinary aggregate
    instead of funneling every distinct category through one task."""
    import datetime

    from ..sources.tables import local_frame

    n = name or f"distribution({col})"
    spark = df.sparkSession
    tol_micro = int(round(tolerance * 1_000_000))
    exp_rows = [(k, int(round(v * 1_000_000)))
                for k, v in sorted(expected_shares.items(),
                                   key=lambda kv: str(kv[0]))]
    key_types = {bool: "boolean", int: "bigint", float: "double",
                 str: "string", datetime.date: "date"}
    kinds = {key_types.get(type(k)) for k, _p in exp_rows
             if k is not None}
    if None in kinds or len(kinds) > 1:
        raise TypeError(
            "expect_distribution: expected_shares keys must share one "
            "plain scalar type (bool, int, float, str or date), got "
            f"{sorted({type(k).__name__ for k in expected_shares})}")
    cat_type = kinds.pop() if kinds else "string"
    exp_df = (local_frame(spark, exp_rows,
                          f"_cat_native {cat_type}, _p bigint")
              .select(F.col("_cat_native").cast("string").alias("_cat"),
                      "_p"))
    per_cat = (df.groupBy(F.col(col).cast("string").alias("_cat"))
               .agg(F.count(F.lit(1)).alias("_n")))
    # observed-only categories have expected share 0 (novel values
    # count at full weight); expected-but-absent categories keep
    # their p_micro against a 0 count.  NULL observed values never
    # join an expected key (join on NULL is false) → novel category.
    # (An EMPTY table has N = 0 and trivially passes — pair with
    # expect_row_count_between.)
    merged = (per_cat.join(F.broadcast(exp_df), "_cat", "full_outer")
              .select(F.coalesce("_n", F.lit(0)).cast("bigint").alias("_n"),
                      F.coalesce("_p", F.lit(0)).cast("bigint").alias("_p")))
    # qualified aliases: `total` derives from `merged`, and a
    # crossJoin of a frame with its own aggregate leaves `_n`
    # ambiguous under self-join dedup unless references are
    # plan-qualified
    total = (merged.select(F.col("_n").alias("_tn"))
             .agg(F.sum("_tn").cast("bigint").alias("_N")))
    out = (merged.alias("m").crossJoin(F.broadcast(total).alias("t"))
           .agg(F.coalesce(
                    F.sum(F.abs(F.col("m._n") * F.lit(1_000_000)
                                - F.col("m._p") * F.col("t._N"))),
                    F.lit(0)).cast("bigint").alias("_obs"),
                F.coalesce(F.lit(2 * tol_micro) * F.max("t._N"),
                           F.lit(0)).cast("bigint").alias("_thr")))
    return out.select(
        F.lit(n).alias("expectation"),
        (F.col("_obs") <= F.col("_thr")).alias("passed"),
        F.col("_obs").alias("observed"),
        F.col("_thr").alias("threshold"),
    )


def report(*expectations: DataFrame) -> DataFrame:
    """Union expectation rows into one audit frame.  Each input is a
    1-row aggregate; the union is |expectations| rows — write it next
    to the data it audits, alert on ``bool_and(passed)``."""
    out = expectations[0]
    for e in expectations[1:]:
        out = out.unionByName(e)
    return out


def expect_schema(df: DataFrame, expected_ddl: str,
                  name: str | None = None,
                  allow_extra: bool = False) -> DataFrame:
    """The frame's schema matches a declared DDL contract
    (``"a bigint, b string"``) — the structural expectation beside
    the value-shaped ones: a silently-widened column or a dropped
    field fails the contract before any data check runs.

    Comparison is by (name, Spark simpleString type), order-
    insensitive (column order is a physical detail); with
    ``allow_extra`` the frame may carry additional columns (the
    passthrough pattern).  observed = number of mismatched /
    missing (+ unexpected, unless allowed) columns.  Pure
    driver-side metadata — ZERO jobs run, so it composes into
    :func:`report` for free (the one expectation that costs nothing
    at 100 TB)."""
    from pyspark.sql.types import StructType

    n = name or "schema"
    expected = {f.name: f.dataType.simpleString()
                for f in StructType.fromDDL(expected_ddl).fields}
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    bad = sum(1 for k, t in expected.items() if actual.get(k) != t)
    if not allow_extra:
        bad += sum(1 for k in actual if k not in expected)
    from ..sources.tables import local_frame

    return local_frame(
        df.sparkSession, [(n, bad == 0, bad, 0)],
        "expectation string, passed boolean, observed bigint, "
        "threshold bigint")


def observe_contract(df: DataFrame, checks: dict[str, Column],
                     name: str = "contract"):
    """SINGLE-PASS contract metrics: attach aggregate observations to
    the frame's OWN execution (``df.observe``) so the job that
    already scans the data also yields its metrics — at 100 TB the
    ``expect_*`` family's separate aggregate pass is a second full
    scan, while an observation rides the existing one for free
    (Spark evaluates it as accumulators inside the running tasks).

    Returns ``(observed_df, observation)``: run ANY action on
    ``observed_df`` (the write, the count — the pipeline's real
    action), then ``observation.get`` is the metrics dict.

    Contract: ``checks`` values must be aggregate expressions without
    DISTINCT or grouping (count/sum/min/max/conditional-count — the
    accumulator-expressible class; Spark rejects others at analysis).
    Metrics reflect EXACTLY the rows the action processed — if the
    action short-circuits (limit), so do the metrics; attach to the
    full-scan frame.  Streaming twin: the same ``df.observe(name,
    *exprs)`` form surfaces per-batch under
    ``StreamingQueryProgress.observedMetrics`` — the
    expectations_monitor composition covers that plane.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    out = df.observe(obs, *[c.alias(k) for k, c in checks.items()])
    return out, obs
