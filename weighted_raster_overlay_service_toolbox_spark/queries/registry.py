"""Query registry plumbing + cross-engine determinism helpers.

Driver contract (repo ``__spark_entry__.py`` docstring): each named query
runs on Spark and, when an oracle is declared, the same-named DuckDB SQL runs
on identical parquet; row-count + schema + order-insensitive value hash must
match. The helpers below encode the conventions from SURVEY.md section 2.2
that keep those hashes stable across engines:

- every computed column is aliased identically on both sides;
- money/measure aggregates go through DECIMAL so the sum is *exact* in both
  engines (double summation order differs between Spark and DuckDB; decimal
  arithmetic does not), then ROUND(_, 2) and cast back to DOUBLE;
- every LIMIT carries a unique-key tiebreak.

A registration is also the one declaration of what a query needs in
order to run (``stage=``, ``trains=``): the runners in ``harness.py`` and
the tests read it from here instead of keeping their own maps.
"""

from __future__ import annotations

from collections.abc import Callable, MutableMapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
#: name -> the stream inputs the query reads, each ``(kind, variant,
#: kwargs)`` with ``kind`` a key of ``streaming.engine.STAGERS``.
STAGES: dict[str, tuple[tuple[str, str, dict], ...]] = {}
#: name -> the session training memo its declared work trains into.
TRAINS: dict[str, MutableMapping] = {}


def query(
    name: str,
    oracle: str | None = None,
    stage: tuple[tuple[str, str, dict], ...] = (),
    trains: MutableMapping | None = None,
):
    """Decorator: register ``fn`` as declared query ``name``.

    ``oracle`` is DuckDB SQL (tables pre-registered as views); ``None``
    means the driver records a weaker rows-only check (reserved for ops
    that are genuinely not SQL-expressible, per SURVEY.md section 2.2).

    ``stage`` declares a streaming query's staged inputs; the query and
    every runner get the dirs from :func:`staged_inputs`, so a runner can
    stage them outside a timed region. ``trains`` is the memo the
    query's declared work trains into; :func:`reset_training` clears it
    so a timing includes the training.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if stage:
            STAGES[name] = stage
        if trains is not None:
            TRAINS[name] = trains
        return fn

    return deco


def staged_inputs(spark: SparkSession, sf_dir: str, name: str) -> list[str]:
    """The staged dirs of ``name``'s declared stream inputs, in
    declaration order (content-addressed and reused, so a second call
    writes nothing); empty for a query that declares none."""
    from ..streaming.engine import STAGERS

    return [
        STAGERS[kind](spark, sf_dir, variant, **kwargs)
        for kind, variant, kwargs in STAGES.get(name, ())
    ]


def reset_training(name: str | None = None) -> None:
    """Clear the training memo ``name`` declares (every declared memo
    when ``name`` is None), so its next run trains again."""
    for memo in TRAINS.values() if name is None else [TRAINS.get(name, {})]:
        memo.clear()


# --- determinism helpers (Spark side) -------------------------------------

#: decimal type wide enough for any fixture measure; exact cross-engine sums.
DEC = "decimal(18,4)"


def money(col: str | Column) -> Column:
    """Cast a 2-decimal-place measure to exact decimal BEFORE arithmetic.

    Multiplying doubles and casting the *product* to decimal is not
    cross-engine stable (Spark rounds via the double's shortest string
    repr, DuckDB via its binary value); multiplying exact decimals is.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,2)")


#: TPC-H discounted price as exact decimal, the SQL-side twin of
#: ``disc_price()`` -- ONE definition so a precision change cannot
#: silently diverge between query modules.
DISC_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))"
)


def disc_price() -> Column:
    """``l_extendedprice * (1 - l_discount)`` as exact decimal(18,4);
    matches ``DISC_SQL`` bit-for-bit on DuckDB."""
    return (money("l_extendedprice") * (F.lit(1) - money("l_discount"))).cast(
        "decimal(18,4)"
    )


def dsum(col: str | Column, alias: str, scale: int = 2, cast: bool = True) -> Column:
    """Exact decimal sum -> round -> double. Matches oracle ``osum``.

    ``cast=False`` for expressions already in exact decimal form."""
    c = F.col(col) if isinstance(col, str) else col
    if cast:
        c = c.cast(DEC)
    return F.round(F.sum(c), scale).cast("double").alias(alias)


def davg(col: str | Column, alias: str, scale: int = 2) -> Column:
    """Exact decimal average -> round -> double. Matches oracle ``oavg``.

    sum(decimal)/count is decimal division with a fixed result scale in
    both engines; rounding to ``scale`` well inside that result scale makes
    the value identical.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.round(F.sum(c.cast(DEC)) / F.count(c), scale).cast("double").alias(alias)
    )


# --- determinism helpers (DuckDB oracle side) ------------------------------


def osum(expr: str, alias: str, scale: int = 2) -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(18,4))), {scale}) AS DOUBLE) AS {alias}"


def oavg(expr: str, alias: str, scale: int = 2) -> str:
    return (
        f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(18,4))) / COUNT({expr}), {scale}) "
        f"AS DOUBLE) AS {alias}"
    )
