"""Validation predicate builders (reference P3-P6, ``dags/main.py:185-228``).

All predicates are Column expressions evaluated JVM-side; invalid rows
are *dropped not repaired*, exactly like the reference (filter at
``dags/main.py:228``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoestate_etl_spark.functions.cleaning import (
    strip_to_decimal,
    strip_to_digits,
    strip_to_signed_decimal,
)

#: Format regexes used by the reference (dags/main.py:202-214).
YEAR_4DIGIT = r"^[0-9]{4}$"
DECIMAL_NUMBER = r"^[0-9]+(\.[0-9]+)?$"
INTEGER_NUMBER = r"^[0-9]+$"


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def not_blank(c: Column | str) -> Column:
    """P4: not-null AND not blank after trim (dags/main.py:185-194)."""
    col = _as_col(c)
    return col.isNotNull() & (F.trim(col) != "")


def castable(c: Column | str, dtype: T.DataType) -> Column:
    """P5: castability probe (main.py:196-216).

    Uses ``try_cast``, not ``cast``: under Spark 4's default ANSI mode
    a plain cast THROWS on malformed input, and whether a malformed
    value ever reaches the cast depends on predicate evaluation order,
    which Catalyst may change. ``try_cast`` is exactly the reference's
    (Spark 3.5 non-ANSI) cast-fail→null semantics, order-independent.
    """
    return _as_col(c).try_cast(dtype).isNotNull()


def matches_format(c: Column | str, pattern: str) -> Column:
    """P6: regex format check via ``rlike`` (dags/main.py:202-214).

    Null-safe: ``rlike`` on NULL yields NULL, which would silently drop
    the row from BOTH halves of a valid/invalid split (NULL and its
    negation both fail a filter). Coalesce to false so "no value" is
    deterministically invalid.
    """
    return F.coalesce(_as_col(c).rlike(pattern), F.lit(False))


def houses_valid_predicate(df: DataFrame) -> Column:
    """P3: the reference's conjunctive row filter (dags/main.py:218-228).

    Seven predicate groups AND-ed: required text fields non-blank;
    house_id int-castable; lat/lon double-castable (after signed-decimal
    strip); year 4-digit; square decimal-format + double-castable;
    population and communal_service_id integer-format + int-castable.
    Column cleaning is applied inline so the predicate works on the raw
    (all-string) frame.
    """
    from geoestate_etl_spark.schema import HOUSES_TEXT_REQUIRED

    year = strip_to_digits("maintenance_year")
    square = strip_to_decimal("square")
    population = strip_to_digits("population")
    csid = strip_to_digits("communal_service_id")
    lat = strip_to_signed_decimal("latitude")
    lon = strip_to_signed_decimal("longitude")

    # r10 (guide §1.2 per-task work): three of the format rlikes run on
    # DIGITS-ONLY strings (the strip_to_digits output contains nothing
    # but [0-9]), where the regex is provably a length predicate:
    #   rlike ^[0-9]+$   on digits-only  ⇔  length > 0
    #   rlike ^[0-9]{4}$ on digits-only  ⇔  length == 4
    # (NULL input → NULL strip → NULL length comparison, coalesced to
    # false exactly like matches_format did.) The square check keeps
    # its real regex — strip_to_decimal can leave multiple dots, which
    # no length test can express. Valid/invalid counts are pinned
    # byte-identical on the dirty fixture (tests/test_pipeline.py,
    # every dirty class per FIXTURES.md); measured −10% on the
    # validate aggregate at 330k rows, and it is a per-row cost that
    # grows with data.
    def _nullsafe(ok: Column) -> Column:
        return F.coalesce(ok, F.lit(False))

    pred = F.lit(True)
    for c in HOUSES_TEXT_REQUIRED:
        pred = pred & not_blank(c)
    pred = (
        pred
        & castable("house_id", T.IntegerType())
        & castable(lat, T.DoubleType())
        & castable(lon, T.DoubleType())
        & _nullsafe(F.length(year) == 4)
        & matches_format(square, DECIMAL_NUMBER)
        & castable(square, T.DoubleType())
        & _nullsafe(F.length(population) > 0)
        & castable(population, T.IntegerType())
        & _nullsafe(F.length(csid) > 0)
        & castable(csid, T.IntegerType())
    )
    return pred
