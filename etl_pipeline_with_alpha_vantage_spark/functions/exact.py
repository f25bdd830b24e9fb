"""Cross-engine value devices: exact sums, md5 hashes, text normalization.

Every query is verified against a DuckDB oracle with an
order-insensitive **value hash** (CORRECTNESS_r{N}.json), so a value is
only correct if both engines compute the same bits. Rule for operator
code:

* fixed-decimal scaling and exact sums go through :func:`cents`,
  :func:`dsum` and :func:`davg`;
* md5-derived integer hashes and uniforms go through :func:`md5_long`
  and :func:`md5_uniform`;
* text normalization goes through :func:`norm_text`.

Oracles keep their own SQL text; the ``sql_*`` twins here are for
oracles that want them.

Why scaled integers: a plain ``SUM(double)`` is not reproducible across
engines. Floating-point addition is non-associative, and Spark's
partial/final aggregation visits rows in a different order than DuckDB's,
so the low bits (and after enough rows, the printed decimals) diverge.
All numeric measure columns in the synthetic warehouse carry exactly two
decimal places (verified on sf0.01: ``x == round(x, 2)`` for every
measure), so we aggregate in "cents": ``bigint`` addition is exact and
associative, both engines produce the identical integer, and a final
``/ 100.0`` yields the identical double.

Overflow headroom: sum of cents at sf0.1 is ~2e11; bigint caps at 9.2e18,
so this is safe past sf=10,000 (~6e12 rows of lineitem). Products of two
cents columns (price × discount) scale by 1e4 and still clear 100 TB scale;
three-way products use 1e6 and are used only on filtered subsets.

Why md5: it is the one hash both engines define identically. A hex prefix
read as an integer (DuckDB: ``('0x' || substr(md5(s), 1, n))::BIGINT``)
gives a portable hash family keyed by a literal salt.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str, scale: int = 2) -> Column:
    """Exact scaled-integer representation of a fixed-decimal double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**scale)).cast("long")


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-insensitive exact SUM of a fixed-decimal double, as double."""
    return (F.sum(cents(col, scale)) / float(10**scale)).cast("double")


def davg(col: Column | str, scale: int = 2) -> Column:
    """Exact-sum AVG: integer sum, then one double division (reproducible)."""
    c = F.sum(cents(col, scale)).cast("double") / F.count(
        F.col(col) if isinstance(col, str) else col
    ).cast("double")
    return (c / float(10**scale)).cast("double")


def sql_cents(expr: str, scale: int = 2) -> str:
    """DuckDB-side twin of :func:`cents` (same rounding, same cast)."""
    return f"CAST(round(({expr}) * {10 ** scale}) AS BIGINT)"


def sql_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB-side twin of :func:`dsum`."""
    return f"CAST(SUM({sql_cents(expr, scale)}) / {float(10 ** scale)} AS DOUBLE)"


def sql_davg(expr: str, scale: int = 2) -> str:
    """DuckDB-side twin of :func:`davg`."""
    return (
        f"CAST(CAST(SUM({sql_cents(expr, scale)}) AS DOUBLE) / COUNT({expr})"
        f" / {float(10 ** scale)} AS DOUBLE)"
    )


def md5_long(*parts: Column | str, digits: int = 8) -> Column:
    """The first ``digits`` hex digits of md5 over ``parts``, as a long.

    A ``str`` part is a literal salt; a ``Column`` part is cast to string.
    More than 15 digits would overflow a signed long, which the non-ANSI
    cast turns into NULL, so that is rejected.
    """
    if not 1 <= digits <= 15:
        raise ValueError(f"md5_long digits must be in 1..15, got {digits}")
    cols = [F.lit(p) if isinstance(p, str) else p.cast("string") for p in parts]
    text = F.concat(*cols) if len(cols) > 1 else cols[0]
    return F.conv(F.substring(F.md5(text), 1, digits), 16, 10).cast("long")


def md5_uniform(*parts: Column | str) -> Column:
    """A uniform in (0, 1) from the 32-bit :func:`md5_long` of ``parts``."""
    return (md5_long(*parts) + 0.5) / 4294967296.0


def norm_text(col: Column | str = "text") -> Column:
    """Lowercase, map every char outside ``[a-z0-9 ]`` to a space, trim."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "))
