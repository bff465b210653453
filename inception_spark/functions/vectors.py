"""Vector math over ``array<float>`` columns — pure Catalyst expressions.

Used by the similarity-search and embedding-dedup operators.  Everything is
``F.aggregate``/``F.zip_with`` (JVM-side, codegen'd) — no UDF in the hot
path; the DuckDB twins use ``list_dot_product`` etc.  Double-precision
accumulation in deterministic (sequential) order, with results rounded
before any comparison so tiny engine-level summation differences can't
flip a hash (__spark_entry__ rounds at 6 decimals).

Scoring a column against a constant query goes through
``operators.similarity._cosine_to_query`` instead of :func:`cosine`: the
same ``aggregate``/``zip_with`` text parsed by one ``F.expr``, with the
query's norm computed once on the driver in this module's summation
order.  Building these higher-order functions from Python lambdas is
py4j-bound (median on a 4-core machine: 12 ms per :func:`dot` or
:func:`norm`, 33 ms per :func:`cosine`, against 0.8 ms for the parsed
expression), and Catalyst does not fold ``norm(q)``, so ``cosine(col,
q)`` would also recompute the query norm on every row.  Column-to-column
cosines keep :func:`cosine`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    # coalesce(product, 0): DuckDB's list_sum SKIPS NULL elements, so a
    # NULL element (or length-mismatch zip padding) must contribute 0 on
    # the Spark side too, or the engines' scores diverge on corrupt rows.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + F.coalesce(x, F.lit(0.0)),
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc
            + F.coalesce(x.cast("double") * x.cast("double"), F.lit(0.0)),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # NULL (not crash) on zero norms: this Spark build defaults to ANSI
    # mode where x/0 throws, while DuckDB returns NULL — guard to match.
    den = norm(a) * norm(b)
    return F.when(den != 0.0, dot(a, b) / den).otherwise(
        F.lit(None).cast("double")
    )


# --- DuckDB twins -----------------------------------------------------------

def dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def norm_sql(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"
