"""Vector math as built-in array expressions — no UDFs.

The reference ships 768-dim description vectors to a FAISS index inside
one batch job (labs/deduplication/faiss_utils.py). Here the primitives
(dot, norm, cosine) are Catalyst expressions over ``array<float>``
columns, so similarity joins stay JVM-side and distribute like any other
join. Arrays are cast to double before accumulating: both engines then
run the same left-to-right double summation, keeping parity with DuckDB
oracles at rounded precision.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# DuckDB twins (operate on a list column cast to DOUBLE[]).
def sql_dot(a: str, b: str) -> str:
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def sql_norm(a: str) -> str:
    return f"sqrt(list_dot_product(({a})::DOUBLE[], ({a})::DOUBLE[]))"


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}))"
