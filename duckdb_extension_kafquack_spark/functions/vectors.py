"""Vector kernels over ``array<float>`` embedding columns.

Pure Spark SQL higher-order functions (``zip_with`` + ``aggregate``) —
JVM-side, no Python round-trip, scale linearly with partition count.
Floats are cast to double *element-wise before* multiplication so Spark
and DuckDB (``list_dot_product`` on a DOUBLE[] cast) accumulate the same
left-to-right double sums.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
