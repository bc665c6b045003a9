"""Vector math as pure Catalyst expressions — no UDFs in the hot path.

The reference scores cosine similarity inside Elasticsearch
(script_score `cosineSimilarity(params.query_vector, 'embedding') + 1.0`,
doc_pipeline/services/vector_storage.py:85-91). Here the same math is a
JVM-side higher-order-function expression over `array<float>` columns:
whole-stage-codegen'd, columnar, no Python in the loop.

Determinism: every element is cast to double before multiply/accumulate,
and accumulation is a left fold in array order (`aggregate`), so results
are bit-stable across runs and partitionings (per-row computation only).

Built from SQL text, parsed once. Each kernel writes its expression as
Spark SQL and returns a single `F.expr`, one py4j call. The Column DSL
builds the same Catalyst tree out of hundreds of calls: every
`F.lit`/`cast` is a round trip, and every Python lambda handed to
`transform`/`zip_with`/`aggregate` costs several more plus JVM class
lookups. Building one 64-dim query's scoring that way took ~105 ms for
the query literal (64 `lit().cast` calls plus `array`) and ~85 ms for
the cosine kernel (4-core host, sf0.1), more than the ~130 ms the
search job itself takes. From text, both cost under 1 ms; parsing and
analysing the select then cost ~30 ms. The optimized plans are
identical apart from lambda variable names, so results are too.

Operands are SQL text: a column name (a plain identifier) or an array
literal from `query_vector_lit`. A `Column` cannot be spliced into SQL
text, which is why the kernels take strings.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(transform({a}, x -> CAST(x AS DOUBLE)), "
        f"transform({b}, x -> CAST(x AS DOUBLE)), (x, y) -> x * y), "
        "0D, (acc, x) -> acc + x)"
    )


def dot(a: str, b: str) -> Column:
    """Dot product of two array operands, computed in double."""
    return F.expr(_dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(f"sqrt({_dot_sql(a, a)})")


def cosine_similarity(a: str, b: str) -> Column:
    """cosine(a, b) = a·b / (|a| |b|); callers round for oracle parity.

    Zero-norm inputs yield NULL, not NaN: Spark's NaN semantics
    (NaN >= x is true, NaN sorts above every double) would otherwise
    rank a zero vector as everyone's best match; NULL drops out of
    filters and sorts last under desc.
    """
    na, nb = f"sqrt({_dot_sql(a, a)})", f"sqrt({_dot_sql(b, b)})"
    return F.expr(
        f"CASE WHEN {na} > 0 AND {nb} > 0 THEN {_dot_sql(a, b)} / ({na} * {nb}) END"
    )


def signature_col(a: str, planes) -> Column:
    """Sign-bit signature string of vector `a` under the hyperplanes:
    '1' where the dot product is >= 0, else '0', in plane order."""
    bits = ", ".join(
        f"CASE WHEN {_dot_sql(a, query_vector_lit(p))} >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    return F.expr(f"concat({bits})")


def _double_sql(v: float) -> str:
    """A finite double as a SQL literal the parser reads fast and exactly.

    The digits and exponent of the shortest round-trip `repr`, written
    without a decimal point (`0.125` → `125E-3D`): the same decimal
    value, so the parser's correctly rounded conversion returns the
    same double, sign of zero included. Spark's lexer checks every
    decimal-point literal with a semantic predicate, which made a
    64-element `array(0.12…D, …)` take ~9 ms to parse; this spelling
    takes ~1 ms.
    """
    sign, digits, exp = Decimal(repr(v)).as_tuple()
    return f"{'-' if sign else ''}{''.join(map(str, digits))}E{exp}D"


def query_vector_lit(vec) -> str:
    """A python list of floats → SQL text of an array<double> literal.

    Used to inline a single query vector into the plan (the analog of
    ES `params.query_vector`). For batches of query vectors use a
    broadcast join instead (operators/similarity.py:knn_batch).

    Each element is the exact double `F.lit` would carry. NaN and ±inf
    have no SQL literal form and are refused.
    """
    vals = [float(x) for x in vec]
    bad = [v for v in vals if not math.isfinite(v)]
    if bad:
        raise ValueError(
            f"query_vector_lit: non-finite component {bad[0]!r} "
            f"({len(bad)} of {len(vals)})"
        )
    return "array(" + ", ".join(_double_sql(v) for v in vals) + ")"
