"""Vector column expressions over ``array<float>`` embeddings.

Determinism contract: the dot product is a SEQUENTIAL left fold over
per-element double products — ``((0+p₁)+p₂)+…`` — which is a fixed IEEE
operation sequence, so the result is bit-identical run-to-run AND
engine-to-engine (the DuckDB oracle mirrors the same fold via
``list_reduce(list_prepend(0.0, …))``; validated over 12k pairs).
Cosine is rounded to 6 decimals as part of the operator contract:
thresholds and top-k orderings apply to the rounded value with id
tiebreaks, making results reproducible everywhere.

Unlike a shuffled SUM, an array fold has no partition-order
nondeterminism, so no decimal accumulation is needed — double folds
are ~5× cheaper inside (interpreted) higher-order functions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _products(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))


def dot_seq(a: Column, b: Column) -> Column:
    """Sequential double-fold dot product (the default: bit-portable
    AND fast)."""
    return F.aggregate(_products(a, b), F.lit(0.0), lambda acc, v: acc + v)


def norm_seq(a: Column) -> Column:
    return F.sqrt(dot_seq(a, a))


def cosine_seq(a: Column, b: Column, scale: int = 6) -> Column:
    """Cosine with inline norms — prefer precomputing norms once per
    vector (see operators/similarity.py) when scoring many pairs."""
    return F.round(dot_seq(a, b) / (norm_seq(a) * norm_seq(b)), scale)


def sql_dot(a: str, b: str) -> str:
    """DuckDB mirror of ``dot_seq``: identical fold order, including the
    0.0 seed (also neutralizes the -0.0 edge case)."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        f"z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (acc, v) -> acc + v)"
    )


def sql_norm(a: str) -> str:
    return f"sqrt({sql_dot(a, a)})"


# ------------------------------------------------------------ quantization


def quantize_embedding(vec: Column, bits: int = 8) -> Column:
    """Symmetric per-vector int8 quantization: struct(codes, scale).

    ``codes[i] = round(v[i] / scale)`` with ``scale = max(|v|) / 127``
    — the layout every large-scale ANN store uses to cut embedding
    bytes 4× (float32 -> int8) before index build.  Pure array
    expressions; scale is kept per-vector so outliers in one vector
    don't crush another's resolution.  ``bits`` ≤ 8 narrows the code
    range (e.g. 4-bit -> ±7) without changing the layout.
    """
    qmax = float(2 ** (bits - 1) - 1)
    absmax = F.aggregate(
        vec, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
    )
    scale = F.when(absmax > 0, absmax / F.lit(qmax)).otherwise(F.lit(1.0))
    codes = F.transform(
        vec, lambda v: F.round(v.cast("double") / scale).cast("tinyint")
    )
    return F.struct(codes.alias("codes"), scale.alias("scale"))


def dequantize_embedding(q: Column) -> Column:
    """Inverse of ``quantize_embedding``: array<double> reconstruction."""
    scale = q.getField("scale")
    return F.transform(q.getField("codes"), lambda c: c.cast("double") * scale)


def dot_quantized(qa: Column, qb: Column) -> Column:
    """Dot product directly on int8 codes: integer multiply-accumulate
    (exact in int64 — 127²·dim << 2⁶³) times the two scales.  At scale
    this is the cheap pre-ranking pass; exact re-scoring on float
    vectors touches only the top candidates."""
    acc = F.aggregate(
        F.zip_with(
            qa.getField("codes"),
            qb.getField("codes"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return acc.cast("double") * qa.getField("scale") * qb.getField("scale")
