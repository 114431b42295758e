"""Embedding projection / PCA whitening (extension layer): the
standard preprocessing in front of similarity search and semantic
dedup — center the embedding distribution, rotate onto principal
axes, equalize variance (whitening), optionally truncate to the top-k
components.  Retrieval stacks whiten before product quantization /
IVF because isotropic residuals make both the coarse quantizer and
the distance estimates better-behaved (Jégou et al.; SemDeDup trains
its clusters on normalized embeddings for the same reason).

Spark shape, two passes total:

- moments: ONE ``mapInPandas`` sweep computes per-Arrow-batch partial
  (n, Σx, ΣxxT) with numpy — a d + d² float payload per batch — and
  the driver reduces the ~num-partitions partial rows.  d is the
  embedding width (64 here): the statistic is O(d²) no matter how
  many vectors flow through, the classic mergeable-moments shape;
- eigendecomposition of the d×d covariance happens on the driver
  (numpy ``eigh`` — microseconds at these widths), giving the
  whitening matrix W = Λ^(-1/2)·Uᵀ;
- projection: ONE ``mapInPandas`` sweep applies (X − μ)·Wᵀ as a
  vectorized matmul per Arrow batch — no per-row Python, no shuffle.

Everything driver-held is O(d²); the corpus is never collected.
Float caveat: eigenvectors are LAPACK-derived, so projected values
are not cross-engine hash material — the registry verifies the
algebraic CONTRACT instead (whitened sample covariance ≈ I, mean ≈ 0,
exact row counts), the same integers+verdicts pattern every
transcendental-adjacent operator in this repo uses.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame


def embedding_moments(df: DataFrame, vec_col: str) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, mean, covariance) of the embedding column — one Arrow pass.

    Covariance is the population covariance E[xxᵀ] − μμᵀ."""

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy())
            yield pd.DataFrame(
                {
                    "n": [len(mat)],
                    "sx": [mat.sum(axis=0).tolist()],
                    "sxx": [(mat.T @ mat).ravel().tolist()],
                }
            )

    rows = (
        df.select(vec_col)
        .mapInPandas(partials, "n long, sx array<double>, sxx array<double>")
        .collect()
    )
    n = sum(r["n"] for r in rows)
    if n == 0:
        raise ValueError("empty embedding column")
    d = len(rows[0]["sx"])
    sx = np.zeros(d)
    sxx = np.zeros((d, d))
    for r in rows:
        sx += np.asarray(r["sx"])
        sxx += np.asarray(r["sxx"]).reshape(d, d)
    mean = sx / n
    cov = sxx / n - np.outer(mean, mean)
    return n, mean, cov


def whitening_matrix(
    cov: np.ndarray, k: int | None = None, eps: float = 1e-9
) -> np.ndarray:
    """PCA whitening transform W (k×d): rows are Λ^(-1/2)·Uᵀ for the
    top-k eigenpairs (descending variance).  ``eps`` floors tiny
    eigenvalues so degenerate directions don't blow up."""
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    if k is not None:
        vals, vecs = vals[:k], vecs[:, :k]
    return (vecs / np.sqrt(np.maximum(vals, eps))).T


def project_embeddings(
    df: DataFrame,
    vec_col: str,
    mean: np.ndarray,
    w: np.ndarray,
    out_col: str = "projected",
) -> DataFrame:
    """Apply y = W(x − μ) per row — one vectorized Arrow pass, no
    shuffle; all other columns pass through."""
    mu = mean.astype("float64")
    wt = w.astype("float64").T  # d×k
    cols = list(df.columns)

    def apply(batches):
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy())
            proj = (mat - mu) @ wt
            pdf = pdf.copy()
            pdf[out_col] = [row.tolist() for row in proj]
            yield pdf

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} array<double>"
    return df.mapInPandas(apply, out_schema).select(*cols, out_col)


def pca_whiten(
    df: DataFrame, vec_col: str, k: int | None = None, out_col: str = "whitened"
) -> tuple[DataFrame, dict]:
    """One-call fit+apply; returns (projected df, report).

    The report carries the fitted artifacts (n, mean, W, explained
    variance ratio) plus the post-hoc contract checks a caller can
    assert: after whitening the SAMPLE covariance of the projected
    column is the identity up to floating error (``max_offdiag``,
    ``diag_lo``/``diag_hi``) and the projected mean is ~0
    (``max_abs_mean``) — the verifiable algebra of the operator."""
    n, mean, cov = embedding_moments(df, vec_col)
    w = whitening_matrix(cov, k=k)
    out = project_embeddings(df, vec_col, mean, w, out_col=out_col)
    _, pmean, pcov = embedding_moments(out, out_col)
    off = pcov - np.diag(np.diag(pcov))
    vals = np.linalg.eigvalsh(cov)[::-1]
    kk = w.shape[0]
    report = {
        "n": n,
        "dim": int(cov.shape[0]),
        "k": int(kk),
        "mean": mean,
        "w": w,
        "explained_variance_ratio": float(vals[:kk].sum() / max(vals.sum(), 1e-300)),
        "max_abs_mean": float(np.abs(pmean).max()),
        "max_offdiag": float(np.abs(off).max()),
        "diag_lo": float(np.diag(pcov).min()),
        "diag_hi": float(np.diag(pcov).max()),
    }
    return out, report
