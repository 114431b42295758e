"""Domain-discovery branches (extension layer): hashed-TF k-means
over ``documents``, served as 'domains' / 'domainsizes' branches of
the `text_term_frequency` slot (registry stays at the 50-entry cap —
COVERAGE.md slot policy).

Oracle parity: features are integer permille profiles (exact at any
parallelism), centroids are integer-sum/count IEEE divisions, d² is
the fixed-order L2 fold, and every argmin resolves min-d²-then-
min-label — the full clustering chain restates in SQL with no decimal
or float contract beyond one division per centroid cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo2mysql_spark.artifacts import artifact
from mongo2mysql_spark.operators.diversify import sql_l2sq
from mongo2mysql_spark.operators.dsir import sql_hashed_grams

DOM_BUCKETS = 32
DOM_K = 6
DOM_STRIDE = 83
DOM_ITERS = 1
DOM_SALT = "domains"


def domains_oracle_ctes() -> str:
    b = DOM_BUCKETS
    sums = ",\n             ".join(
        f"SUM(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS b{i}"
        for i in range(b)
    )
    tot = " + ".join(f"b{i}" for i in range(b))
    arr = ", ".join(f"CAST((b{i} * 1000) // __tot AS DOUBLE)" for i in range(b))
    ctes = [
        f"""dgrams AS MATERIALIZED (
      {sql_hashed_grams('documents', 'doc_id', 'text', DOM_BUCKETS, DOM_SALT)})""",
        f"""dcnt AS MATERIALIZED (
      SELECT id, {sums}
      FROM dgrams GROUP BY id)""",
        f"""dvec AS MATERIALIZED (
      SELECT id, [{arr}] AS vec
      FROM (SELECT *, ({tot}) AS __tot FROM dcnt)
      WHERE __tot > 0)""",
        f"""dcent0 AS MATERIALIZED (
      SELECT id AS cid, vec AS cvec FROM dvec
      WHERE id % {DOM_STRIDE} = 0 ORDER BY id LIMIT {DOM_K})""",
    ]
    prev_cent = "dcent0"
    rounds = DOM_ITERS + 1  # iters Lloyd rounds + the final assignment
    for r in range(1, rounds + 1):
        ctes.append(
            f"""da{r}d AS MATERIALIZED (
      SELECT v.id, s.cid, {sql_l2sq('v.vec', 's.cvec')} AS d2
      FROM dvec v, {prev_cent} s)"""
        )
        ctes.append(
            f"""da{r}m AS MATERIALIZED (
      SELECT id, min(d2) AS best FROM da{r}d GROUP BY id)"""
        )
        ctes.append(
            f"""da{r} AS MATERIALIZED (
      SELECT d.id, min(d.cid) AS domain, m.best AS d2
      FROM da{r}d d JOIN da{r}m m ON m.id = d.id AND d.d2 = m.best
      GROUP BY d.id, m.best)"""
        )
        if r < rounds:
            ctes.append(
                f"""dcell{r} AS MATERIALIZED (
      SELECT a.domain, p.pos,
             CAST(SUM(CAST(v.vec[p.pos + 1] AS BIGINT)) AS BIGINT) AS s,
             COUNT(*) AS c
      FROM da{r} a JOIN dvec v ON v.id = a.id
      CROSS JOIN range({b}) p(pos)
      GROUP BY a.domain, p.pos)"""
            )
            ctes.append(
                f"""dcent{r} AS MATERIALIZED (
      SELECT domain AS cid,
             list(CAST(s AS DOUBLE) / CAST(c AS DOUBLE) ORDER BY pos) AS cvec
      FROM dcell{r} GROUP BY domain)"""
            )
            prev_cent = f"dcent{r}"
    ctes.append(
        f"""ddomains AS MATERIALIZED (SELECT id, domain, d2 FROM da{rounds})"""
    )
    ctes.append(
        """dsizes AS MATERIALIZED (
      SELECT domain, COUNT(*) AS n_docs,
             CAST(COUNT(*) AS DOUBLE)
               / CAST((SELECT COUNT(*) FROM ddomains) AS DOUBLE) AS share
      FROM ddomains GROUP BY domain)"""
    )
    return ",\n    ".join(ctes)


def domains_branches(spark, sf_dir: str, d: DataFrame) -> dict[str, DataFrame]:
    """'domains' (per-doc assignment) and 'domainsizes' (mixing-stage
    shares) frames in the `text_term_frequency` union shape.  Built
    once per (application, sf_dir): a clustering is a write-once artifact
    (run once, read by every mixing stage), and the multi-round plan
    carries real driver-side analysis cost."""
    from mongo2mysql_spark.operators.domains import (
        discover_domains,
        domain_sizes,
    )

    def build() -> dict:
        assign = discover_domains(
            d, "doc_id", "text",
            n_buckets=DOM_BUCKETS, k=DOM_K, stride=DOM_STRIDE,
            iters=DOM_ITERS, salt=DOM_SALT,
        ).localCheckpoint()
        doms = assign.select(
            F.col("id").alias("doc_id"), "domain", "d2"
        )
        sizes = domain_sizes(assign).select(
            "domain", F.col("n_docs").alias("n"), "share"
        )
        return {"domains": doms, "domainsizes": sizes}

    return artifact("domains.assignment", spark, sf_dir, build)
