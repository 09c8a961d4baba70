"""Index-quality evaluation queries: the measurements an operator of
the dedup/ANN pipelines runs to TUNE them (recall of the LSH probe,
calibration error of the MinHash estimator). Both reuse the engines'
deterministic md5-derived hash constructions, so DuckDB reproduces the
identical indexes and the comparison itself is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import dedup as D
from ..operators import similarity as S
from ..tables import load
from . import query
from .textops import _minhash_ctes
from .vectors import _DIM, _sql_bucket, _sql_cos

_NQ = 20  # eval query set: the 20 smallest vec_ids
_RK = 10  # recall@k


@query(
    "ann_recall_at_k",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv, bucket AS qb
          FROM b WHERE vec_id < {_NQ}),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, b.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_sql_cos("b.embedding", "q.qv")} DESC, b.vec_id ASC
               ) AS r
        FROM b, q WHERE b.vec_id != q.qid
      ) WHERE r <= {_RK}
    ),
    ann AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, b.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_sql_cos("b.embedding", "q.qv")} DESC, b.vec_id ASC
               ) AS r
        FROM b JOIN q ON b.bucket = q.qb
        WHERE b.vec_id != q.qid
      ) WHERE r <= {_RK}
    ),
    hits AS (
      SELECT e.qid, count(*) AS c
      FROM exact e JOIN ann a ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
    )
    SELECT q.qid, coalesce(hits.c, 0) AS n_hits,
           round(CAST(coalesce(hits.c, 0) AS DOUBLE) / {_RK}, 4) AS recall_at_k
    FROM q LEFT JOIN hits ON hits.qid = q.qid
    """,
    bench=True,
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH-bucket probe vs exact brute-force top-k over
    a bounded query set — the quality dial for the hyperplane count.
    See operators/similarity.ann_recall_at_k."""
    return S.ann_recall_at_k(
        load(spark, sf_dir, "embeddings"), n_queries=_NQ, k=_RK, dim=_DIM
    )


def _minhash_est_oracle() -> str:
    matches = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
        for i in range(D.MINHASH_K)
    )
    return f"""
    WITH {_minhash_ctes()},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.id_a, c.id_b,
             CAST({matches} AS DOUBLE) / {D.MINHASH_K} AS est
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT e.id_a, e.id_b, count(*) AS c
      FROM est e
      JOIN sh sa ON sa.doc_id = e.id_a
      JOIN sh sb ON sb.doc_id = e.id_b AND sb.shingle = sa.shingle
      GROUP BY e.id_a, e.id_b
    )
    SELECT e.id_a, e.id_b,
           round(e.est, 4) AS est_jaccard,
           round(CAST(coalesce(i.c, 0) AS DOUBLE)
                 / (za.n + zb.n - coalesce(i.c, 0)), 4) AS jaccard,
           round(abs(e.est - CAST(coalesce(i.c, 0) AS DOUBLE)
                 / (za.n + zb.n - coalesce(i.c, 0))), 4) AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sizes za ON za.doc_id = e.id_a
    JOIN sizes zb ON zb.doc_id = e.id_b
    """


@query("minhash_estimate_errors", oracle=_minhash_est_oracle(), bench=True)
def minhash_estimate_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate MinHash Jaccard estimate vs exact Jaccard — the
    k/banding calibration check. See operators/dedup.minhash_estimate_errors."""
    return D.minhash_estimate_errors(load(spark, sf_dir, "documents"))
