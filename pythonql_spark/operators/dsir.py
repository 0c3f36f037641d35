"""DSIR-style importance weighting for training-data selection.

Data Selection with Importance Resampling (Xie et al., 2023, public):
score each raw document by the log-likelihood ratio of a TARGET
distribution vs the RAW distribution under a hashed bag-of-words model,
then resample raw docs with probability proportional to the importance
weight — the standard recipe for "make my 100 TB crawl look like
Wikipedia" corpus shaping.

Reference parity: pythonql has no such operator; this belongs to the
LLM-training-data extension set.

Scale shape
-----------
ONE explode of the raw corpus feeds everything:

* the raw and target hashed-bucket count tables are two groupBys on the
  bucket id — at most ``buckets`` (default 4096) rows each, map-side
  combined, so the shuffle carries bucket partials, never tokens;
* the per-bucket log-ratio table is tiny and BROADCAST back onto the
  same exploded tokens; the per-doc sum is one keyed aggregate.

Nothing corpus-sized is collected; token text never crosses a shuffle
(only 64-bit bucket ids and partial counts).

Determinism: buckets come from the dual-dialect md5 hash
(sampling.hash_bucket) and per-bucket log-ratios are rounded to
decimal(20,10) before the exact decimal per-doc sum — bit-identical
between Spark and the DuckDB oracle, at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythonql_spark.operators.sampling import hash_bucket, weighted_cut
from pythonql_spark.operators.text import words

DEFAULT_BUCKETS = 4096


def _lam_expr(buckets: int) -> str:
    """Smoothed per-bucket log-likelihood ratio (add-one over the
    bucket vocabulary), rounded so both engines sum identically."""
    return (f"cast(round("
            f"ln((cnt_t + 1.0) / (tot_t + {buckets})) - "
            f"ln((cnt_r + 1.0) / (tot_r + {buckets}))"
            f", 10) as decimal(20,10))")


def dsir_logweights(df: DataFrame, target_pred: str, *,
                    buckets: int = DEFAULT_BUCKETS,
                    id_col: str = "doc_id",
                    text_col: str = "text",
                    hash_fn: str = "md5") -> DataFrame:
    """Per-document DSIR importance log-weight.

    ``target_pred`` is a SQL boolean over the document row selecting
    the in-corpus target sample (e.g. ``"lang = 'en'"``); the raw
    distribution is the whole input.  Returns
    (id_col, n_tokens, logweight) for every document — positive means
    "more target-like than the corpus average".

    ``hash_fn``: "md5" (default) buckets with the dual-dialect md5
    hash so results are DuckDB-oracle-checkable bit-for-bit;
    "xxhash64" uses Spark's native 64-bit hash — ~3× less per-token
    CPU, the right choice for production runs that don't need
    cross-engine parity (weights differ only through bucket
    assignment; the estimator's quality is the same).
    """
    if hash_fn == "md5":
        b_expr = hash_bucket("tok", buckets=buckets)
    elif hash_fn == "xxhash64":
        b_expr = f"pmod(xxhash64(tok), {buckets})"
    else:
        raise ValueError(f"hash_fn must be md5|xxhash64, got {hash_fn!r}")
    toks = (df.selectExpr(
        id_col, f"cast(({target_pred}) as boolean) as __tgt",
        f"explode({words(f'lower({text_col})')}) as tok")
        .filter("tok != ''")
        .withColumn("b", F.expr(b_expr)))
    # explode once, use twice; under AQE the checkpoint runs any
    # shuffle stage in ``df`` at call time (sampling.global_index)
    toks = toks.localCheckpoint(eager=False)
    # raw and target bucket counts in ONE pass: the conditional count
    # replaces a second full traversal of the token stream plus the
    # raw⋈target left join (a bucket with no target rows counts 0
    # exactly as the old coalesce did)
    lam = (toks.groupBy("b")
           .agg(F.count(F.lit(1)).alias("cnt_r"),
                F.count_if("__tgt").alias("cnt_t"))
           .withColumn("tot_r", F.expr("sum(cnt_r) OVER ()"))
           .withColumn("tot_t", F.expr("sum(cnt_t) OVER ()"))
           .select("b", F.expr(_lam_expr(buckets)).alias("lam")))
    return (toks.join(F.broadcast(lam), "b")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.expr("cast(round(cast(sum(lam) as double), 6) "
                        "as double)").alias("logweight")))


def dsir_oracle_sql(target_pred: str, *,
                    buckets: int = DEFAULT_BUCKETS,
                    id_col: str = "doc_id", text_col: str = "text",
                    table: str = "documents") -> str:
    """DuckDB mirror of :func:`dsir_logweights` (same hash, smoothing
    and rounding)."""
    w = words(f"lower({text_col})", "duck")
    return f"""
WITH toks0 AS (
  SELECT {id_col}, ({target_pred}) AS __tgt, unnest({w}) AS tok
  FROM {table}),
toks AS (
  SELECT *, {hash_bucket('tok', 'duck', buckets)} AS b
  FROM toks0 WHERE tok <> ''),
raw AS (SELECT b, count(*) AS cnt_r FROM toks GROUP BY b),
tgt AS (SELECT b, count(*) AS cnt_t FROM toks WHERE __tgt GROUP BY b),
lam AS (
  SELECT b, {_lam_expr(buckets)} AS lam
  FROM (SELECT raw.b, cnt_r, coalesce(cnt_t, 0) AS cnt_t,
               sum(cnt_r) OVER () AS tot_r,
               sum(coalesce(cnt_t, 0)) OVER () AS tot_t
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b))
SELECT {id_col}, cast(count(*) as bigint) AS n_tokens,
       cast(round(cast(sum(lam) as double), 6) as double) AS logweight
FROM toks JOIN lam USING (b)
GROUP BY {id_col}"""


def dsir_resample(df: DataFrame, target_pred: str, rate: float, *,
                  buckets: int = DEFAULT_BUCKETS,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Deterministic DSIR resampling: keep each raw doc with
    probability min(1, rate * exp(logweight / n_tokens)) — the
    per-token-normalized importance weight, so long docs aren't
    auto-kept.  Reuses the engine-portable hash sampler
    (no ``rand()``), so reruns and engines agree bit-for-bit."""
    weights = (dsir_logweights(df, target_pred, buckets=buckets,
                               id_col=id_col, text_col=text_col)
               .select(id_col, F.col("n_tokens").alias("__dsir_n"),
                       F.col("logweight").alias("__dsir_lw")))
    # LEFT join + coalesce: a zero-token doc (empty/whitespace text)
    # has no weight row — it gets the neutral weight exp(0) = 1 and
    # the plain min(1, rate) keep probability instead of silently
    # vanishing from the corpus via an inner join
    cut = weighted_cut(
        "exp(coalesce(__dsir_lw / nullif(__dsir_n, 0), 0.0))", rate)
    out = (df.join(weights, id_col, "left")
           .withColumn("__dsir_n",
                       F.coalesce("__dsir_n", F.lit(0).cast("bigint")))
           .withColumn("__dsir_lw",
                       F.coalesce("__dsir_lw", F.lit(0.0)))
           .filter(F.expr(f"{hash_bucket(id_col)} < {cut}")))
    # surface each computed column under its own name unless the
    # input already carries it (e.g. scored by a prior LM pass) —
    # independently, so one pre-existing name never drops the other
    if "n_tokens" in df.columns:
        out = out.drop("__dsir_n")
    else:
        out = out.withColumnRenamed("__dsir_n", "n_tokens")
    if "logweight" in df.columns:
        out = out.drop("__dsir_lw")
    else:
        out = out.withColumnRenamed("__dsir_lw", "logweight")
    return out
