"""Learned quality classifier for corpus curation (the fastText-style
signal of DataComp/DCLM pipelines): a logistic model over hashed
bag-of-words buckets, trained driver-side on a bounded deterministic
sample against a pseudo-label (any boolean SQL expression — a Gopher
verdict, a domain flag, a reference-corpus membership), then scored
corpus-wide in ONE scan-fused JVM expression.

Scale shape mirrors bpe.py's bounded-train contract and bloom.py's
broadcast-array scoring:

* TRAIN — the sample is the ``sample_docs`` smallest md5(id) docs
  (deterministic across runs/partitionings), fetched via
  TakeOrderedAndProject + Arrow; features are hashed unigram counts
  (n_buckets buckets, md5 or xxhash64); full-batch gradient descent
  with fixed iterations and zero init, so the weights are a pure
  function of the corpus — reproducible anywhere.
* SCORE — the weight vector (n_buckets doubles, ~16 KB) rides a
  broadcast 1-row cross join; the per-doc logit is
  ``aggregate(words, ...)`` over ``element_at`` lookups — no join, no
  shuffle, no UDF, one pass.

The learned weights make the output rows-only (per-row ``checksum``
convention binds the values; gradient descent is not SQL), with the
hash path dual-dialect so units can cross-check feature extraction.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythonql_spark.helpers import local_rows_df

from .text import _ws, md5_prefix_int


def bucket_expr(var: str, n_buckets: int, dialect: str = "spark",
                hash_fn: str = "md5") -> str:
    """Feature bucket of a word (lambda variable ``var``)."""
    if hash_fn == "xxhash64":
        if dialect != "spark":
            raise ValueError("xxhash64 buckets are Spark-only")
        return f"pmod(xxhash64({var}), {n_buckets})"
    return f"({md5_prefix_int(var, 15, dialect)} % {n_buckets})"


def _words(col: str) -> str:
    # coalesce: NULL text must yield an empty word list, not a NULL
    # feature array (a None in the training sample would crash len())
    return f"split(trim(lower(coalesce({col}, ''))), '{_ws('spark')}')"


def train_quality_classifier(df: DataFrame, label_expr: str, *,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             n_buckets: int = 2048,
                             sample_docs: int = 2048,
                             iters: int = 80, lr: float = 0.5,
                             l2: float = 1e-4,
                             hash_fn: str = "md5") -> dict:
    """Returns ``{"weights": [float]*n_buckets, "bias": float, ...}``.

    Bounded driver contract: only ``sample_docs`` rows ever reach the
    driver (TakeOrderedAndProject on the deterministic id hash), each
    reduced to its bucket counts — the corpus itself never moves."""
    import numpy as np

    b = bucket_expr("w", n_buckets, "spark", hash_fn)
    # NULL labels are excluded BEFORE the deterministic sample cut —
    # one NaN in y would poison every weight through the first
    # gradient step (w -= lr * X.T @ (p - y)), silently NaN-ing all
    # corpus scores
    sample = (df.selectExpr(
                  f"md5(cast({id_col} as string)) as __o",
                  f"cast(({label_expr}) as int) as __y",
                  f"transform({_words(text_col)}, w -> {b}) as __f")
              .filter("__y IS NOT NULL")
              .orderBy("__o").limit(sample_docs)
              .select("__y", "__f").toPandas())
    X = np.zeros((len(sample), n_buckets))
    for i, buckets in enumerate(sample["__f"]):
        if buckets is not None and len(buckets):
            np.add.at(X[i], np.asarray(buckets, dtype=np.int64), 1.0)
            X[i] /= len(buckets)                       # tf normalize
    y = sample["__y"].to_numpy(dtype=np.float64)
    w = np.zeros(n_buckets)
    bias = 0.0
    n = max(len(y), 1)
    for _ in range(iters):                             # full-batch GD
        z = X @ w + bias
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (X.T @ g / n + l2 * w)
        bias -= lr * float(g.mean())
    return {"weights": [float(v) for v in w], "bias": float(bias),
            "n_buckets": n_buckets, "hash_fn": hash_fn,
            "n_train": int(n), "train_acc": float(((p > 0.5) == y).mean())}


def quality_score(df: DataFrame, model: dict, *,
                  text_col: str = "text",
                  out_col: str = "quality_logit") -> DataFrame:
    """Adds the raw logit (and ``<out_col>_prob``): mean bucket weight
    over the doc's words + bias, evaluated scan-fused via a broadcast
    weight array — the plan is a projection over the scan."""
    nb = model["n_buckets"]
    b = bucket_expr("w", nb, "spark", model["hash_fn"])
    spark = df.sparkSession
    wrow = local_rows_df(spark, [(model["weights"],)],
                         "__qw array<double>")
    ws = _words(text_col)
    logit = (f"aggregate({ws}, cast(0 as double), "
             f"(acc, w) -> acc + element_at(__qw, cast({b} as int) + 1)) "
             f"/ greatest(size({ws}), 1) + {model['bias']!r}")
    # evaluate the per-word aggregate ONCE (aggregate() is a
    # codegen-fallback higher-order fn; interpolating it into both
    # output expressions risks two full hashing passes per row)
    return (df.crossJoin(F.broadcast(wrow))
            .withColumn("__logit", F.expr(f"cast(({logit}) as double)"))
            .withColumn(out_col, F.expr(
                "cast(round(__logit, 6) as double)"))
            .withColumn(out_col + "_prob", F.expr(
                "cast(round(1.0 / (1.0 + exp(-__logit)), 6) as double)"))
            .drop("__qw", "__logit"))


def bow_features(df: DataFrame, *, text_col: str = "text",
                 id_col: str = "doc_id", n_buckets: int = 2048,
                 hash_fn: str = "md5") -> DataFrame:
    """(id, bucket, cnt, tf): the exact hashed-BoW features the
    classifier trains and scores on, as a value-oracle surface —
    bucket ids and tf normalization are pure SQL (dual-dialect md5
    bucket hash), so the feature pipeline is DuckDB-verifiable even
    though the trained weights (gradient descent) are not.  One
    explode + one (id, bucket) groupBy; the shuffle carries hashed
    bucket ids, never text."""
    b = bucket_expr("w", n_buckets, "spark", hash_fn)
    ws = _words(text_col)
    rows = df.selectExpr(
        f"{id_col}", f"size({ws}) as __nw",
        f"explode(transform({ws}, w -> {b})) as bucket")
    return (rows.groupBy(id_col, "bucket", "__nw")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .selectExpr(id_col, "bucket", "cnt",
                        "cast(round(cnt / cast(__nw as double), 6) "
                        "as double) as tf"))


def bow_features_oracle_sql(*, text_col: str = "text",
                            id_col: str = "doc_id",
                            n_buckets: int = 2048,
                            table: str = "documents") -> str:
    """DuckDB mirror of :func:`bow_features` (md5 path)."""
    b = bucket_expr("w", n_buckets, "duck")
    return f"""
WITH sp AS (
  SELECT {id_col},
         str_split_regex(trim(lower(coalesce({text_col}, ''))),
                         '{_ws('duck')}') AS ws
  FROM {table}),
w AS (
  SELECT {id_col}, len(ws) AS nw,
         unnest(list_transform(ws, w -> {b})) AS bucket
  FROM sp)
SELECT {id_col}, bucket, count(*) AS cnt,
       round(count(*) / cast(nw as double), 6) AS tf
FROM w GROUP BY {id_col}, bucket, nw"""


def classify_quality(df: DataFrame, label_expr: str, *,
                     text_col: str = "text", id_col: str = "doc_id",
                     n_buckets: int = 2048, sample_docs: int = 2048,
                     hash_fn: str = "md5", **train_kw) -> DataFrame:
    """train + score in one call (the registered-pipeline shape)."""
    model = train_quality_classifier(
        df, label_expr, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, sample_docs=sample_docs,
        hash_fn=hash_fn, **train_kw)
    return quality_score(df, model, text_col=text_col)




def classification_report(df: DataFrame, label_col: str,
                          pred_col: str) -> DataFrame:
    """Per-class precision / recall / F1 from (label, prediction)
    columns — the evaluation table for any labelling stage (a quality
    classifier against held-out labels, a language-ID heuristic
    against known languages).  Classes are the union of observed
    labels and predictions, so a class the model invents (or never
    predicts) still gets a row.

    All ratios are exact rationals of counts — F1 computes as
    ``2·tp / (n_pred + n_true)`` (algebraically 2PR/(P+R)) so no
    chained floating division — making the DuckDB oracle bit-exact
    without rounding tricks (6-dp rounding applied anyway for
    uniformity).

    Scale shape: ONE partial-aggregated groupBy on (label, pred) is
    the only corpus-sized work; everything after runs on at most
    |classes|² confusion cells.  The per-class totals derive from the
    confusion matrix by exploding each cell into its label-side and
    prediction-side contributions and re-grouping — NOT by
    re-aggregating the input three ways: the earlier three-branch
    full-outer-join form recomputed the corpus scan + (label, pred)
    shuffle once per branch (AQE reused only one of the three
    exchanges — the tp branch's pushed ``l = p`` filter makes its
    scan non-canonical), a 3× pass that matters when the pred column
    is an expensive expression over 100 TB.  A NULL label and a NULL
    pred now land in ONE NULL-class row (grouping semantics) rather
    than the two rows the NULL-unequal full-outer join produced."""
    cm = (df.groupBy(F.col(label_col).alias("__l"),
                     F.col(pred_col).alias("__p"))
          .agg(F.count(F.lit(1)).alias("__n")))
    tall = cm.selectExpr(
        "inline(array("
        "  struct(__l as class, __n as n_true,"
        "         cast(0 as bigint) as n_pred,"
        "         case when __l = __p then __n"
        "              else cast(0 as bigint) end as tp),"
        "  struct(__p as class, cast(0 as bigint) as n_true,"
        "         __n as n_pred, cast(0 as bigint) as tp)))")
    out = (tall.groupBy("class")
           .agg(F.sum("n_true").alias("n_true"),
                F.sum("n_pred").alias("n_pred"),
                F.sum("tp").alias("tp")))
    rat = (lambda num, den:
           F.round(F.when(F.col(den) > 0,
                          F.col(num).cast("double") / F.col(den))
                   .otherwise(F.lit(0.0)), 6))
    return (out.withColumn("precision", rat("tp", "n_pred"))
            .withColumn("recall", rat("tp", "n_true"))
            .withColumn("f1", F.round(F.when(
                F.col("n_pred") + F.col("n_true") > 0,
                2.0 * F.col("tp") / (F.col("n_pred") + F.col("n_true")))
                .otherwise(F.lit(0.0)), 6)))


def classification_report_oracle_sql(label_expr: str, pred_expr: str,
                                     table: str = "documents") -> str:
    """DuckDB mirror of :func:`classification_report` (the same
    explode-the-confusion-matrix form, as UNION ALL)."""
    return f"""
WITH cm AS (
  SELECT {label_expr} AS l, {pred_expr} AS p, count(*) AS n
  FROM {table} GROUP BY l, p),
tall AS (
  SELECT l AS class, n AS n_true, 0 AS n_pred,
         CASE WHEN l = p THEN n ELSE 0 END AS tp FROM cm
  UNION ALL
  SELECT p AS class, 0 AS n_true, n AS n_pred, 0 AS tp FROM cm),
base AS (
  SELECT class, cast(sum(n_true) as bigint) AS n_true,
         cast(sum(n_pred) as bigint) AS n_pred,
         cast(sum(tp) as bigint) AS tp
  FROM tall GROUP BY class)
SELECT class, n_true, n_pred, tp,
       round(CASE WHEN n_pred > 0
             THEN cast(tp as double) / n_pred ELSE 0.0 END, 6)
         AS precision,
       round(CASE WHEN n_true > 0
             THEN cast(tp as double) / n_true ELSE 0.0 END, 6)
         AS recall,
       round(CASE WHEN n_pred + n_true > 0
             THEN 2.0 * tp / (n_pred + n_true) ELSE 0.0 END, 6) AS f1
FROM base
"""


def calibration_report(df: DataFrame, prob_col: str, label_col: str,
                       nbins: int = 10) -> DataFrame:
    """Reliability diagram + ECE decomposition for a probabilistic
    scorer: bin predictions by confidence, compare each bin's mean
    predicted probability against its observed positive rate — the
    check that a quality/contamination score actually MEANS its value
    before it gates a corpus by threshold.

    Output, one row per non-empty bin: (bin, n, conf, acc, gap,
    w_gap) where ``conf`` = mean predicted prob, ``acc`` = positive
    fraction, ``gap`` = acc − conf and ``w_gap`` = (n/N)·|gap| — so
    ``sum(w_gap)`` is exactly the Expected Calibration Error.

    Engine-portability: ``conf`` sums 9-dp-rounded decimals
    (partial-agg-order independent); ``acc`` and weights are exact
    rationals of counts; all outputs round to 6 dp.

    Scale shape: ONE partial-aggregated groupBy on the bin id is the
    only corpus-sized work; the total-count join is a 1-row broadcast
    and everything else runs on ≤ nbins rows."""
    if nbins <= 0:
        raise ValueError("need nbins >= 1")
    bin_ = F.least(F.floor(F.col(prob_col) * nbins),
                   F.lit(nbins - 1)).cast("bigint")
    dec = f"cast(round({prob_col}, 9) as decimal(38,9))"
    per_bin = (df.groupBy(bin_.alias("bin"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.expr(dec)).alias("__ps"),
                    F.sum(F.expr(f"cast({label_col} as bigint)"))
                    .alias("__pos")))
    total = per_bin.agg(F.sum("n").alias("__N"))
    out = per_bin.join(F.broadcast(total))
    conf = F.col("__ps").cast("double") / F.col("n")
    acc = F.col("__pos").cast("double") / F.col("n")
    return (out.select(
        "bin", "n",
        F.round(conf, 6).alias("conf"),
        F.round(acc, 6).alias("acc"),
        F.round(acc - conf, 6).alias("gap"),
        F.round(F.abs(acc - conf) * F.col("n") / F.col("__N"), 6)
        .alias("w_gap")))


def calibration_report_oracle_sql(prob_expr: str, label_expr: str,
                                  nbins: int = 10, *,
                                  table: str = "documents") -> str:
    """DuckDB mirror of :func:`calibration_report`."""
    b = f"cast(least(floor(({prob_expr}) * {nbins}), {nbins - 1}) as bigint)"
    dec = f"cast(round({prob_expr}, 9) as decimal(38,9))"
    return f"""
WITH pb AS (
  SELECT {b} AS bin, count(*) AS n, sum({dec}) AS ps,
         sum(cast({label_expr} as bigint)) AS pos
  FROM {table} GROUP BY bin),
t AS (SELECT sum(n) AS ntot FROM pb)
SELECT bin, n,
       round(cast(ps as double) / n, 6) AS conf,
       round(cast(pos as double) / n, 6) AS acc,
       round(cast(pos as double) / n - cast(ps as double) / n, 6) AS gap,
       round(abs(cast(pos as double) / n - cast(ps as double) / n)
             * n / ntot, 6) AS w_gap
FROM pb, t"""


# ------------------------------- md5-weight oracle twin.  The trained
# classifier's weights come from gradient descent (not SQL), so
# quality_classify is rows-only; training itself is pinned by the
# bit-exact numpy parity test.  This twin runs the SAME scan-fused
# scoring plan (broadcast weight array + aggregate/element_at) under
# FIXED md5-derived weights, so the scoring surface gets a full
# dual-dialect value hash too (the ivf_topk_md5 pattern).

def md5_weights(n_buckets: int) -> list[float]:
    """w(j) = ((int(md5(str(j))[:8], 16) % 2001) − 1000) / 1000 — the
    same integers divide in both engines, so the doubles match."""
    import hashlib
    return [((int(hashlib.md5(str(j).encode()).hexdigest()[:8], 16)
              % 2001) - 1000) / 1000.0
            for j in range(n_buckets)]


def quality_score_md5(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id",
                      n_buckets: int = 256,
                      bias: float = -0.25) -> DataFrame:
    """(id, quality_logit, quality_prob) under fixed md5 weights —
    identical plan shape to :func:`quality_score`: one broadcast
    weight row, the per-doc logit is one ``aggregate()`` over
    ``element_at`` lookups fused into the scan; no join, no shuffle,
    no UDF."""
    model = {"weights": md5_weights(n_buckets), "bias": bias,
             "n_buckets": n_buckets, "hash_fn": "md5"}
    scored = quality_score(df, model, text_col=text_col,
                           out_col="quality_logit")
    return scored.select(
        id_col, "quality_logit",
        F.col("quality_logit_prob").alias("quality_prob"))


def quality_score_md5_oracle_sql(*, text_col: str = "text",
                                 id_col: str = "doc_id",
                                 n_buckets: int = 256,
                                 bias: float = -0.25,
                                 table: str = "documents") -> str:
    """DuckDB mirror of :func:`quality_score_md5` — the per-word
    weight is computed INLINE from the bucket id (no 256-double
    literal), mean-over-words + bias, 6-dp round (which absorbs the
    sum-order ULP difference exactly as the cosine oracles do)."""
    b = bucket_expr("w", n_buckets, "duck")
    wh = md5_prefix_int(f"cast({b} as varchar)", 8, "duck")
    wexpr = f"(({wh} % 2001) - 1000) / 1000.0"
    return f"""
WITH sp AS (
  SELECT {id_col},
         str_split_regex(trim(lower(coalesce({text_col}, ''))),
                         '{_ws('duck')}') AS ws
  FROM {table}),
per_word AS (
  SELECT {id_col}, len(ws) AS nw, unnest(list_transform(ws, w -> {wexpr})) AS wt
  FROM sp),
logits AS (
  SELECT {id_col}, sum(wt) / greatest(max(nw), 1) + {bias!r} AS logit
  FROM per_word GROUP BY {id_col})
SELECT {id_col},
       cast(round(logit, 6) as double) AS quality_logit,
       cast(round(1.0 / (1.0 + exp(-logit)), 6) as double) AS quality_prob
FROM logits"""
