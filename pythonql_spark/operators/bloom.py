"""Bloom-filter membership for corpus-scale decontamination.

`decontaminate` (operators/decontam.py) broadcasts the benchmark's
DISTINCT shingle strings — exact, but the broadcast grows with the
reference set.  The Bloom variant caps it: the reference is folded
into a FIXED-SIZE bit array (n_bits/8 bytes, e.g. 128 KB at 2^20
bits), and the probe side tests k bit positions per element in a
narrow, scan-fused JVM expression — no join, no shuffle, no UDF.
False-positive rate ~ (1 - e^(-k·n/m))^k; false negatives never.
This is the standard trade at 100 TB: a benchmark of hundreds of
millions of shingles becomes a broadcast measured in megabytes.

Build shape: one pass over the reference explodes each element's k
bit positions, one map-side-combined groupBy ORs per-word masks
(<= n_bits/64 rows), the tiny word table collects to the driver
(bounded by n_bits — the filter being small IS the contract) and
broadcasts back as a single array<bigint> row.

Oracle semantics: a Bloom bit is set iff its position appears in the
reference's position set, so membership == "all k positions ∈ the
set", which DuckDB runs as k IN-subqueries over the same md5-derived
positions — bit-identical verdicts with no bit arrays in SQL
(the dsir.py dual-dialect pattern: ``hash_fn="md5"`` is the
oracle-portable path, ``"xxhash64"`` the cheapest production path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import md5_prefix_int, ngram_list

from pythonql_spark.helpers import local_rows_df


def position_exprs(expr: str, k: int, n_bits: int,
                   dialect: str = "spark",
                   hash_fn: str = "md5") -> list[str]:
    """The k bit positions of ``expr`` as SQL strings.  md5 positions
    are identical in Spark and DuckDB; xxhash64 is Spark-only."""
    out = []
    for i in range(k):
        if hash_fn == "xxhash64":
            if dialect != "spark":
                raise ValueError("xxhash64 positions are Spark-only; "
                                 "use hash_fn='md5' for the oracle")
            out.append(f"pmod(xxhash64({expr}, {i}), {n_bits})")
            continue
        if dialect == "spark":
            s = f"concat('{i}:', cast({expr} as string))"
        else:
            s = f"'{i}:' || cast({expr} as varchar)"
        out.append(f"({md5_prefix_int(s, 15, dialect)} % {n_bits})")
    return out


def bloom_bits(df: DataFrame, expr: str, *, n_bits: int = 1 << 20,
               k: int = 5, hash_fn: str = "md5") -> list[int]:
    """Build the bit array: one distributed pass + a bounded driver
    collect of <= n_bits/64 longs (n_bits/8 bytes — 128 KB at the
    default; the whole point of a Bloom filter is that this stays
    fixed no matter how large the reference is)."""
    pos = position_exprs(expr, k, n_bits, "spark", hash_fn)
    words = (df.select(F.explode(F.expr(
                 "array(" + ", ".join(pos) + ")")).alias("p"))
             .distinct()
             .selectExpr("p div 64 as w", "cast(p % 64 as int) as b")
             .groupBy("w")
             .agg(F.expr("bit_or(shiftleft(cast(1 as bigint), b))")
                  .alias("m")))
    bits = [0] * ((n_bits + 63) // 64)
    for r in words.collect():
        bits[int(r["w"])] = int(r["m"])
    return bits


def bloom_bits_row(df: DataFrame, expr: str, *, n_bits: int = 1 << 20,
                   k: int = 5, hash_fn: str = "md5",
                   out_col: str = "__bloom") -> DataFrame:
    """The same bit array as :func:`bloom_bits`, built entirely IN
    Spark as a ONE-row ``array<bigint>`` frame — no driver collect.

    The blocking ``collect()`` in the list path serializes the whole
    reference-side computation into dedicated driver jobs before the
    downstream plan exists (measured: 3 jobs mid-pipeline on every
    decontaminate_bloom call).  Here the word table folds into the
    dense array inside the broadcast build, so the filter
    materializes as part of the probe plan.  The list path remains
    for callers that need driver-resident bits (streaming state)."""
    pos = position_exprs(expr, k, n_bits, "spark", hash_fn)
    n_words = (n_bits + 63) // 64
    words = (df.select(F.explode(F.expr(
                 "array(" + ", ".join(pos) + ")")).alias("p"))
             .distinct()
             .selectExpr("p div 64 as w", "cast(p % 64 as int) as b")
             .groupBy("w")
             .agg(F.expr("bit_or(shiftleft(cast(1 as bigint), b))")
                  .alias("m")))
    # dense-array construction walks the SORTED entry list once with
    # O(1) neighbor access (get): zeros fill each gap between
    # consecutive set words.  A map_from_entries + per-index lookup
    # form was measured 10x slower — Spark map lookup in expressions
    # is a linear scan, making that form O(n_words * entries).
    return (words.groupBy()
            .agg(F.array_sort(
                F.collect_list(F.struct("w", "m"))).alias("__e"))
            .selectExpr(f"""concat(
  flatten(transform(__e, (e, j) ->
    concat(array_repeat(cast(0 as bigint),
                        cast(e.w - coalesce(get(__e, j - 1).w, -1) - 1
                             as int)),
           array(e.m)))),
  array_repeat(cast(0 as bigint),
               cast({n_words - 1} - coalesce(get(__e, size(__e) - 1).w,
                                             -1) as int))) as {out_col}"""))


def bloom_hit_expr(expr: str, k: int, n_bits: int, *,
                   bits_col: str = "__bloom",
                   hash_fn: str = "md5") -> str:
    """Scan-fused membership test: all k bits set, UNROLLED into a
    plain AND chain.  A ``forall(array(...), p -> ...)`` lambda would
    evaluate each position only once, but higher-order functions run
    interpreted outside whole-stage codegen — measured 6.5× slower on
    the probe scan than this unrolled form, which inlines each
    position twice (div and mod) yet stays fully codegen'd.  Negative
    longs (bit 63) extract correctly because ``& 1`` ignores the
    arithmetic-shift sign fill."""
    pos = position_exprs(expr, k, n_bits, "spark", hash_fn)
    return "(" + " AND ".join(
        f"((shiftright(element_at({bits_col}, "
        f"cast(({p}) div 64 as int) + 1), "
        f"cast(({p}) % 64 as int)) & 1) = 1)"
        for p in pos) + ")"


def bloom_mark(probe: DataFrame, bits: list[int], expr: str, *,
               n_bits: int = 1 << 20, k: int = 5,
               hash_fn: str = "md5",
               out_col: str = "bloom_hit") -> DataFrame:
    """Add ``out_col``: whether ``expr`` is (probably) in the set the
    bits were built from.  The array rides a broadcast 1-row cross
    join — one copy per executor, never per task."""
    spark = probe.sparkSession
    row = local_rows_df(spark, [(bits,)], "__bloom array<bigint>")
    hit = bloom_hit_expr(expr, k, n_bits, hash_fn=hash_fn)
    return (probe.crossJoin(F.broadcast(row))
            .withColumn(out_col, F.expr(hit))
            .drop("__bloom"))


def decontaminate_bloom(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text", *,
                        ngram: int = 5, n_bits: int = 1 << 20,
                        k: int = 5,
                        hash_fn: str = "md5") -> DataFrame:
    """Bloom-filter benchmark decontamination: per corpus doc, count
    distinct shingles that (probably) appear in the benchmark.
    Returns ``(id_col, n_grams, n_maybe, contaminated)``; false
    positives inflate n_maybe by ~the filter's fp rate, false
    negatives cannot occur — the safe direction for decontamination
    (a contaminated doc is never missed)."""
    grams = ngram_list(text_col, ngram, "spark")
    row = bloom_bits_row(
        benchmark.select(F.explode(F.expr(grams)).alias("g")).distinct(),
        "g", n_bits=n_bits, k=k, hash_fn=hash_fn)
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(F.expr(f"array_distinct({grams})")).alias("g"))
    hit = bloom_hit_expr("g", k, n_bits, hash_fn=hash_fn)
    marked = (corpus_grams.crossJoin(F.broadcast(row))
              .withColumn("bloom_hit", F.expr(hit))
              .drop("__bloom"))
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.col("bloom_hit").cast("bigint")).alias("n_maybe"))
            .withColumn("contaminated", F.col("n_maybe") > 0))


def decontaminate_bloom_oracle_sql(*, corpus_where: str,
                                   benchmark_where: str,
                                   id_col: str = "doc_id",
                                   text_col: str = "text",
                                   ngram: int = 5,
                                   n_bits: int = 1 << 20,
                                   k: int = 5,
                                   table: str = "documents") -> str:
    """DuckDB mirror of :func:`decontaminate_bloom` (md5 path): a bit
    is set iff its position is in the reference position set, so the
    k-bit test is k IN-subqueries against that set."""
    grams = ngram_list(text_col, ngram, "duck")
    pos = position_exprs("g", k, n_bits, "duck", "md5")
    checks = " AND ".join(f"{p} IN (SELECT p FROM refpos)" for p in pos)
    return f"""
WITH bg AS (SELECT DISTINCT unnest({grams}) AS g
            FROM {table} WHERE {benchmark_where}),
refpos AS (SELECT DISTINCT unnest([{', '.join(
    position_exprs('g', k, n_bits, 'duck', 'md5'))}]) AS p FROM bg),
cg AS (SELECT {id_col}, unnest(list_distinct({grams})) AS g
       FROM {table} WHERE {corpus_where})
SELECT {id_col}, cast(count(*) as bigint) AS n_grams,
       cast(sum(cast(({checks}) as bigint)) as bigint) AS n_maybe,
       sum(cast(({checks}) as bigint)) > 0 AS contaminated
FROM cg GROUP BY {id_col}"""
