"""Mergeable cardinality sketches for incremental corpus profiling.

`profile.table_profile(approx=True)` answers "how many distinct X"
with one scan — but at 100 TB the corpus is append-only and rescanning
history for every report is the real cost.  HyperLogLog sketches fix
that: build a per-column sketch for each new partition/day (one scan
of the DELTA only), persist the few-KB binary, and merge sketches at
query time for any window's distinct count.  Spark ships the Apache
DataSketches HLL implementation as SQL aggregates
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``),
so everything here is JVM-side expressions — no UDFs.

Flow:
    day1 = distinct_sketch(batch1_df, ["user_id", "doc_id"])
    day2 = distinct_sketch(batch2_df, ["user_id", "doc_id"])
    both = merge_sketches(day1, day2)     # sketch algebra, no rescan
    sketch_estimates(both)                # column, n_distinct
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pythonql_spark.operators.text import md5_prefix_int

# log2 of HLL register count: 12 → ~1.6% relative standard error, 4KB
DEFAULT_LG_K = 12


def distinct_sketch(df: DataFrame, cols: list[str] | None = None,
                    lg_k: int = DEFAULT_LG_K) -> DataFrame:
    """One row per column: (column string, sketch binary).

    ONE scan builds every column's sketch (the aggregates share the
    pass); each sketch is a few KB regardless of input size, so the
    result is a driver-safe profiling artifact that can be persisted
    next to the data it summarizes."""
    cols = cols or df.columns
    row = df.agg(*[
        F.hll_sketch_agg(F.col(c).cast("string"), F.lit(lg_k)).alias(c)
        for c in cols])
    # long → tall: (column, sketch) so merges join by column name
    return row.select(F.explode(F.create_map(
        *[x for c in cols for x in (F.lit(c), F.col(c))]
    )).alias("column", "sketch"))


def merge_sketches(*sketches: DataFrame) -> DataFrame:
    """Union sketch tables by column name — pure sketch algebra
    (hll_union_agg), never touching the original data."""
    if not sketches:
        raise ValueError("need at least one sketch table")
    allof = sketches[0]
    for s in sketches[1:]:
        allof = allof.unionByName(s)
    return (allof.groupBy("column")
            .agg(F.hll_union_agg("sketch").alias("sketch")))


def sketch_estimates(sketch_df: DataFrame) -> DataFrame:
    """(column, n_distinct) from a sketch table."""
    return sketch_df.select(
        "column",
        F.hll_sketch_estimate("sketch").alias("n_distinct"))


# ------------------------------------------------- KLL quantile sketches

def quantile_sketch(df: DataFrame, cols: list[str],
                    keys: list[str] | None = None,
                    k: int = 200) -> DataFrame:
    """Mergeable KLL quantile sketches — the percentile counterpart of
    :func:`distinct_sketch`.  One scan builds a per-(key-group, column)
    DataSketches KLL sketch (``kll_sketch_agg_double``, JVM-side, a few
    KB each at k=200 with ~1.3% rank error); persist the binaries per
    ingest batch and answer "p95 over any window" by sketch algebra
    instead of rescanning history — the hypertable-rollup story
    (timeseries.incremental_rollup) extended to quantiles.

    Returns (``*keys``, column string, sketch binary)."""
    keys = keys or []
    row = (df.groupBy(*keys) if keys else df.groupBy()).agg(*[
        F.kll_sketch_agg_double(F.col(c).cast("double"), F.lit(k)).alias(c)
        for c in cols])
    return row.select(*keys, F.explode(F.create_map(
        *[x for c in cols for x in (F.lit(c), F.col(c))]
    )).alias("column", "sketch"))


def merge_quantile_sketches(*sketches: DataFrame,
                            keys: list[str] | None = None) -> DataFrame:
    """Union quantile-sketch tables by (keys, column) — pure sketch
    algebra (``kll_merge_agg_double``), never touching original data."""
    if not sketches:
        raise ValueError("need at least one sketch table")
    keys = keys or []
    allof = sketches[0]
    for s in sketches[1:]:
        allof = allof.unionByName(s)
    return (allof.groupBy(*keys, "column")
            .agg(F.kll_merge_agg_double("sketch").alias("sketch")))


def sketch_quantiles(sketch_df: DataFrame,
                     quantiles: list[float] = (0.5, 0.9, 0.99),
                     keys: list[str] | None = None) -> DataFrame:
    """(keys, column, n, q_50, q_90, ...) from a quantile-sketch
    table.  Column names use the percent (q_50 for 0.5) when that is
    unambiguous; quantiles that would collide at percent precision
    (0.999 → q_999 via digit concatenation, never q_100) fall back to
    the full digit string, and an outright duplicate raises."""
    keys = keys or []

    def qname(q: float) -> str:
        pct = f"q_{int(round(q * 100))}"
        digits = "q_" + f"{q:g}".replace("0.", "").replace(".", "_")
        return pct if abs(q * 100 - round(q * 100)) < 1e-9 else digits

    names = [qname(q) for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate quantile column names: {names}")
    return sketch_df.select(
        *keys, "column",
        F.kll_sketch_get_n_double("sketch").alias("n"),
        *[F.kll_sketch_get_quantile_double("sketch", F.lit(q))
          .alias(n_) for q, n_ in zip(quantiles, names)])


# ------------------------------------------------- Theta set sketches

def set_sketch(df: DataFrame, col: str, lg_k: int = 12) -> DataFrame:
    """One-row (sketch binary) Theta sketch of a column's distinct
    set.  Unlike HLL, Theta sketches support INTERSECTION and
    DIFFERENCE by sketch algebra — the corpus-versioning questions
    ("how many docs do crawl A and crawl B share", "how much of this
    delta is genuinely new") answered from few-KB artifacts instead of
    a distinct-join over 100 TB."""
    return df.agg(F.expr(
        f"theta_sketch_agg(cast({col} as string), {lg_k})").alias("sketch"))


def merge_set_sketches(*sketches: DataFrame) -> DataFrame:
    """Union one-row Theta sketch tables — pure sketch algebra."""
    if not sketches:
        raise ValueError("need at least one sketch table")
    allof = sketches[0]
    for s in sketches[1:]:
        allof = allof.unionByName(s)
    return allof.agg(F.expr("theta_union_agg(sketch)").alias("sketch"))


def sketch_overlap(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set-relationship estimates between two one-row Theta sketches
    (from :func:`set_sketch` / :func:`merge_set_sketches`):
    (n_a, n_b, n_union, n_intersection, n_only_a, jaccard).

    All algebra happens on the few-KB sketch binaries in ONE cross
    join of two 1-row frames — the original tables are never touched.
    """
    return (a.select(F.col("sketch").alias("sa"))
            .crossJoin(b.select(F.col("sketch").alias("sb")))
            .select(
                F.expr("cast(round(theta_sketch_estimate(sa)) as bigint)")
                .alias("n_a"),
                F.expr("cast(round(theta_sketch_estimate(sb)) as bigint)")
                .alias("n_b"),
                F.expr("cast(round(theta_sketch_estimate("
                       "theta_union(sa, sb))) as bigint)").alias("n_union"),
                F.expr("cast(round(theta_sketch_estimate("
                       "theta_intersection(sa, sb))) as bigint)")
                .alias("n_intersection"),
                F.expr("cast(round(theta_sketch_estimate("
                       "theta_difference(sa, sb))) as bigint)")
                .alias("n_only_a"))
            .withColumn("jaccard", F.expr(
                "cast(round(n_intersection / cast(greatest(n_union, 1) "
                "as double), 6) as double)")))


# ------------------------------- md5 full-oracle sketch siblings
#
# The DataSketches HLL/KLL binaries above are the production path,
# but their hash (a Murmur variant inside the JVM library) cannot be
# reproduced in an external SQL engine, so their registry keys are
# rows-only.  The two families below are the hash-checkable SIBLINGS:
# the identical distributed shape (one scan per delta, few-KB state,
# merge by pure algebra) built from md5 primitives that Spark SQL and
# DuckDB evaluate bit-identically — every register / every sampled
# value lands under the driver's full value-hash oracle.


HLL_P_BITS = 8           # 256 registers — ~6.5% RSE, 256 ints of state
_HLL_FIELD = 60 - HLL_P_BITS   # rho field: the hash bits below the bucket


def _hll_rho_sql(h: str, field_bits: int = _HLL_FIELD) -> str:
    """rho = leading zeros of the ``field_bits``-bit field + 1, exact
    integer arithmetic in both dialects: length(bin(x)) =
    floor(log2 x)+1.  ``field_bits`` must be 60 - p_bits so bucket
    and rho bits never overlap (a fixed 52 would bias registers the
    moment p_bits != 8)."""
    low = f"({h} % {1 << field_bits})"
    return (f"cast(case when {low} = 0 then {field_bits + 1} "
            f"else {field_bits + 1} - length(bin({low})) end as int)")


def hll_registers_md5(df: DataFrame, cols: list[str],
                      p_bits: int = HLL_P_BITS) -> DataFrame:
    """(col_name, bucket, register) md5-HLL register table — the
    hash-checkable sibling of :func:`distinct_sketch`.

    ONE scan computes every column's (bucket, rho) pairs — each row
    fans out to its |cols| structs through a single generate (a
    per-column union plans |cols| scans of the input: measured
    5.25 → 4.36 s/micro-batch in the streaming maintainer at 3
    columns; the rest of that fixed cost was the state write, fixed
    separately — see streaming.ingest._df_from_rows).  A null column
    value hashes to a null bucket and is filtered after the explode,
    preserving HLL's skip-nulls semantics per column.
    The partial max-aggregate collapses map-side, so the shuffle is at
    most ``len(cols) * 2^p_bits`` rows no matter the input size — the
    same few-KB-state bound as the DataSketches path.  The register
    table IS the sketch: merge any two with :func:`merge_md5_registers`
    (pure max algebra, idempotent — re-merging a subset is a no-op,
    which is what makes the streaming maintainer replay-safe)."""
    shift = 60 - p_bits
    entries = []
    for c in cols:
        h = md5_prefix_int(f"cast({c} as string)", 15, "spark")
        entries.append(
            f"named_struct('col_name', '{c}', "
            f"'bucket', cast(shiftright({h}, {shift}) as int), "
            f"'rho', {_hll_rho_sql(h, shift)})")
    return (df.select(F.expr(
        f"explode(array({', '.join(entries)}))").alias("x"))
        .filter(F.col("x.bucket").isNotNull())
        .groupBy(F.col("x.col_name").alias("col_name"),
                 F.col("x.bucket").alias("bucket"))
        .agg(F.max("x.rho").alias("register")))


def merge_md5_registers(*tables: DataFrame) -> DataFrame:
    """Union md5-HLL register tables by (col_name, bucket) — pure max
    algebra, never touching the original data."""
    if not tables:
        raise ValueError("need at least one register table")
    allof = tables[0]
    for t in tables[1:]:
        allof = allof.unionByName(t)
    return (allof.groupBy("col_name", "bucket")
            .agg(F.max("register").alias("register")))


def hll_estimate_md5(registers: DataFrame,
                     p_bits: int = HLL_P_BITS) -> DataFrame:
    """(col_name, n_distinct) HLL estimate from an md5 register table.

    The harmonic sum is accumulated as exact integers
    (sum of 2^(53-register), max 256 * 2^52 < 2^63) so the estimate is
    a deterministic function of the registers — absent buckets count
    as register 0 via the (m - buckets_seen) correction term.  The
    standard small-range correction applies: when the raw estimate is
    under 2.5m and empty registers remain, linear counting
    m * ln(m / empty) is the better estimator (raw HLL overshoots
    badly at tiny cardinalities — a 5-language column would read as
    ~190 without it)."""
    m = 1 << p_bits
    alpha = 0.7213 / (1 + 1.079 / m)   # standard HLL alpha for m >= 128
    field = 60 - p_bits
    # integer-scaled 2^-rho sum: every bucket contributes
    # 2^(field+1-register) <= 2^field, and m * 2^(field+1) == 2^61
    # for ANY p_bits, so the bigint accumulator cannot overflow
    top = 1 << (field + 1)
    raw = (f"{alpha} * {m} * {m} * {top} / "
           f"(__s + ({m} - __b) * cast({top} as bigint))")
    return (registers.groupBy("col_name")
            .agg(F.sum(F.expr(
                f"shiftleft(cast(1 as bigint), {field + 1} - register)"
            )).alias("__s"), F.count("*").alias("__b"))
            .selectExpr(
                "col_name",
                f"cast(round(case when {raw} <= 2.5 * {m} and __b < {m} "
                f"then {m} * ln({m} / cast({m} - __b as double)) "
                f"else {raw} end) as bigint) as n_distinct"))


def hll_registers_md5_sql(table: str, cols: list[str],
                          p_bits: int = HLL_P_BITS,
                          where: str = "true") -> str:
    """DuckDB mirror of :func:`hll_registers_md5` (same register
    values bit-for-bit)."""
    shift = 60 - p_bits
    vals = "\nUNION ALL ".join(
        f"SELECT '{c}' AS col_name, cast({c} as varchar) AS v "
        f"FROM {table} WHERE ({where}) AND {c} IS NOT NULL"
        for c in cols)
    h = md5_prefix_int("v", 15, "duck")
    return f"""
WITH vals AS ({vals}),
hashed AS (SELECT col_name, cast({h} >> {shift} as int) AS bucket,
                  {_hll_rho_sql(h, shift)} AS rho
           FROM vals)
SELECT col_name, bucket, cast(max(rho) as int) AS register
FROM hashed GROUP BY col_name, bucket
"""


# ---------------------- bottom-k md5 sample quantiles (full oracle)

def bottomk_sample_md5(df: DataFrame, key: str, id_col: str,
                       k: int) -> DataFrame:
    """Keep the k rows with the smallest md5(id) per key group — a
    deterministic, MERGEABLE uniform sample (the bottom-k sketch):
    bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)), and
    re-absorbing a replayed subset is a no-op.  Spark plans this as a
    WindowGroupLimit: each map task ships at most k rows per group."""
    w = Window.partitionBy(key).orderBy("__h", id_col)
    h = md5_prefix_int(f"cast({id_col} as string)", 15, "spark")
    return (df.withColumn("__h", F.expr(h))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn"))


def sample_quantiles_md5(df: DataFrame, value_col: str, key: str,
                         id_col: str, *, k: int = 256,
                         quantiles: tuple = (0.5, 0.9, 0.99),
                         split: str | None = None) -> DataFrame:
    """(key, n_sample, q_50, q_90, ...) — quantiles by exact rank
    selection over a deterministic bottom-k md5 sample: the
    hash-checkable sibling of :func:`quantile_sketch`.

    Values are SELECTED, never arithmetically combined, so doubles
    hash identically across engines.  ``split`` (an integer-column
    predicate pair like ``event_id % 2``) routes the input through two
    independent bottom-k sketches merged by a second bottom-k — the
    mergeability proof runs inside the oracled plan itself."""
    if split is not None:
        halves = [bottomk_sample_md5(df.filter(f"{split} = {i}"),
                                     key, id_col, k) for i in (0, 1)]
        samp = (halves[0].unionByName(halves[1])
                .withColumn("__rn", F.row_number().over(
                    Window.partitionBy(key).orderBy("__h", id_col)))
                .filter(F.col("__rn") <= k).drop("__rn"))
    else:
        samp = bottomk_sample_md5(df, key, id_col, k)
    wv = Window.partitionBy(key).orderBy(value_col, id_col)
    wall = Window.partitionBy(key)
    ranked = (samp.withColumn("__vr", F.row_number().over(wv))
              .withColumn("__n", F.count("*").over(wall)))
    aggs = [F.max("__n").alias("n_sample")]
    for p in quantiles:
        name = f"q_{int(round(p * 100))}"
        aggs.append(F.max(F.when(
            F.col("__vr") == F.expr(f"cast(floor({p} * (__n - 1)) "
                                    "as bigint) + 1"),
            F.col(value_col))).alias(name))
    return ranked.groupBy(key).agg(*aggs)


def sample_quantiles_md5_sql(table: str, value_col: str, key: str,
                             id_col: str, *, k: int = 256,
                             quantiles: tuple = (0.5, 0.9, 0.99),
                             split: str | None = None) -> str:
    """DuckDB mirror of :func:`sample_quantiles_md5`."""
    h = md5_prefix_int(f"cast({id_col} as varchar)", 15, "duck")
    if split is not None:
        halves = "\nUNION ALL ".join(f"""
SELECT * FROM (
  SELECT {key}, {id_col}, {value_col}, {h} AS __h,
         row_number() OVER (PARTITION BY {key}
                            ORDER BY {h}, {id_col}) AS __rn
  FROM {table} WHERE {split} = {i}) WHERE __rn <= {k}""" for i in (0, 1))
        base = f"""
WITH halves AS ({halves}),
samp AS (SELECT * FROM (
  SELECT {key}, {id_col}, {value_col},
         row_number() OVER (PARTITION BY {key}
                            ORDER BY __h, {id_col}) AS __rn2
  FROM halves) WHERE __rn2 <= {k})"""
    else:
        base = f"""
WITH samp AS (SELECT * FROM (
  SELECT {key}, {id_col}, {value_col},
         row_number() OVER (PARTITION BY {key}
                            ORDER BY {h}, {id_col}) AS __rn
  FROM {table}) WHERE __rn <= {k})"""
    picks = ",\n       ".join(
        f"max(CASE WHEN __vr = cast(floor({p} * (__n - 1)) as bigint) + 1 "
        f"THEN {value_col} END) AS q_{int(round(p * 100))}"
        for p in quantiles)
    return f"""{base},
ranked AS (SELECT {key}, {value_col},
                  row_number() OVER (PARTITION BY {key}
                                     ORDER BY {value_col}, {id_col}) AS __vr,
                  count(*) OVER (PARTITION BY {key}) AS __n
           FROM samp)
SELECT {key}, max(__n) AS n_sample,
       {picks}
FROM ranked GROUP BY {key}
"""

# ------------------------- Count-Min frequency sketch (full oracle)

CMS_DEPTH = 3
CMS_WIDTH = 128


def _cms_slots(col: str, depth: int, width: int, dialect: str) -> list:
    """Per-depth slot expressions: md5 of the salted value mod width.
    The salt rides inside the hashed string, so each depth row is an
    independent hash function in both dialects."""
    cast_t = "string" if dialect == "spark" else "varchar"
    out = []
    for d in range(depth):
        h = md5_prefix_int(f"concat('cms{d}:', cast({col} as {cast_t}))",
                           15, dialect)
        out.append(f"cast({h} % {width} as int)")
    return out


def cms_counters_md5(df: DataFrame, col: str, *,
                     depth: int = CMS_DEPTH,
                     width: int = CMS_WIDTH) -> DataFrame:
    """(d, slot, counter) Count-Min sketch of a column's frequencies —
    the FREQUENCY member of the sketch toolkit (HLL answers distinct,
    KLL quantiles, Theta set algebra; CMS answers "how often does X
    appear" and heavy-hitters from depth*width ints of state).

    Count-Min is chosen over Misra-Gries because its counters are a
    pure SUM over rows — order- and partition-independent, hence
    deterministic, mergeable by element-wise addition, and exactly
    reproducible in an external SQL engine (Misra-Gries evictions
    depend on arrival order).  One scan fans each value out to its
    ``depth`` md5 slots (a generate, not extra scans); the partial
    sum collapses map-side so the shuffle is at most depth*width rows
    no matter the input size."""
    slots = _cms_slots(col, depth, width, "spark")
    rows = ", ".join(
        f"named_struct('d', {d}, 'slot', {s})"
        for d, s in enumerate(slots))
    return (df.filter(F.col(col).isNotNull())
            .select(F.expr(f"explode(array({rows}))").alias("x"))
            .groupBy(F.col("x.d").alias("d"),
                     F.col("x.slot").alias("slot"))
            .agg(F.count("*").alias("counter")))


def cms_merge(*tables: DataFrame) -> DataFrame:
    """Element-wise sum of CMS counter tables — the sketch algebra
    for combining per-delta sketches.  Sum is a semigroup but NOT
    idempotent, so unlike the HLL register max a streaming maintainer
    must land per-batch tables and merge at read time (dynamic
    partition overwrite makes a replayed batch rewrite itself instead
    of double-counting)."""
    if not tables:
        raise ValueError("need at least one counter table")
    allof = tables[0]
    for t in tables[1:]:
        allof = allof.unionByName(t)
    return (allof.groupBy("d", "slot")
            .agg(F.sum("counter").alias("counter")))


def cms_estimate(counters: DataFrame, probes: DataFrame, col: str, *,
                 depth: int = CMS_DEPTH,
                 width: int = CMS_WIDTH) -> DataFrame:
    """(col, n_est) point-frequency estimates: min over the depth
    rows of the probed slots.  One-sided error — n_est >= true count
    always, exceeding it only by collision mass (≤ 2N/width with
    probability 1 - 2^-depth, the standard CMS bound).  The counter
    table is ≤ depth*width rows, so it broadcasts to the probes
    regardless of how many values are asked."""
    slots = _cms_slots(col, depth, width, "spark")
    rows = ", ".join(
        f"named_struct('d', {d}, 'slot', {s})"
        for d, s in enumerate(slots))
    probed = (probes.select(col)
              .withColumn("x", F.expr(f"explode(array({rows}))"))
              .select(col, "x.d", "x.slot"))
    return (probed.join(F.broadcast(counters), ["d", "slot"], "left")
            .fillna(0, ["counter"])
            .groupBy(col)
            .agg(F.min("counter").alias("n_est")))


def cms_counters_md5_sql(table: str, col: str, *,
                         depth: int = CMS_DEPTH,
                         width: int = CMS_WIDTH,
                         where: str = "true") -> str:
    """DuckDB mirror of :func:`cms_counters_md5` (same counters
    bit-for-bit)."""
    slots = _cms_slots(col, depth, width, "duck")
    sels = "\nUNION ALL ".join(
        f"SELECT {d} AS d, {s} AS slot "
        f"FROM {table} WHERE ({where}) AND {col} IS NOT NULL"
        for d, s in enumerate(slots))
    return f"""
WITH slots AS ({sels})
SELECT d, slot, count(*) AS counter FROM slots GROUP BY d, slot
"""


# ----------------- keyed md5-HLL: distinct-count rollups over time

def hll_registers_keyed(df: DataFrame, key_exprs: dict, col: str,
                        p_bits: int = HLL_P_BITS) -> DataFrame:
    """(keys..., bucket, register) md5-HLL registers per key group —
    the building block for DISTINCT-COUNT rollups: count(distinct) is
    not a semigroup (you cannot add yesterday's distinct users to
    today's), but its register table IS (max-merge), so hourly
    register deltas roll up to daily/weekly distinct counts with no
    rescan of raw history — the hypertable continuous-aggregate story
    (timeseries.rollup_delta / merge_rollups) extended to the one
    aggregate those sum/min/max columns cannot express.

    ``key_exprs`` maps output column name -> SQL expression (e.g.
    ``{"hour": "date_trunc('hour', ts)"}``).  Shuffle is bounded at
    |key groups| * 2^p_bits rows (map-side partial max)."""
    shift = 60 - p_bits
    h = md5_prefix_int(f"cast({col} as string)", 15, "spark")
    keyed = df.filter(F.col(col).isNotNull()).selectExpr(
        *[f"{e} as {name}" for name, e in key_exprs.items()],
        f"cast(shiftright({h}, {shift}) as int) as bucket",
        f"{_hll_rho_sql(h, shift)} as rho")
    return (keyed.groupBy(*key_exprs, "bucket")
            .agg(F.max("rho").alias("register")))


def merge_registers_keyed(deltas: DataFrame, rollup_exprs: dict
                          ) -> DataFrame:
    """Roll register deltas up to a coarser key — e.g. hourly
    registers to daily: ``rollup_exprs`` maps output name -> SQL over
    the delta's key columns (``{"day": "to_date(hour)"}``).  Pure max
    algebra over |groups| * 2^p_bits rows; raw history is never
    rescanned, and re-merging a late or replayed delta is absorbed by
    idempotence."""
    return (deltas.selectExpr(
        *[f"{e} as {name}" for name, e in rollup_exprs.items()],
        "bucket", "register")
        .groupBy(*rollup_exprs, "bucket")
        .agg(F.max("register").alias("register")))
