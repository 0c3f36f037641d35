"""Deterministic corpus sampling for training-data pipelines.

Sampling must be reproducible across runs, engines, and cluster
layouts — ``rand()`` is none of those — so rows are kept by a
content-derived hash bucket: ``md5`` of the id expression, first 8 hex
digits as an integer, modulo 10_000.  The same formula is emitted in a
Spark and a DuckDB dialect, so sampled outputs are oracle-checkable
bit-for-bit.

Everything here is a narrow transformation (filter on a per-row
expression): no shuffle, fully pushdown-friendly, trivially correct at
any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythonql_spark.operators.text import md5_prefix_int, sql_str

BUCKETS = 10_000


def _range_partition(df: DataFrame, cols,
                     n_partitions: int | None) -> DataFrame:
    """Range-partition + locally sort for the two-phase prefix-sum
    operators, with AQE-coalescible sizing.

    ``repartitionByRange(n, ...)`` is user-specified partitioning
    (shuffle origin REPARTITION_BY_NUM) that AQE never coalesces: a
    tiny input still occupies ``n`` scheduling slots in every
    downstream stage, and the Arrow numbering passes here pay a
    per-task Python round-trip — measured as 32-task stages moving
    ~2k rows at ~1% CPU.  An earlier fix sized ``n`` from Catalyst's
    plan-time sizeInBytes estimate, but post-join estimates are
    unusable (unknown → cap), which left e.g. curation_v2's budget
    stage at full width.  The no-``n`` form (origin
    REPARTITION_BY_COL) lets AQE pick the count from the MEASURED map
    output sizes instead: it starts from the session's shuffle
    parallelism (identical to the old cap at scale or with AQE off)
    and coalesces to ``advisoryPartitionSizeInBytes`` — verified:
    2k rows → 1 partition, ~240 MB → 16, straight through a
    ``localCheckpoint``.  An explicit ``n_partitions`` still forces
    the exact count (callers that pin layouts for tests).

    Numbering correctness does not depend on the boundaries AQE picks:
    the sort keys are a total order, so global position = (range
    partition, local row) for ANY contiguous partitioning — only
    determinism of the VALUES matters, not of the layout."""
    cols = list(cols)
    keyed = (df.repartitionByRange(n_partitions, *cols) if n_partitions
             else df.repartitionByRange(*cols))
    return keyed.sortWithinPartitions(*cols)


def hash_bucket(expr: str, dialect: str = "spark",
                buckets: int = BUCKETS) -> str:
    """Deterministic bucket in [0, buckets) from any expression —
    identical values in Spark SQL and DuckDB."""
    s = f"cast({expr} as string)" if dialect == "spark" else \
        f"cast({expr} as varchar)"
    return f"({md5_prefix_int(s, 8, dialect)} % {buckets})"


def sample_fraction(df: DataFrame, fraction: float,
                    id_col: str = "doc_id") -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by id-hash bucket."""
    cut = int(round(fraction * BUCKETS))
    return df.filter(F.expr(f"{hash_bucket(id_col)} < {cut}"))


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict[str, float],
                      default_fraction: float = 0.0,
                      id_col: str = "doc_id") -> DataFrame:
    """Per-stratum deterministic sampling: e.g. keep 100% of low-resource
    languages and 10% of the dominant one.  ``fractions`` maps stratum
    value -> keep fraction; anything absent gets ``default_fraction``."""
    cut = "CASE " + " ".join(
        f"WHEN {strata_col} = {sql_str(str(k))} "
        f"THEN {int(round(v * BUCKETS))}"
        for k, v in sorted(fractions.items())
    ) + f" ELSE {int(round(default_fraction * BUCKETS))} END"
    return df.filter(F.expr(f"{hash_bucket(id_col)} < {cut}"))


def weighted_cut(weight_expr: str, rate: float) -> str:
    """Keep-threshold for weighted Bernoulli sampling: row i survives
    with probability min(1, rate * weight_i).  floor() (not round) so
    Spark and DuckDB agree bit-for-bit at .5 boundaries; the formula
    is dialect-neutral."""
    return (f"least(cast(floor({rate} * ({weight_expr}) * {BUCKETS}) "
            f"as bigint), {BUCKETS})")


def sample_weighted(df: DataFrame, weight_expr: str, rate: float,
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted sampling: keep probability proportional
    to ``weight_expr`` (capped at 1), reproducible across runs/engines
    — e.g. upweight long or high-quality documents.  Narrow filter, no
    shuffle, same hash-bucket mechanism as the other samplers."""
    return df.filter(F.expr(
        f"{hash_bucket(id_col)} < {weighted_cut(weight_expr, rate)}"))


def sample_exact_n(df: DataFrame, n: int, id_col: str = "doc_id",
                   seed: int = 0) -> DataFrame:
    """Deterministic EXACT-size sample: the n rows with the smallest
    seeded id-hash — a uniform sample that is reproducible across
    runs, engines, and partition layouts (fraction sampling can't
    promise an exact count; rand()-reservoirs can't promise
    determinism).  Plans as TakeOrderedAndProject: each task keeps its
    local n smallest, only n rows per task reach the driver-side
    merge — never a full sort."""
    key = F.expr(shuffle_key(id_col, seed))
    return (df.withColumn("__sk", key)
            .orderBy("__sk", id_col)
            .limit(n)
            .drop("__sk"))


def sample_exact_n_stratified(df: DataFrame, strata_col: str, n: int,
                              id_col: str = "doc_id",
                              seed: int = 0) -> DataFrame:
    """Deterministic exact-size sample PER STRATUM: the n smallest
    seeded id-hashes within each stratum (strata smaller than n pass
    through whole) — balanced evaluation sets, per-language caps.
    Composes the WindowGroupLimit top-k shape (operators.topk): each
    map task ships at most n rows per stratum it has seen, so the
    shuffle carries ~n × |strata| rows, not the corpus."""
    from .topk import top_k_per_group
    key = F.expr(shuffle_key(id_col, seed))
    return (top_k_per_group(
        df.withColumn("__sk", key), strata_col,
        ["__sk", id_col], n, rank_col=None)
        .drop("__sk"))


def shuffle_key(id_col: str = "doc_id", seed: int = 0,
                dialect: str = "spark") -> str:
    """Deterministic per-epoch shuffle key: md5 of (seed, id).  Same
    value in Spark SQL and DuckDB, so a shuffled ordering is
    oracle-checkable."""
    expr = (f"concat('{seed}:', cast({id_col} as string))" if dialect == "spark"
            else f"'{seed}:' || cast({id_col} as varchar)")
    return f"md5({expr})"


def global_index(df: DataFrame, sort_cols=None, out_col: str = "pos",
                 n_partitions: int | None = None,
                 total_col: str | None = None) -> DataFrame:
    """Dense 0-based global row index WITHOUT a single-task window.

    Scale shape: a bare ``row_number() OVER (ORDER BY ...)`` funnels
    every row through ONE task.  Instead: range-partition on the sort
    key (one exchange, same cost as any global sort), number rows
    LOCALLY per partition, and add each partition's starting offset
    (a broadcast join against the tiny per-partition count table).
    Positions are independent of the sampled range boundaries, so the
    result is deterministic even though repartitionByRange samples —
    provided ``sort_cols`` is a total order (add a unique tiebreak
    column if not).

    ``sort_cols=None`` numbers rows in the CURRENT partition layout
    with no exchange at all — a dense arbitrary-order index (the
    scale-safe replacement for monotonically_increasing_id when the
    dense 0..n-1 contract matters).

    ``total_col`` additionally attaches the total row count to every
    row — it falls out of the same tiny per-partition count table for
    free (one extra whole-frame sum over <= n_partitions rows), so
    rank-to-percentile normalization needs no second corpus scan."""
    keyed = df
    if sort_cols is not None:
        keyed = _range_partition(df, sort_cols, n_partitions)
    # materialize the partition layout ONCE: the numbering branch and
    # the offsets branch below must see the SAME partition boundaries,
    # and RangePartitioner's sampled split points are not contractually
    # identical across re-executions of the exchange.  eager=False is
    # not lazy under AQE: Dataset.checkpoint calls
    # AdaptiveSparkPlanExec.execute, which runs every shuffle stage
    # beneath it (the range bounds sample and exchange, plus any
    # shuffle in ``df``) here, at call time; only the last stage waits
    # for the first action.  So an unpinned input chain runs here,
    # while the plan is being built: curation_v2's Bloom chain without
    # its ``clean`` pin is 8 jobs, 2-3 s warm at sf0.1 (2 jobs, 0.3 s,
    # with it).
    keyed = (keyed.withColumn("__pid", F.spark_partition_id())
             .localCheckpoint(eager=False))

    # local numbering in ONE Arrow pass (a window PARTITION BY the
    # partition id would re-shuffle the whole corpus a second time;
    # this streams batches in partition order with a running counter).
    # Copy the schema: df.schema is a cached object, and mutating it
    # via .add() desyncs the Python-side column list from the plan.
    from pyspark.sql.types import LongType, StructField, StructType
    out_schema = StructType(keyed.schema.fields +
                            [StructField("__rn", LongType())])

    def number(batches):
        i = 0
        for pdf in batches:
            pdf = pdf.assign(__rn=range(i, i + len(pdf)))
            i += len(pdf)
            yield pdf

    local = keyed.mapInPandas(number, out_schema)
    # per-partition starting offsets: the groupBy's map-side partial
    # agg emits ONE row per partition, and Spark reuses the range
    # exchange (ReusedExchange) instead of recomputing it
    from pyspark.sql.window import Window as W
    counts = (keyed.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
              .withColumn("__off", F.coalesce(
                  F.sum("__n").over(
                      W.orderBy("__pid")
                       .rowsBetween(W.unboundedPreceding, -1)),
                  F.lit(0))))
    sel = ["__pid", "__off"]
    if total_col is not None:
        counts = counts.withColumn(total_col, F.sum("__n").over(
            W.orderBy("__pid").rowsBetween(W.unboundedPreceding,
                                           W.unboundedFollowing)))
        sel.append(total_col)
    return (local.join(F.broadcast(counts.select(*sel)), "__pid")
            .withColumn(out_col,
                        (F.col("__off") + F.col("__rn")).cast("bigint"))
            .drop("__pid", "__rn", "__off"))


def shuffle_rows(df: DataFrame, id_col: str = "doc_id",
                 seed: int = 0, n_partitions: int | None = None) -> DataFrame:
    """Seeded deterministic global shuffle for training-data epochs:
    adds ``shuffle_pos`` (0-based position in the shuffled order).
    Reproducible across runs and cluster layouts (no rand()); a new
    ``seed`` yields an independent permutation for the next epoch.
    The numbering runs through :func:`global_index` — range-partitioned
    local numbering, never a single-task window."""
    key = F.expr(shuffle_key(id_col, seed))
    out = global_index(df.withColumn("__k", key),
                       [F.col("__k"), F.col(id_col)],
                       out_col="shuffle_pos", n_partitions=n_partitions)
    return out.drop("__k")


def sample_oracle_where(fractions: dict[str, float] | float,
                        strata_col: str | None = None,
                        default_fraction: float = 0.0,
                        id_col: str = "doc_id") -> str:
    """The matching DuckDB WHERE predicate for the two samplers."""
    if isinstance(fractions, float):
        return f"{hash_bucket(id_col, 'duck')} < {int(round(fractions * BUCKETS))}"
    cut = "CASE " + " ".join(
        f"WHEN {strata_col} = {sql_str(str(k))} "
        f"THEN {int(round(v * BUCKETS))}"
        for k, v in sorted(fractions.items())
    ) + f" ELSE {int(round(default_fraction * BUCKETS))} END"
    return f"{hash_bucket(id_col, 'duck')} < {cut}"


def split_expr(fractions: dict[str, float], id_col: str = "doc_id",
               dialect: str = "spark", seed: int = 0) -> str:
    """Deterministic train/val/test assignment expression: the id's
    md5 bucket lands in cumulative fraction ranges, so membership is a
    pure function of (seed, id) — stable across runs, engines, and
    partitionings, and rows never migrate between splits when the
    corpus grows (the property random() splits lack).  Fractions are
    taken in the given order; they must sum to 1."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    b = hash_bucket(f"concat('{seed}:', cast({id_col} as "
                    f"{'string' if dialect == 'spark' else 'varchar'}))",
                    dialect)
    cum, cases = 0.0, []
    names = list(fractions)
    if len(names) == 1:
        # a WHEN-less CASE is a parse error; one split = a literal
        return sql_str(names[0])
    for name in names[:-1]:
        cum += fractions[name]
        cases.append(f"WHEN {b} < {int(round(cum * BUCKETS))} "
                     f"THEN {sql_str(name)}")
    return "CASE " + " ".join(cases) + f" ELSE {sql_str(names[-1])} END"


def train_test_split(df: DataFrame,
                     fractions: dict[str, float] | None = None,
                     id_col: str = "doc_id",
                     seed: int = 0) -> DataFrame:
    """Adds a ``split`` column ('train'/'val'/'test' by default) via
    :func:`split_expr` — one narrow projection, no shuffle, no state
    to persist; re-deriving the split anywhere always agrees."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    return df.withColumn(
        "split", F.expr(split_expr(fractions, id_col, "spark", seed)))


def _order_columns(order: str | list[str] | None, id_col: str):
    """Ordering spec -> Column list, honoring a trailing ASC/DESC on
    each item; the unique ``id_col`` is always appended as tiebreak so
    the order is total."""
    if order is None:
        items = [shuffle_key(id_col)]
    elif isinstance(order, str):
        items = [order]
    else:
        items = list(order)
    from .topk import _order_cols
    cols = _order_cols(items)        # one "expr [asc|desc]" parser
    cols.append(F.col(id_col).asc())
    return cols


def select_to_budget(df: DataFrame, strata_col: str,
                     budgets: dict[str, int], *,
                     size_col: str = "n_tokens",
                     order: str | list[str] | None = None,
                     id_col: str = "doc_id",
                     default_budget: int = 0,
                     n_partitions: int | None = None) -> DataFrame:
    """Budget-constrained data mixing: within each stratum, keep
    documents in priority order until the stratum's token budget is
    exhausted (the first document to cross the line is included, so
    every non-empty budget yields at least one document).

    ``budgets`` maps stratum value -> token budget; ``order`` is a SQL
    ordering expression (or list of them; default: the deterministic
    seeded hash, i.e. a uniform budget sample).  This is the "mix
    30 B code tokens with 70 B web tokens" primitive of corpus
    construction.

    Scale shape: the defining workload is FEW, HUGE strata, so a
    running sum ``OVER (PARTITION BY stratum ORDER BY ...)`` — one
    task per stratum — is exactly wrong.  Instead, the two-phase
    prefix sum (the `global_index` shape, per stratum):

    1. range-partition on (stratum, order keys, id) and sort within
       partitions — each stratum spans MANY contiguous partitions;
    2. per-(partition, stratum) partial token sums — one tiny
       map-side-combined aggregate, <= n_partitions + |strata| rows;
    3. cumulative offsets over that tiny table (a window over rows
       counted per PARTITION, not per document), broadcast back;
    4. one Arrow pass computes the local running sum per stratum with
       a cross-batch carry, and a narrow filter applies the budget.

    Deterministic and oracle-exact: (stratum, order, id) is a total
    order and bigint addition is order-insensitive, so the result is
    bit-identical to the single-window form DuckDB runs as the oracle.
    """
    from pyspark.sql.types import LongType, StructField, StructType
    from pyspark.sql.window import Window as W

    ordcols = _order_columns(order, id_col)
    # null-safe stratum key: strings, nulls get a disjoint sentinel, so
    # range partitioning, the tiny join, and the pandas carry dict all
    # treat every stratum (incl. NULL) as one ordinary group
    sk = F.when(F.col(strata_col).isNull(), F.lit("0")).otherwise(
        F.concat(F.lit("1"), F.col(strata_col).cast("string")))
    # the checkpoint runs the range exchange (and any shuffle in
    # ``df``) at call time under AQE — see global_index
    keyed = (_range_partition(df.withColumn("__sk", sk),
                              [F.col("__sk"), *ordcols], n_partitions)
             .withColumn("__pid", F.spark_partition_id())
             .localCheckpoint(eager=False))

    partials = (keyed.groupBy("__pid", "__sk")
                .agg(F.sum(size_col).cast("bigint").alias("__n")))
    offs = (partials.withColumn("__off", F.coalesce(
                F.sum("__n").over(
                    W.partitionBy("__sk").orderBy("__pid")
                     .rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0)))
            .select(F.col("__pid").alias("__opid"),
                    F.col("__sk").alias("__osk"), "__off"))

    out_schema = StructType(keyed.schema.fields +
                            [StructField("__cumloc", LongType())])

    def run(batches):
        acc: dict[str, int] = {}
        for pdf in batches:
            sizes = pdf[size_col].astype("int64")
            cum = sizes.groupby(pdf["__sk"].to_numpy()).cumsum()
            base = pdf["__sk"].map(lambda s: acc.get(s, 0))
            out = pdf.assign(__cumloc=(cum + base).astype("int64"))
            for s, tot in sizes.groupby(pdf["__sk"].to_numpy()).sum().items():
                acc[s] = acc.get(s, 0) + int(tot)
            yield out

    local = keyed.mapInPandas(run, out_schema)
    budget = "CASE " + " ".join(
        f"WHEN {strata_col} = {sql_str(str(k))} THEN {int(v)}"
        for k, v in sorted(budgets.items())
    ) + f" ELSE {int(default_budget)} END"
    return (local.join(F.broadcast(offs),
                       (F.col("__pid") == F.col("__opid")) &
                       (F.col("__sk") == F.col("__osk")))
            .filter(F.expr(
                f"__off + __cumloc - {size_col} < ({budget})"))
            .select(df.columns))


def select_to_budget_oracle_sql(strata_col: str, budgets: dict[str, int],
                                *, size_col: str = "n_tokens",
                                order: str | None = None,
                                id_col: str = "doc_id",
                                default_budget: int = 0,
                                table: str = "documents",
                                select: str = "*") -> str:
    """DuckDB mirror of :func:`select_to_budget`."""
    order_sql = order if order else \
        f"{shuffle_key(id_col, dialect='duck')}, {id_col}"
    budget = "CASE " + " ".join(
        f"WHEN {strata_col} = {sql_str(str(k))} THEN {int(v)}"
        for k, v in sorted(budgets.items())
    ) + f" ELSE {int(default_budget)} END"
    return f"""
WITH c AS (
  SELECT *, cast(sum({size_col}) OVER (PARTITION BY {strata_col}
       ORDER BY {order_sql}, {id_col}
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
       AS __cum
  FROM {table})
SELECT {select} FROM c WHERE __cum - {size_col} < ({budget})"""


def sample_temperature(df: DataFrame, strata_col: str, *,
                       alpha: float = 0.5,
                       id_col: str = "doc_id") -> DataFrame:
    """Temperature-based stratum rebalancing (the mT5/XLM-R α-sampling
    rule): the post-sample expected share of stratum *l* is made
    proportional to ``n_l ** alpha`` — α = 1 keeps natural
    proportions, α → 0 approaches uniform across strata.  Downsample-
    only: the keep-fraction ``f_l = (n_min / n_l) ** (1 - alpha)`` is
    1 for the smallest stratum, so no data is replicated (compose with
    :func:`upsample_epochs` to oversample instead).

    Scale shape: one map-side-combined tiny count aggregate
    (|strata| rows), broadcast back; the corpus itself sees only a
    narrow hash-bucket filter — no shuffle, no window.

    Engine exactness: the default α = 0.5 evaluates the fraction as
    ``sqrt(n_min / n_l)`` — `sqrt` and `/` are IEEE correctly-rounded
    in both Spark and DuckDB, so with the SAME expression tree the cut
    integers match bit-for-bit (`pow` carries no such guarantee; other
    α values work but their oracle may diverge by 1 ULP exactly on a
    bucket boundary)."""
    frac = (f"sqrt(cast(__nmin as double) / cast(__n as double))"
            if alpha == 0.5 else
            f"power(cast(__nmin as double) / cast(__n as double), "
            f"{1.0 - alpha})")
    from pyspark.sql.window import Window
    counts = (df.groupBy(F.col(strata_col).alias("__s"))
              .agg(F.count(F.lit(1)).alias("__n"))
              .withColumn("__nmin", F.min("__n").over(Window.partitionBy()))
              .withColumn("__cut", F.expr(
                  f"cast(floor({frac} * {BUCKETS}) as bigint)"))
              .select("__s", "__cut"))
    # null-safe: a NULL stratum is a real stratum — a plain equality
    # join would drop its rows while its count still skewed __nmin
    return (df.join(F.broadcast(counts),
                    F.col(strata_col).eqNullSafe(F.col("__s")))
            .filter(F.expr(f"{hash_bucket(id_col)} < __cut"))
            .select(df.columns))


def sample_temperature_oracle_sql(strata_col: str, *,
                                  alpha: float = 0.5,
                                  id_col: str = "doc_id",
                                  table: str = "documents",
                                  select: str = "*") -> str:
    """DuckDB mirror of :func:`sample_temperature` — identical
    expression tree for the cut (see the exactness note there)."""
    frac = ("sqrt(cast(__nmin as double) / cast(__n as double))"
            if alpha == 0.5 else
            f"power(cast(__nmin as double) / cast(__n as double), "
            f"{1.0 - alpha})")
    return f"""
WITH c AS (SELECT {strata_col} AS __s, count(*) AS __n
           FROM {table} GROUP BY {strata_col}),
cut AS (SELECT __s, cast(floor({frac} * {BUCKETS}) as bigint) AS __cut
        FROM (SELECT __s, __n, min(__n) OVER () AS __nmin FROM c)),
k AS (SELECT t.*, cut.__cut FROM {table} t
      JOIN cut ON t.{strata_col} IS NOT DISTINCT FROM cut.__s)
SELECT {select} FROM k
WHERE {hash_bucket(id_col, dialect='duck')} < __cut"""


def _repeat_cases(strata_col: str, repeats: dict[str, float],
                  default_repeat: float) -> tuple[str, str]:
    """Static CASE expressions for :func:`upsample_epochs`:
    (whole-epoch count, fractional-copy bucket cut) per stratum."""
    full = "CASE " + " ".join(
        f"WHEN {strata_col} = {sql_str(str(k))} THEN {int(v)}"
        for k, v in sorted(repeats.items())
    ) + f" ELSE {int(default_repeat)} END"
    d_cut = int(round((default_repeat - int(default_repeat)) * BUCKETS))
    frac_cut = "CASE " + " ".join(
        f"WHEN {strata_col} = {sql_str(str(k))} THEN "
        f"{int(round((v - int(v)) * BUCKETS))}"
        for k, v in sorted(repeats.items())
    ) + f" ELSE {d_cut} END"
    return full, frac_cut


def upsample_epochs(df: DataFrame, strata_col: str,
                    repeats: dict[str, float], *,
                    default_repeat: float = 1.0,
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic fractional upsampling by repeat factor — the
    "epochs per dataset" knob of corpus mixing (e.g. 2.4 epochs of
    books, 0.8 of web): every row is emitted ``floor(r)`` times and
    one extra time with probability ``frac(r)``, decided by the usual
    content hash over (epoch, id) so the output is reproducible and
    engine-checkable.  Adds an ``epoch`` column (0-based) — (id,
    epoch) is the new unique key; downstream epoch-wise shuffling
    keys on it (:func:`shuffle_key`).

    Narrow plan: a static CASE picks the stratum's repeat, one
    ``explode(sequence(...))`` fans rows out, a hash filter trims the
    fractional copy — no shuffle, no window, no driver data."""
    full, frac_cut = _repeat_cases(strata_col, repeats, default_repeat)
    hb = hash_bucket(f"concat(epoch, ':', {id_col})")
    # integer repeats (frac_cut = 0) need no trailing maybe-copy: trim
    # the fan-out to exactly floor(r) rows instead of exploding a dead
    # copy the filter would discard (2x waste at the default r = 1.0).
    # slice() keeps the sequence empty when r = 0.
    upper = f"(({full}) - CASE WHEN ({frac_cut}) <= 0 THEN 1 ELSE 0 END)"
    return (df.withColumn("epoch", F.explode(F.expr(
        f"slice(sequence(0, greatest({upper}, 0)), 1, ({upper}) + 1)")))
        .filter(F.expr(
            f"epoch < ({full}) OR {hb} < ({frac_cut})")))


def upsample_epochs_oracle_sql(strata_col: str,
                               repeats: dict[str, float], *,
                               default_repeat: float = 1.0,
                               id_col: str = "doc_id",
                               table: str = "documents",
                               select: str = "*") -> str:
    """DuckDB mirror of :func:`upsample_epochs`.  DuckDB's
    generate_series can't reference lateral columns, so the fan-out
    uses the static maximum repeat and trims per-stratum in WHERE —
    same rows, same static CASE cuts."""
    full, frac_cut = _repeat_cases(strata_col, repeats, default_repeat)
    max_full = max([int(v) for v in repeats.values()]
                   + [int(default_repeat)])
    hb = hash_bucket(f"epoch || ':' || cast({id_col} as varchar)",
                     dialect="duck")
    return f"""
SELECT {select} FROM (
  SELECT t.*, cast(gs.generate_series as int) AS epoch
  FROM {table} t CROSS JOIN generate_series(0, {max_full}) gs)
WHERE epoch <= ({full})
  AND (epoch < ({full}) OR {hb} < ({frac_cut}))"""


def _sort_col(e: str):
    """Parse an "expr [ASC|DESC]" ordering string into a sort Column —
    ``F.expr("x DESC")`` parses DESC as an ALIAS and silently drops
    the direction."""
    parts = e.rsplit(None, 1)
    if len(parts) == 2 and parts[1].upper() in ("ASC", "DESC"):
        c = F.expr(parts[0])
        return c.desc() if parts[1].upper() == "DESC" else c.asc()
    return F.expr(e)


def interleave_order(df: DataFrame, stratum_col: str,
                     order_by: list[str], *,
                     out_col: str = "train_key") -> DataFrame:
    """Deterministic round-robin interleave across strata — the
    training-order step that stops a run from seeing a million code
    documents in a row: sorting by ``out_col`` yields stratum 0's
    first doc, stratum 1's first, ..., then every stratum's second,
    with each stratum internally in ``order_by`` order.  Key formula:
    ``pos_in_stratum * n_strata + stratum_rank`` — unique, and dense
    until the smallest stratum exhausts (gaps after that keep the
    order correct; re-number with ``global_index`` if a dense 0..n-1
    contract matters downstream).

    Scale shape: ONE range exchange — ``global_index`` sorted on
    (stratum, order_by) numbers the corpus globally; per-stratum
    positions fall out as ``global_pos - min(global_pos)`` per stratum
    (a tiny per-stratum aggregate broadcast back).  No per-stratum
    window ever runs, so a giant stratum cannot funnel into one task —
    the same trap `select_to_budget`'s rewrite removed.

    Strata and order keys should be non-null: engines disagree on
    default null ordering (Spark NULLS FIRST vs DuckDB NULLS LAST
    ascending), so null keys make the assignment engine-specific."""
    if not order_by:
        raise ValueError("need at least one order_by expression")
    from pyspark.sql.window import Window as W
    idx = global_index(df, [F.col(stratum_col)]
                       + [_sort_col(e) for e in order_by],
                       out_col="__gpos")
    firsts = (idx.groupBy(stratum_col)
              .agg(F.min("__gpos").alias("__first")))
    # |strata| rows: rank strata and attach their count windowlessly
    firsts = (firsts
              .withColumn("__srank",
                          F.row_number().over(W.orderBy(stratum_col)) - 1)
              .withColumn("__n", F.count(F.lit(1)).over(
                  W.partitionBy(F.lit(1)))))
    out = idx.join(F.broadcast(firsts), stratum_col)
    return (out.withColumn(
        out_col,
        (F.col("__gpos") - F.col("__first")) * F.col("__n")
        + F.col("__srank"))
        .drop("__gpos", "__first", "__srank", "__n"))


def interleave_order_oracle_sql(stratum_col: str, order_by: list[str],
                                *, out_col: str = "train_key",
                                select: str = "*",
                                table: str = "documents") -> str:
    """DuckDB mirror of :func:`interleave_order` (window form — the
    single-task shape the engine avoids, fine at oracle scale)."""
    ob = ", ".join(order_by)
    return f"""
WITH t AS (
  SELECT *,
         row_number() OVER (PARTITION BY {stratum_col}
                            ORDER BY {ob}) - 1 AS __p,
         dense_rank() OVER (ORDER BY {stratum_col}) - 1 AS __r,
         count(distinct {stratum_col}) OVER () AS __n
  FROM {table})
SELECT {select}, cast(__p * __n + __r as bigint) AS {out_col} FROM t"""


def quantile_buckets(df: DataFrame, order_by: list[str], k: int, *,
                     weight_col: str | None = None,
                     out_col: str = "bucket") -> DataFrame:
    """Equal-frequency bucketing — the scale-safe NTILE: assign each
    row its k-quantile bucket (0..k-1) of the global ``order_by``
    order (difficulty deciles for curriculum phases, score quartiles
    for tiered filtering).  ``bucket = (pos * k) div n`` — pure bigint
    arithmetic, so the oracle reproduces it exactly; bucket sizes
    differ by at most 1 (the distribution pattern differs from the
    SQL NTILE spec, which front-loads remainders, but is equally
    equal-frequency).

    With ``weight_col`` the buckets hold equal WEIGHT instead of
    equal row counts — "split the corpus into 8 equal-TOKEN shards":
    ``bucket = (exclusive_prefix_weight × k) div total_weight``.
    Weights must be non-negative integers (token counts, byte sizes).

    Scale shape: one range exchange either way.  Unweighted rides
    ``global_index``; weighted is the same two-phase prefix sum as
    ``select_to_budget`` without the strata — per-partition weight
    sums (a tiny aggregate) broadcast cumulative offsets back, one
    Arrow pass adds the local running sum.  Never ``ntile()/sum()
    OVER (ORDER BY ...)``, whose empty partition spec funnels the
    corpus through one task.  ``order_by`` must be a total order (add
    a unique id tiebreak) for deterministic assignment, and non-null
    (engines disagree on default null ordering)."""
    if k <= 0:
        raise ValueError("need k >= 1")
    if not order_by:
        raise ValueError("need at least one order_by expression")
    if weight_col is None:
        idx = global_index(df, [_sort_col(e) for e in order_by],
                           out_col="__pos", total_col="__tot")
        return (idx.withColumn(out_col,
                               F.expr(f"(__pos * {k}) div __tot"))
                .drop("__pos", "__tot"))

    from pyspark.sql.types import LongType, StructField, StructType
    from pyspark.sql.window import Window as W
    ordcols = [_sort_col(e) for e in order_by]
    # the checkpoint runs the range exchange (and any shuffle in
    # ``df``) at call time under AQE — see global_index
    keyed = (_range_partition(df, ordcols, None)
             .withColumn("__pid", F.spark_partition_id())
             .localCheckpoint(eager=False))
    partials = (keyed.groupBy("__pid")
                .agg(F.sum(weight_col).cast("bigint").alias("__n")))
    offs = (partials
            .withColumn("__off", F.coalesce(
                F.sum("__n").over(
                    W.orderBy("__pid")
                     .rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0)))
            .withColumn("__tot", F.sum("__n").over(
                W.partitionBy(F.lit(1))))
            .select(F.col("__pid").alias("__opid"), "__off", "__tot"))

    out_schema = StructType(keyed.schema.fields +
                            [StructField("__cumloc", LongType())])

    def run(batches):
        acc = 0
        for pdf in batches:
            sizes = pdf[weight_col].astype("int64")
            out = pdf.assign(__cumloc=(sizes.cumsum() + acc)
                             .astype("int64"))
            acc += int(sizes.sum())
            yield out

    local = keyed.mapInPandas(run, out_schema)
    return (local.join(F.broadcast(offs),
                       F.col("__pid") == F.col("__opid"))
            .withColumn(out_col, F.expr(
                f"((__off + __cumloc - {weight_col}) * {k}) div __tot"))
            .select(*df.columns, out_col))


def quantile_buckets_oracle_sql(order_by: list[str], k: int, *,
                                weight_col: str | None = None,
                                out_col: str = "bucket",
                                select: str = "*",
                                table: str = "documents") -> str:
    """DuckDB mirror of :func:`quantile_buckets` (window form — the
    single-task shape the engine avoids)."""
    ob = ", ".join(order_by)
    if weight_col is None:
        return (f"SELECT {select}, "
                f"((row_number() OVER (ORDER BY {ob}) - 1) * {k}) "
                f"// count(*) OVER () AS {out_col} FROM {table}")
    w = f"cast({weight_col} as bigint)"
    pre = (f"(sum({w}) OVER (ORDER BY {ob} "
           f"ROWS UNBOUNDED PRECEDING) - {w})")
    return (f"SELECT {select}, cast(({pre} * {k}) "
            f"// (sum({w}) OVER ()) as bigint) AS {out_col} FROM {table}")
