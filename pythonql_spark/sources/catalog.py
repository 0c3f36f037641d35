"""Data sources (reference ``pythonql/sources/*``).

The reference wraps Python collections and RDBMS tables (MySQL /
PostgreSQL with query pushdown via WrappedSubplan).  Spark-first
equivalents:

* files — ``spark.read.parquet/csv/json``; predicate + column
  pushdown comes from Catalyst (verified in tests via explain).
  ``load_table`` caches each local table's inferred schema and
  timestamp fix-ups, keyed by the absolute path, a fingerprint of
  every file under it (name, size, mtime_ns) and the session confs
  that change parquet type mapping.  So a warm load builds its plan
  with no Spark job.  Remote URIs (``s3a://``, ``hdfs://``), which
  ``os.stat`` cannot see, are never cached.
* collections — ``from_collection`` (createDataFrame).
* RDBMS — ``jdbc_table``: Spark's JDBC source does column pruning and
  predicate pushdown server-side, the same capability as the
  reference's pushdown sources (sources/postgresql.py).  Exercised
  LIVE against embedded Derby (ships in Spark's jars) in
  tests/test_sources.py::test_jdbc_live_pushdown — the scan's
  external query is asserted to carry the WHERE clause and the pruned
  column list.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# Session confs that change how parquet types map to Spark types: a
# schema inferred under one setting is wrong under another.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    _NANOS_AS_LONG,
    "spark.sql.caseSensitive",
)

# absolute table path -> ((file fingerprint, schema confs),
#                         (schema, nanos columns, NTZ columns))
_RECIPES: dict[str, tuple] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one benchmark table, robust to the session's parquet
    timestamp configuration.

    Must work in ANY SparkSession, not just ``session.get_spark`` —
    the correctness harness builds its own.  Two timestamp encodings
    of ``events.ts`` have been observed in driver-generated testdata:

    * TIMESTAMP(MICROS, isAdjustedToUTC=0) — reads as TIMESTAMP_NTZ;
      normalized to TimestampType here (session TZ is pinned UTC, so
      the instant is unchanged) because watermarks and epoch casts
      reject NTZ.
    * TIMESTAMP(NANOS)  — rejected by Spark unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is set, in which case it
      arrives as a nanos-since-epoch long; we set the conf at runtime
      on PARQUET_TYPE_ILLEGAL and convert back to microsecond
      timestamps (the same truncation DuckDB applies).  The conf is
      session-wide once set, so the long→timestamp conversion is
      scoped to columns whose parquet footer actually declares
      TIMESTAMP(NANOS) (checked via pyarrow) — a genuine bigint column
      that merely shares the name ``ts`` is left untouched.

    Parquet schema inference runs one Spark job per read, so the
    recipe derived here — the inferred schema plus the nanos and NTZ
    columns to convert — is cached per absolute path.  The key is a
    fingerprint of every file under the path (relative name, size,
    ``mtime_ns``; hive-partition subdirectories included) and the
    session values of the confs in ``_SCHEMA_CONFS``.  A warm load
    reads with the cached schema and runs no Spark job; a changed file
    or conf replaces the path's one entry.  A path ``os.stat`` cannot
    see (``s3a://``, ``hdfs://``) is never cached and is inferred on
    every call.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    files = _fingerprint(path)
    if files is not None:
        path = os.path.abspath(path)
        confs = _schema_confs(spark)
        hit = _RECIPES.get(path)
        if hit is not None and hit[0] == (files, confs):
            schema, nanos_cols, ntz_cols = hit[1]
            df = spark.read.schema(schema).parquet(path)
            return _convert_timestamps(df, nanos_cols, ntz_cols)
    try:
        df = spark.read.parquet(path)
    except Exception as e:  # AnalysisException: PARQUET_TYPE_ILLEGAL
        if "PARQUET_TYPE_ILLEGAL" not in str(e):
            raise
        spark.conf.set(_NANOS_AS_LONG, "true")
        df = spark.read.parquet(path)
        if files is not None:
            confs = _schema_confs(spark)   # the recipe is for the new value
    from pyspark.sql import types as T
    schema = df.schema
    nanos_cols = ()
    if spark.conf.get(_NANOS_AS_LONG, "false") == "true":
        footer_nanos = _parquet_nanos_cols(path)
        nanos_cols = tuple(f.name for f in schema.fields
                           if f.name in footer_nanos
                           and f.dataType.simpleString() == "bigint")
    ntz_cols = tuple(f.name for f in schema.fields
                     if isinstance(f.dataType, T.TimestampNTZType))
    if files is not None:
        _RECIPES[path] = ((files, confs), (schema, nanos_cols, ntz_cols))
    return _convert_timestamps(df, nanos_cols, ntz_cols)


def _convert_timestamps(df: DataFrame, nanos_cols, ntz_cols) -> DataFrame:
    """Nanos-since-epoch longs → microsecond timestamps, and NTZ →
    TimestampType (a relabeling under the pinned UTC session zone)."""
    if not (nanos_cols or ntz_cols):
        return df
    from pyspark.sql import functions as F
    cols = {c: F.expr(f"timestamp_micros({c} div 1000)") for c in nanos_cols}
    cols.update({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df.withColumns(cols)


def _schema_confs(spark: SparkSession) -> tuple:
    # one get per key: spark.conf.getAll costs ~150x more
    return tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)


def _fingerprint(path: str) -> tuple | None:
    """(relative name, size, mtime_ns) of every file under ``path``,
    or None when ``os.stat`` cannot see it (a remote URI)."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((".", st.st_size, st.st_mtime_ns),)
        out = []
        for root, _, names in os.walk(path):
            for n in names:
                f = os.path.join(root, n)
                st = os.stat(f)
                out.append((os.path.relpath(f, path), st.st_size,
                            st.st_mtime_ns))
        return tuple(sorted(out))
    except OSError:
        return None


def _parquet_nanos_cols(path: str) -> set[str]:
    """Column names the parquet footer declares as TIMESTAMP(NANOS).

    Read from the file metadata (pyarrow), not the Spark schema —
    under ``nanosAsLong`` Spark reports such columns as plain bigint,
    indistinguishable from a genuine long column."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
        if os.path.isdir(path):
            parts = sorted(
                os.path.join(path, f) for f in os.listdir(path)
                if f.endswith(".parquet"))
            if not parts:
                return set()
            path = parts[0]
        schema = pq.read_schema(path)
        return {f.name for f in schema
                if pa.types.is_timestamp(f.type) and f.type.unit == "ns"}
    except Exception:
        return set()


def load_sf(spark: SparkSession, sf_dir: str | None = None,
            register_views: bool = False) -> dict[str, DataFrame]:
    """Load all benchmark tables from a scale-factor dir; optionally
    register them as temp views for ``spark.sql``."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    out = {}
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            out[t] = load_table(spark, sf_dir, t)
            if register_views:
                out[t].createOrReplaceTempView(t)
    return out


def _plan_has_shuffle(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan, as AQE starts it, has a shuffle
    exchange or an aggregate.  Reads the plan text only; nothing
    runs."""
    tree = df._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"^[\s:|+\-]*([A-Za-z]\w*)", tree, re.MULTILINE)
    return any(n == "Exchange" or n.endswith("Aggregate") for n in nodes)


def parallelize_small_scan(df: DataFrame,
                           min_partitions: int | None = None) -> DataFrame:
    """Give a small-file scan enough partitions to use the cluster.

    A scan's task count comes from its input splits: a corpus stored
    as a handful of small parquet files (the local testdata is ONE
    ~600 KB file per table) plans as that many tasks, so an expensive
    projection chained onto it — regex cleaning, shingling, hashing —
    runs SERIALLY no matter how many cores exist, and a stage-boundary
    localCheckpoint then pins the serial layout for every downstream
    stage.  At production scale this is a no-op guard: a 100 TB table
    scans as ~10⁵-10⁶ splits, already ≥ ``min_partitions``, and the
    input is returned unchanged — the round-robin exchange only
    appears when the input is small enough that shuffling it is
    effectively free (measured: training_pipeline's ~3.5 s serial
    clean_text head, interleaved A/B median 2.09 → 1.08 s at sf0.1).

    ``min_partitions`` defaults to the session's default parallelism
    (= core count on local mode); for inputs this small, per-task
    scheduling/block overhead (~50-100 ms) argues for FEWER tasks
    than cores — optimal ≈ sqrt(serial_work / per_task_overhead), so
    callers with a known-short serial head pass e.g. a quarter of
    ``defaultParallelism``.

    The decision reads the plan, never runs it.  An input whose plan
    has a shuffle exchange or an aggregate is returned unchanged: its
    width is already the session's shuffle parallelism, and asking
    its RDD for a partition count would make AQE run those shuffle
    stages here, at build time, and again at the action.  Otherwise
    (a scan, optionally projected or filtered) the partition count is
    the scan's split count, which comes from file metadata: no job.
    """
    spark = df.sparkSession
    n = min_partitions or spark.sparkContext.defaultParallelism
    if _plan_has_shuffle(df) or df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def fan_out_small(df: DataFrame, full: bool = False) -> DataFrame:
    """:func:`parallelize_small_scan` with the measured width policy.

    Default quarter-parallelism suits a SHORT serial map head that
    immediately exchanges (signature building, explode-then-groupBy):
    per-task scheduling/block overhead (~50-100 ms on small inputs)
    argues for fewer, bigger tasks.  ``full=True`` is for inputs whose
    downstream heavy work PIPELINES onto these partitions with no
    re-spreading exchange (e.g. a broadcast-joined verify pass) —
    there, capping the width caps the whole computation.  Both are
    no-ops at production scale."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return parallelize_small_scan(df, cores if full else max(2, cores // 4))


def read_files(spark: SparkSession, path: str, fmt: str = "parquet",
               schema=None, *, corrupt_col: str | None = None,
               **options) -> DataFrame:
    """Unified file source (parquet / json-lines / csv / orc / text).

    At 100 TB two defaults matter and both are handled here:

    * ALWAYS pass ``schema`` for json/csv — schema inference is a full
      extra pass over the data before the real job starts.
    * Semi-structured inputs contain malformed rows; failing the whole
      job at hour N is not an option.  ``corrupt_col="_bad"`` selects
      PERMISSIVE mode with the raw text of unparseable rows captured
      in that column (filter `_bad IS NOT NULL` to quarantine them);
      default is PERMISSIVE with nulls, pass mode='FAILFAST' to abort
      on the first bad row instead.
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col requires an explicit schema "
                             "(the corrupt column must be part of it)")
        reader = (reader.option("mode", "PERMISSIVE")
                  .option("columnNameOfCorruptRecord", corrupt_col))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def from_collection(spark: SparkSession, data, schema=None) -> DataFrame:
    """Python collection → DataFrame (reference queries iterate plain
    lists/dicts; dicts of identical shape infer a struct schema).
    Driver-resident lists are bounded by the reference API contract,
    so they get size-proportional slicing (helpers.local_rows_df) —
    the default createDataFrame cuts even a tiny list into
    defaultParallelism near-empty tasks.  Non-list inputs (pandas,
    RDDs) keep the default path."""
    if isinstance(data, (list, tuple)):
        from pythonql_spark.helpers import local_rows_df, local_rows_df_infer
        if schema is not None:
            return local_rows_df(spark, data, schema)
        return local_rows_df_infer(spark, data)
    return spark.createDataFrame(data, schema=schema)


def jdbc_table(spark: SparkSession, url: str, table: str,
               partition_column: str | None = None,
               lower_bound=None, upper_bound=None,
               num_partitions: int | None = None,
               **options) -> DataFrame:
    """RDBMS source with parallel partitioned reads.  At scale, always
    pass partition_column/bounds/num_partitions so the read fans out
    across executors instead of a single JDBC cursor."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound and "
                             "upper_bound (they became the string 'None' "
                             "in the JDBC options otherwise)")
        reader = (reader.option("partitionColumn", partition_column)
                  .option("lowerBound", str(lower_bound))
                  .option("upperBound", str(upper_bound))
                  .option("numPartitions", str(num_partitions or 32)))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_catalog(spark: SparkSession, name: str, url: str,
                 driver: str | None = None, **options) -> SparkSession:
    """Register an RDBMS as a Spark V2 catalog and return a session
    scoped to it — the full equivalent of the reference's
    WrappedSubplan pushdown (sources/postgresql.py Rewriter.py:441-491):
    under a V2 JDBC catalog Spark pushes not just filters and columns
    but WHOLE AGGREGATIONS (SUM/COUNT/MIN/MAX + GROUP BY), limits, and
    sorts into the database, so `spark.sql("SELECT k, sum(v) FROM
    name.schema.tbl GROUP BY k")` ships one GROUP BY query to the DB
    and reads back only the grouped rows.

    Returns a NEW session (shared SparkContext, isolated conf) so the
    catalog and its pushdown flags don't leak into the engine-wide
    configuration."""
    ns = spark.newSession()
    prefix = f"spark.sql.catalog.{name}"
    ns.conf.set(prefix, "org.apache.spark.sql.execution.datasources"
                        ".v2.jdbc.JDBCTableCatalog")
    ns.conf.set(f"{prefix}.url", url)
    if driver:
        ns.conf.set(f"{prefix}.driver", driver)
    for flag in ("pushDownAggregate", "pushDownLimit", "pushDownOffset"):
        ns.conf.set(f"{prefix}.{flag}", "true")
    for k, v in options.items():
        ns.conf.set(f"{prefix}.{k}", str(v))
    return ns


def write_partitioned(df: DataFrame, path: str, fmt: str = "parquet",
                      partition_by: list[str] | None = None,
                      mode: str = "overwrite") -> None:
    """Partitioned sink; partition_by keys become directory partitions
    so downstream reads get partition pruning."""
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_compacted(df: DataFrame, path: str, *,
                    target_file_mb: int = 512,
                    compression_ratio: float = 3.0,
                    fmt: str = "parquet", mode: str = "overwrite") -> int:
    """Compacting sink for the small-files problem: a 100 TB pipeline
    stage that ends in thousands of tasks otherwise writes thousands
    of KB-sized files, and every downstream scan pays per-file open
    cost (plus metastore/listing pressure).

    Output partition count is derived from Catalyst's sizeInBytes
    statistic divided by ``compression_ratio`` (in-memory stats
    overestimate on-disk parquet; ~3× is typical for mixed columns),
    aiming at ``target_file_mb`` per file.  Uses coalesce() when
    shrinking — no shuffle, tasks just concatenate — and
    repartition() only when the plan has FEWER partitions than needed.
    Returns the partition count chosen."""
    stats_bytes = int(df._jdf.queryExecution().optimizedPlan()
                      .stats().sizeInBytes())
    est_disk = max(1, int(stats_bytes / compression_ratio))
    n = max(1, -(-est_disk // (target_file_mb << 20)))
    cur = df.rdd.getNumPartitions()
    out = df.coalesce(n) if n <= cur else df.repartition(n)
    out.write.format(fmt).mode(mode).save(path)
    return n


def write_range_sorted(df: DataFrame, path: str, sort_cols: list[str], *,
                       n_partitions: int | None = None,
                       fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Range-partitioned, within-partition-sorted sink: global order
    on ``sort_cols`` means each parquet row group covers a narrow
    value range, so its min/max footer stats make range predicates on
    those columns skip whole files/row-groups at read time — the
    single-dimension answer to Z-ordering, with zero read-side cost.
    The range partitioner samples the data (one extra job), which is
    the price of non-overlapping file ranges."""
    parts = [df.sparkSession.conf.get("spark.sql.shuffle.partitions")]
    n = n_partitions or int(parts[0])
    (df.repartitionByRange(n, *sort_cols)
       .sortWithinPartitions(*sort_cols)
       .write.format(fmt).mode(mode).save(path))


def zorder_expr(cols: list[str], bounds: dict[str, tuple[float, float]],
                bits: int = 21) -> str:
    """Z-value (Morton code) of 2-3 numeric columns as a SQL
    expression: each column is normalized to ``bits`` integer bits
    within its [lo, hi) bounds, then the bits are interleaved — rows
    close in Z-value are close in EVERY dimension."""
    if not 2 <= len(cols) <= 3:
        raise ValueError("zorder_expr takes 2 or 3 columns")
    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must fit in a signed long")
    norm = []
    for c in cols:
        lo, hi = bounds[c]
        if hi <= lo:
            raise ValueError(f"bounds for {c} must have hi > lo")
        cells, top = 1 << bits, (1 << bits) - 1
        norm.append(
            f"least(greatest(cast(({c} - {lo}) / ({hi} - {lo}) * {cells} "
            f"as bigint), 0), {top})")
    k = len(cols)
    terms = " | ".join(
        f"((({n} >> i) & 1) << (i * {k} + {j}))" for j, n in enumerate(norm))
    return (f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), "
            f"(acc, i) -> acc | cast({terms} as bigint))")


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   bounds: dict[str, tuple[float, float]], *,
                   n_partitions: int | None = None, bits: int = 21,
                   fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Multi-dimension data-skipping sink: range-partition + sort on
    the Z-value of ``cols`` so each parquet file/row-group covers a
    small hyper-rectangle — range predicates on ANY of the columns
    skip most files via footer min/max stats.  The 1-D version of this
    is `write_range_sorted`; use that when only one column is ever
    filtered.  ``bounds`` maps each column to its (lo, hi) domain —
    pass fixed domain knowledge or `table_profile` output; values
    outside clamp to the edge cells."""
    from pyspark.sql import functions as F
    z = F.expr(zorder_expr(cols, bounds, bits))
    parts = n_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (df.withColumn("__z", z)
       .repartitionByRange(parts, "__z")
       .sortWithinPartitions("__z")
       .drop("__z")
       .write.format(fmt).mode(mode).save(path))


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 64, sort_cols: list[str] | None = None,
                   fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Bucketed sink (hash-bucketed saveAsTable): rows are
    pre-partitioned by hash(bucket_cols) into n_buckets files per
    write task.  Joins/aggregations between tables bucketed the same
    way on the join key run WITHOUT a shuffle Exchange — the 100 TB
    answer for repeatedly-joined fact/dim tables.  ``sort_cols``
    additionally sorts within buckets so sort-merge joins skip the
    sort."""
    w = df.write.format(fmt).mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def merge_upsert(spark: SparkSession, target_path: str,
                 updates: DataFrame, keys: list[str], *,
                 partition_by: list[str] | None = None,
                 fmt: str = "parquet") -> dict:
    """MERGE/upsert into a path-based table, copy-on-write at
    partition granularity — the warehouse `MERGE INTO ... WHEN MATCHED
    UPDATE WHEN NOT MATCHED INSERT` (whole-row semantics) for plain
    parquet layouts.

    Scale shape: only the partitions the updates TOUCH are read,
    merged (anti-join on ``keys`` + union), and rewritten — untouched
    partitions' files are never opened or re-written.  The affected
    partition list is a bounded collect (partition columns are
    low-cardinality by contract: days, sources).  The rewrite uses
    Spark's dynamic partitionOverwriteMode so only partitions present
    in the merged output are replaced, and the merged rows are
    materialized (localCheckpoint) before the overwrite so the write
    never races the files it reads.  Without ``partition_by`` the
    whole table is one "partition" and gets fully rewritten —
    correct, but the COW benefit needs partitioning.

    Contract: a key's partition values must be stable across updates
    (the usual partition-pruned-merge restriction — an "update" that
    moves a row between partitions would leave the old row in the
    unread partition; route those as delete+insert instead).

    Returns {"inserted": n, "updated": n, "rewritten_partitions": n}.
    """
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(target_path)
    fs = jpath.getFileSystem(hconf)
    if not fs.exists(jpath):
        w = updates.write.format(fmt).mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(target_path)
        return {"inserted": updates.count(), "updated": 0,
                "rewritten_partitions": (
                    updates.select(partition_by).distinct().count()
                    if partition_by else 1)}

    tgt = spark.read.format(fmt).load(target_path)
    missing = set(tgt.columns) ^ set(updates.columns)
    if missing:
        raise ValueError(f"updates schema must match target; differs on "
                         f"{sorted(missing)}")
    if partition_by:
        from functools import reduce

        from pyspark.sql import functions as F
        pvals = updates.select(*partition_by).distinct().collect()
        # Column-typed predicate, not string SQL: literals of any type
        # (date, timestamp, quoted strings, NULL) render correctly and
        # Catalyst still prunes partitions on it.  A string-built
        # `c = 2024-01-01` parses as integer arithmetic.
        clause = reduce(
            lambda a, b: a | b,
            (reduce(lambda a, b: a & b,
                    ((F.col(c).isNull() if r[c] is None
                      else (F.col(c) == F.lit(r[c])))
                     for c in partition_by))
             for r in pvals))
        affected = tgt.filter(clause)
        n_parts = len(pvals)
    else:
        affected = tgt
        n_parts = 1

    upd_keys = updates.select(*keys).distinct()
    updated = affected.join(upd_keys, keys, "left_semi").count()
    survivors = affected.join(upd_keys, keys, "left_anti")
    merged = (survivors.select(*tgt.columns)
              .unionByName(updates.select(*tgt.columns))
              .localCheckpoint())          # materialize BEFORE overwrite
    inserted = updates.count() - updated

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                              "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        w = merged.write.format(fmt).mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(target_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    return {"inserted": inserted, "updated": updated,
            "rewritten_partitions": n_parts}


def write_training_shards(df: DataFrame, path: str, *,
                          rows_per_shard: int,
                          order_col: str = "doc_id",
                          token_col: str | None = None,
                          fmt: str = "parquet",
                          mode: str = "overwrite") -> DataFrame:
    """Terminal training-data sink: fixed-row shards + a manifest.

    Training loaders want (a) shards of a KNOWN uniform size so a
    data-parallel job can assign shard ranges to workers, and (b) a
    manifest recording per-shard row/token counts and a content
    digest, so resumption and integrity checks never rescan the
    corpus.  Rows are laid out in ``order_col`` order (pass a
    :func:`~pythonql_spark.operators.sampling.shuffle_key`-derived
    column for a shuffled epoch) and cut every ``rows_per_shard``
    rows; the final shard holds the remainder.

    Scale shape: the dense global position comes from
    ``sampling.global_index`` (range partition + local number +
    broadcast offsets — never a single-task window), the shard id is
    per-row arithmetic, and the directory layout is an ordinary
    ``partitionBy("shard")`` write.  The manifest is one keyed
    aggregate over shard ids (|shards| rows out): row count, token
    sum, and an order-insensitive content digest (sum of per-row
    xxhash64 over the canonical row rendering — mergeable across
    tasks, no sort).

    Writes ``<path>/data/shard=N/...`` + ``<path>/manifest`` and
    returns the manifest DataFrame."""
    from pyspark.sql import functions as F

    from pythonql_spark.operators.sampling import global_index

    pos = global_index(df, sort_cols=[order_col], out_col="__pos")
    sharded = pos.withColumn(
        "shard", (F.col("__pos") / F.lit(rows_per_shard))
        .cast("bigint")).drop("__pos")
    sharded = sharded.localCheckpoint(eager=False)   # one layout, two sinks
    write_partitioned(sharded, f"{path}/data", fmt=fmt,
                      partition_by=["shard"], mode=mode)

    cols = [c for c in sharded.columns if c != "shard"]
    row_digest = F.xxhash64(*[F.coalesce(F.col(c).cast("string"),
                                         F.lit("∅")) for c in cols])
    aggs = [F.count(F.lit(1)).alias("n_rows"),
            F.sum(row_digest.cast("decimal(38,0)"))
            .alias("content_digest"),
            F.min(order_col).alias("first_key"),
            F.max(order_col).alias("last_key")]
    if token_col is not None:
        aggs.insert(1, F.sum(F.col(token_col).cast("bigint"))
                    .alias("n_tokens"))
    manifest = sharded.groupBy("shard").agg(*aggs).orderBy("shard")
    manifest.coalesce(1).write.format(fmt).mode(mode).save(
        f"{path}/manifest")
    return manifest
