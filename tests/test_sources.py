"""File sources: explicit-schema reads, malformed-row quarantine, and
collection sources (reference sources/*.py surface)."""

import re

import pytest

from pythonql_spark.sources import from_collection, read_files


def test_read_jsonl_quarantines_corrupt_rows(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "ok"}\n'
        'THIS IS NOT JSON\n'
        '{"doc_id": {"nested": 3}, "text": "y"}\n')  # type mismatch
    schema = "doc_id long, text string, _bad string"
    df = read_files(spark, str(p), "json", schema, corrupt_col="_bad").cache()
    good = df.filter("_bad IS NULL")
    bad = df.filter("_bad IS NOT NULL")
    assert {r.doc_id for r in good.collect()} == {1, 2}
    assert bad.count() == 2  # the job survives and quarantines them


def test_read_csv_with_schema(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id,name\n1,a\n2,b\n")
    df = read_files(spark, str(p), "csv", "id long, name string",
                    header="true")
    assert sorted((r.id, r.name) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_read_files_requires_schema_for_quarantine(spark, tmp_path):
    import pytest
    with pytest.raises(ValueError):
        read_files(spark, str(tmp_path), "json", corrupt_col="_bad")


def test_from_collection(spark):
    df = from_collection(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    assert df.count() == 2 and set(df.columns) == {"a", "b"}


def test_zorder_expr_interleaves(spark):
    from pythonql_spark.sources import zorder_expr
    # 2 cols, 2 bits each: (x=3,y=0) -> bits x1 x0 interleaved at even
    # positions = 0b0101 = 5; (x=0,y=3) -> odd positions = 0b1010 = 10
    e = zorder_expr(["x", "y"], {"x": (0, 4), "y": (0, 4)}, bits=2)
    df = spark.createDataFrame(
        [(3.999, 0.0), (0.0, 3.999), (3.999, 3.999)], "x double, y double")
    vals = [r[0] for r in df.selectExpr(e).collect()]
    assert vals == [5, 10, 15]


def test_write_zordered_narrows_file_ranges(spark, tables, tmp_path):
    """Every z-ordered output file must cover a SMALL rectangle of the
    2-D domain — that is what makes parquet min/max stats skip files
    for range predicates on either column."""
    from pyspark.sql import functions as F

    from pythonql_spark.sources import write_zordered
    o = tables["orders"]
    lo_c, hi_c = 0.0, 150.0
    lo_p, hi_p = 0.0, 500000.0
    out = str(tmp_path / "z")
    write_zordered(o, out, ["o_custkey", "o_totalprice"],
                   {"o_custkey": (lo_c, hi_c), "o_totalprice": (lo_p, hi_p)},
                   n_partitions=8)
    per_file = (spark.read.parquet(out)
                .groupBy(F.input_file_name().alias("f"))
                .agg((F.max("o_custkey") - F.min("o_custkey")).alias("sc"),
                     (F.max("o_totalprice") - F.min("o_totalprice")).alias("sp"))
                .agg(F.avg("sc").alias("sc"), F.avg("sp").alias("sp"),
                     F.count(F.lit(1)).alias("nf"))).first()
    assert per_file.nf >= 4
    # average file spans well under the full domain on BOTH dimensions
    assert per_file.sc < 0.75 * (hi_c - lo_c), per_file
    assert per_file.sp < 0.75 * (hi_p - lo_p), per_file


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_timestamp_encoding_matrix(spark, tmp_path, unit):
    """Driver testdata has shipped events.ts as TIMESTAMP(NANOS) (r1)
    and TIMESTAMP(MICROS, isAdjustedToUTC=0) (r2); a re-encode must
    never again break consumers.  Both encodings must surface from
    load_table as plain TimestampType with identical instants, and an
    NTZ event-time column must be accepted by the watermark path at
    plan time."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pythonql_spark.sources import load_table
    from pythonql_spark.streaming import tumbling_agg, with_watermark

    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    ts = [base + dt.timedelta(minutes=7 * i) for i in range(8)]
    tbl = pa.table({
        "event_id": pa.array(range(8), pa.int64()),
        "ts": pa.array(ts, pa.timestamp(unit)),   # no tz => isAdjustedToUTC=0
        "user_id": pa.array([i % 3 for i in range(8)], pa.int64()),
    })
    d = tmp_path / unit
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet",
                   use_deprecated_int96_timestamps=False,
                   coerce_timestamps=None)

    df = load_table(spark, str(d), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts for r in df.select("ts").collect())
    assert got == ts          # same wall-clock instants, any encoding

    # watermark path accepts the (possibly NTZ) file schema at plan
    # time; a nanos file reads as bigint (nanosAsLong) and takes the
    # same explicit conversion load_table applies
    raw_schema = spark.read.parquet(str(d / "events.parquet")).schema
    stream = spark.readStream.schema(raw_schema).parquet(str(d))
    if dict((f.name, f.dataType.simpleString())
            for f in raw_schema.fields)["ts"] == "bigint":
        from pyspark.sql import functions as F
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    agg = tumbling_agg(with_watermark(stream, "ts", "1 minute"), "1 hour")
    assert agg.isStreaming


def test_jdbc_live_pushdown(spark, tmp_path):
    """Live RDBMS round-trip against embedded Derby (ships in Spark's
    jars): the reference pushes projections/predicates into the
    database (sources/postgresql.py WrappedSubplan); Spark's JDBC
    source must do the same — the scan's external query carries the
    WHERE clause and only the selected columns, and the partitioned
    read fans out."""
    from pythonql_spark.sources import jdbc_table

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    (spark.range(100)
     .selectExpr("id", "id * 2 as val", "cast(id % 7 as int) as grp")
     .write.format("jdbc").option("url", url).option("dbtable", "t1")
     .option("driver", drv).mode("overwrite").save())

    r = jdbc_table(spark, url, "t1", partition_column="id",
                   lower_bound=0, upper_bound=100, num_partitions=4,
                   driver=drv)
    q = r.filter("val > 50").select("id", "grp")
    assert q.count() == 74                       # executed, not plan-only
    assert q.rdd.getNumPartitions() == 4         # parallel partitioned read

    jvm = spark._jvm
    plan = q._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "GreaterThan(val,50)" in plan, plan   # predicate pushed
    m = re.search(r"External engine query: (.*)", plan)
    assert m and '"val" > 50' in m.group(1), plan    # ...into the DB's SQL
    assert '"id","grp"' in m.group(1), plan      # column pruning server-side


def test_jdbc_catalog_aggregate_pushdown(spark, tmp_path):
    """Under a V2 JDBC catalog the WHOLE aggregation must execute in
    the database (the reference's WrappedSubplan capability): the scan
    shows pushed aggregates, group-by expressions, and filters, and
    the result matches computing the same aggregate Spark-side."""
    from pyspark.sql import functions as F

    from pythonql_spark.sources import jdbc_catalog

    url = f"jdbc:derby:{tmp_path}/cdb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    (spark.range(1000)
     .selectExpr("id", "id % 7 as grp", "id * 1.5 as val")
     .write.format("jdbc").option("url", url).option("dbtable", "t3")
     .option("driver", drv).mode("overwrite").save())

    ns = jdbc_catalog(spark, "db", url, driver=drv)
    q = ns.sql("SELECT grp, sum(val) AS total, count(*) AS n "
               "FROM db.APP.T3 WHERE id > 100 GROUP BY grp")
    jvm = ns._jvm
    p = q._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "PushedAggregates: [SUM(val), COUNT(*)]" in p, p
    assert "PushedGroupByExpressions: [grp]" in p, p
    assert re.search(r"PushedFilters:.*id > 100", p), p

    got = {(r.grp, float(r.total), r.n) for r in q.collect()}
    want = {(r.grp, float(r.total), r.n) for r in
            (spark.range(1000).selectExpr("id", "id % 7 as grp",
                                          "id * 1.5 as val")
             .filter("id > 100").groupBy("grp")
             .agg(F.sum("val").alias("total"),
                  F.count(F.lit(1)).alias("n"))).collect()}
    assert got == want


def test_read_files_orc_and_text(spark, tmp_path):
    """read_files handles every claimed format; orc round-trips typed
    columns, text yields one row per line in a `value` column."""
    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id long, s string")
    orc_dir = str(tmp_path / "o")
    df.write.format("orc").save(orc_dir)
    back = read_files(spark, orc_dir, "orc", "id long, s string")
    assert sorted((r.id, r.s) for r in back.collect()) == [(1, "alpha"), (2, "beta")]

    p = tmp_path / "lines.txt"
    p.write_text("first line\nsecond line\n")
    txt = read_files(spark, str(p), "text")
    assert sorted(r.value for r in txt.collect()) == ["first line", "second line"]


def test_genuine_bigint_ts_not_corrupted_by_nanos_fallback(spark, tmp_path):
    """Once one nanos-encoded file flips nanosAsLong session-wide, a
    table whose `ts` is a GENUINE long (an id / epoch-millis column)
    must pass through load_table untouched — the long→timestamp
    rewrite is scoped via the parquet footer's logical type."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pythonql_spark.sources import load_table

    d = tmp_path / "mix"
    d.mkdir()
    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([base, base], pa.timestamp("ns")),
    }), d / "events.parquet")
    longs = [7, 1_700_000_000_123]
    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(longs, pa.int64()),
    }), d / "documents.parquet")

    # trigger the nanos fallback (sets nanosAsLong for the session)
    load_table(spark, str(d), "events").collect()
    assert spark.conf.get(
        "spark.sql.legacy.parquet.nanosAsLong", "false") == "true"

    doc = load_table(spark, str(d), "documents")
    assert dict(doc.dtypes)["ts"] == "bigint"
    assert sorted(r.ts for r in doc.select("ts").collect()) == longs


# ------------------------------------------------- load_table cache

def _load_jobs(spark, sf_dir, name):
    """(DataFrame, Spark jobs launched) for one load_table call."""
    import uuid

    from pythonql_spark.sources import load_table
    sc = spark.sparkContext
    group = f"load_{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"load_table {name}")
    try:
        df = load_table(spark, str(sf_dir), name)
        # the status tracker is fed by the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(cols), path)


def test_load_table_warm_runs_no_job(spark, tmp_path):
    """Schema inference is a Spark job; a warm load reuses the cached
    recipe (NTZ column included) and runs none, with the same schema
    and rows as the cold load."""
    import datetime as dt

    import pyarrow as pa
    ts = [dt.datetime(2024, 5, 1, h) for h in range(3)]
    _write(tmp_path / "events.parquet",
           event_id=pa.array([1, 2, 3], pa.int64()),
           ts=pa.array(ts, pa.timestamp("us")))
    cold, cold_jobs = _load_jobs(spark, tmp_path, "events")
    warm, warm_jobs = _load_jobs(spark, tmp_path, "events")
    assert cold_jobs >= 1 and warm_jobs == 0
    assert warm.schema == cold.schema
    assert dict(warm.dtypes)["ts"] == "timestamp"
    assert sorted(warm.collect()) == sorted(cold.collect())
    assert sorted(r.ts for r in warm.collect()) == ts


def test_load_table_overwrite_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "x")], "a long, b string") \
        .write.mode("overwrite").parquet(path)
    first, _ = _load_jobs(spark, tmp_path, "t")
    assert first.columns == ["a", "b"]
    spark.createDataFrame([(2, 2.5)], "a long, c double") \
        .write.mode("overwrite").parquet(path)
    again, _ = _load_jobs(spark, tmp_path, "t")
    assert again.columns == ["a", "c"]
    assert [tuple(r) for r in again.collect()] == [(2, 2.5)]


def test_load_table_new_partition_file_invalidates(spark, tmp_path):
    """The fingerprint walks hive-partition subdirectories: a file
    added under a new ``p=`` directory re-infers, so the partition
    column's type follows the new value instead of the cached int."""
    import pyarrow as pa
    _write(tmp_path / "t.parquet" / "p=1" / "part-0.parquet",
           v=pa.array([1], pa.int64()))
    first, _ = _load_jobs(spark, tmp_path, "t")
    assert dict(first.dtypes)["p"] == "int"
    _write(tmp_path / "t.parquet" / "p=x" / "part-0.parquet",
           v=pa.array([2], pa.int64()))
    again, jobs = _load_jobs(spark, tmp_path, "t")
    assert jobs >= 1
    assert dict(again.dtypes)["p"] == "string"
    assert sorted((r.v, r.p) for r in again.collect()) == [(1, "1"), (2, "x")]


def test_load_table_conf_flip_reinfers(spark, tmp_path):
    import pyarrow as pa
    _write(tmp_path / "b.parquet", k=pa.array([1], pa.int64()),
           raw=pa.array([b"hi"], pa.binary()))
    assert dict(_load_jobs(spark, tmp_path, "b")[0].dtypes)["raw"] == "binary"
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df, jobs = _load_jobs(spark, tmp_path, "b")
        assert jobs >= 1
        assert dict(df.dtypes)["raw"] == "string"
        assert df.first().raw == "hi"
    finally:
        spark.conf.set(key, old)
    assert dict(_load_jobs(spark, tmp_path, "b")[0].dtypes)["raw"] == "binary"


def test_load_table_nanos_fallback_is_cached(spark, tmp_path):
    """A session without nanosAsLong takes the PARQUET_TYPE_ILLEGAL
    fallback once; the recipe is stored under the flipped conf, so the
    next load is warm."""
    import datetime as dt

    import pyarrow as pa
    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    _write(tmp_path / "events.parquet", event_id=pa.array([1], pa.int64()),
           ts=pa.array([base], pa.timestamp("ns")))
    s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    cold, _ = _load_jobs(s, tmp_path, "events")
    assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    warm, jobs = _load_jobs(s, tmp_path, "events")
    assert jobs == 0
    for df in (cold, warm):
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert [r.ts for r in df.collect()] == [base]


def test_load_table_unstattable_path_not_cached(spark, tmp_path):
    """A path os.stat cannot see (here a ``file:`` URI; in production
    ``s3a://`` or ``hdfs://``) is inferred on every call, never cached."""
    import pyarrow as pa

    from pythonql_spark.sources import catalog
    _write(tmp_path / "u.parquet", k=pa.array([1, 2], pa.int64()))
    uri = f"file://{tmp_path}"
    for _ in range(2):
        df, jobs = _load_jobs(spark, uri, "u")
        assert jobs >= 1
        assert sorted(r.k for r in df.collect()) == [1, 2]
    assert not any(str(tmp_path) in p for p in catalog._RECIPES)


# ------------------------------------------------------- merge_upsert

def test_merge_upsert_unpartitioned(spark, tmp_path):
    from pythonql_spark.sources.catalog import merge_upsert
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, val string")
    stats = merge_upsert(spark, path, base, ["id"])
    assert stats == {"inserted": 10, "updated": 0, "rewritten_partitions": 1}
    upd = spark.createDataFrame(
        [(3, "NEW3"), (7, "NEW7"), (100, "v100"), (101, "v101")],
        "id long, val string")
    stats = merge_upsert(spark, path, upd, ["id"])
    assert stats == {"inserted": 2, "updated": 2, "rewritten_partitions": 1}
    got = {r.id: r.val for r in spark.read.parquet(path).collect()}
    assert len(got) == 12
    assert got[3] == "NEW3" and got[7] == "NEW7"
    assert got[0] == "v0" and got[100] == "v100"


def test_merge_upsert_partitioned_cow(spark, tmp_path):
    import os
    from pythonql_spark.sources.catalog import merge_upsert
    path = str(tmp_path / "p")
    base = spark.createDataFrame(
        [(i, f"d{i % 3}", f"v{i}") for i in range(30)],
        "id long, day string, val string")
    merge_upsert(spark, path, base, ["id"], partition_by=["day"])

    def files(day):
        d = os.path.join(path, f"day={day}")
        return sorted((f, os.path.getmtime(os.path.join(d, f)))
                      for f in os.listdir(d) if f.endswith(".parquet"))

    before_d0, before_d1 = files("d0"), files("d1")
    # update rows only in day d1, insert a new day d9
    upd = spark.createDataFrame(
        [(1, "d1", "UPDATED"), (999, "d9", "fresh")],
        "id long, day string, val string")
    stats = merge_upsert(spark, path, upd, ["id"], partition_by=["day"])
    assert stats == {"inserted": 1, "updated": 1, "rewritten_partitions": 2}
    # copy-on-write proof: untouched partition d0's files are IDENTICAL
    assert files("d0") == before_d0
    # touched partition d1 was rewritten
    assert files("d1") != before_d1
    got = spark.read.parquet(path)
    assert got.count() == 31
    assert got.filter("id = 1").first().val == "UPDATED"
    assert got.filter("day = 'd9'").count() == 1
    # all 10 original d1 rows survived the partition rewrite
    assert got.filter("day = 'd1'").count() == 10


def test_merge_upsert_date_partition(spark, tmp_path):
    """Partition predicates must be built as typed Columns: a DATE
    partition value rendered into string SQL parses as integer
    arithmetic (`day = 2024-01-01` -> `day = 2022`) and either fails
    analysis or silently mis-filters — non-updated rows in the touched
    partition would then be dropped by the dynamic overwrite."""
    import datetime
    from pythonql_spark.sources.catalog import merge_upsert
    path = str(tmp_path / "dt")
    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    base = spark.createDataFrame(
        [(1, d1, "a"), (2, d1, "b"), (3, d2, "c")],
        "id int, day date, v string")
    merge_upsert(spark, path, base, ["id"], partition_by=["day"])
    upd = spark.createDataFrame([(2, d1, "B")], "id int, day date, v string")
    stats = merge_upsert(spark, path, upd, ["id"], partition_by=["day"])
    assert stats == {"inserted": 0, "updated": 1, "rewritten_partitions": 1}
    got = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
    # id=1 lives in the SAME partition as the update and must survive
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_merge_upsert_quoted_string_partition(spark, tmp_path):
    """A partition value containing a single quote must not break the
    predicate (string-SQL rendering would)."""
    from pythonql_spark.sources.catalog import merge_upsert
    path = str(tmp_path / "q")
    base = spark.createDataFrame(
        [(1, "o'brien", "a"), (2, "o'brien", "b"), (3, "plain", "c")],
        "id int, src string, v string")
    merge_upsert(spark, path, base, ["id"], partition_by=["src"])
    upd = spark.createDataFrame([(2, "o'brien", "B")],
                                "id int, src string, v string")
    stats = merge_upsert(spark, path, upd, ["id"], partition_by=["src"])
    assert stats["updated"] == 1 and stats["inserted"] == 0
    got = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_jdbc_table_requires_bounds_with_partition_column(spark):
    import pytest as _pytest
    from pythonql_spark.sources.catalog import jdbc_table
    with _pytest.raises(ValueError, match="lower_bound"):
        jdbc_table(spark, "jdbc:derby:memory:x", "t",
                   partition_column="id")


def test_merge_upsert_schema_mismatch_raises(spark, tmp_path):
    import pytest as _pytest
    from pythonql_spark.sources.catalog import merge_upsert
    path = str(tmp_path / "s")
    base = spark.createDataFrame([(1, "a")], "id long, val string")
    merge_upsert(spark, path, base, ["id"])
    bad = spark.createDataFrame([(2, "b", 1.0)],
                                "id long, val string, extra double")
    with _pytest.raises(ValueError, match="schema"):
        merge_upsert(spark, path, bad, ["id"])


# ----------------------------------------------------------- orc source/sink

def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """read_files('orc') round-trips and pushes filters into the ORC
    scan (predicate + column pruning visible in the plan)."""
    from pythonql_spark.sources import read_files
    p = str(tmp_path / "orc_tbl")
    src = spark.range(1000).selectExpr(
        "id", "id % 7 as grp", "cast(id * 1.5 as double) as v",
        "concat('name_', id) as name")
    src.write.format("orc").mode("overwrite").save(p)
    back = read_files(spark, p, fmt="orc")
    assert back.count() == 1000
    assert sorted(back.columns) == ["grp", "id", "name", "v"]
    q = back.filter("grp = 3").select("id", "v")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "grp" in plan.split("PushedFilters")[1][:200]
    rs = plan.split("ReadSchema")[1][:200]
    assert "name" not in rs  # column pruning reached the ORC scan
    assert q.count() == sum(1 for i in range(1000) if i % 7 == 3)


# ----------------------------------------------------------- scd2 dimension

def _mk_ts(s):
    import datetime as dt
    return dt.datetime.fromisoformat(s)


def test_scd2_apply_chains_versions(spark):
    from pyspark.sql import Row
    from pythonql_spark.operators.scd import (
        scd2_apply, scd2_as_of, scd2_current)
    dim = spark.createDataFrame([
        # supplier 1: one closed version + one current
        Row(s_id=1, city="lyon", valid_from=_mk_ts("2024-01-01T00:00"),
            valid_to=_mk_ts("2024-06-01T00:00")),
        Row(s_id=1, city="paris", valid_from=_mk_ts("2024-06-01T00:00"),
            valid_to=None),
        # supplier 2: untouched by the batch
        Row(s_id=2, city="berlin", valid_from=_mk_ts("2024-01-01T00:00"),
            valid_to=None),
    ])
    updates = spark.createDataFrame([
        # two chained updates for supplier 1 in one batch
        Row(s_id=1, city="nice", ts=_mk_ts("2025-01-01T00:00")),
        Row(s_id=1, city="lille", ts=_mk_ts("2025-03-01T00:00")),
        # brand-new supplier 3
        Row(s_id=3, city="rome", ts=_mk_ts("2025-02-01T00:00")),
    ])
    out = scd2_apply(dim, updates, keys=["s_id"]).cache()
    rows = {(r.s_id, r.city): (r.valid_from, r.valid_to)
            for r in out.collect()}
    assert len(rows) == 6
    # old current row closed at the first update ts
    assert rows[(1, "paris")][1] == _mk_ts("2025-01-01T00:00")
    # batch updates chain: nice -> closed by lille; lille current
    assert rows[(1, "nice")] == (_mk_ts("2025-01-01T00:00"),
                                 _mk_ts("2025-03-01T00:00"))
    assert rows[(1, "lille")] == (_mk_ts("2025-03-01T00:00"), None)
    # history + untouched keys pass through byte-identical
    assert rows[(1, "lyon")] == (_mk_ts("2024-01-01T00:00"),
                                 _mk_ts("2024-06-01T00:00"))
    assert rows[(2, "berlin")][1] is None
    # new key inserts as current
    assert rows[(3, "rome")] == (_mk_ts("2025-02-01T00:00"), None)

    cur = {r.s_id: r.city for r in scd2_current(out).collect()}
    assert cur == {1: "lille", 2: "berlin", 3: "rome"}
    asof = {r.s_id: r.city
            for r in scd2_as_of(out, "2025-02-15 00:00:00").collect()}
    assert asof == {1: "nice", 2: "berlin", 3: "rome"}


def test_scd2_dimension_never_shuffles(spark):
    """The dimension side must join the delta by broadcast — no
    exchange keyed on the dimension."""
    from pyspark.sql import Row
    from pythonql_spark.operators.scd import scd2_apply
    dim = spark.range(10000).selectExpr(
        "id as s_id", "concat('c', id) as city",
        "timestamp'2024-01-01 00:00:00' as valid_from",
        "cast(null as timestamp) as valid_to")
    updates = spark.createDataFrame([
        Row(s_id=7, city="x", ts=_mk_ts("2025-01-01T00:00"))])
    plan = scd2_apply(dim, updates, keys=["s_id"]) \
        ._jdf.queryExecution().executedPlan().toString()
    # the delta side may window-shuffle (it's tiny); the dimension must
    # join by broadcast, never sort-merge
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_scd2_rejects_validity_columns_in_updates(spark):
    from pyspark.sql import Row
    from pythonql_spark.operators.scd import scd2_apply
    import pytest as _pt
    dim = spark.createDataFrame(
        [Row(s_id=1, city="a", valid_from=_mk_ts("2024-01-01T00:00"),
             valid_to=None)],
        "s_id long, city string, valid_from timestamp, valid_to timestamp")
    bad = spark.createDataFrame([
        Row(s_id=1, city="b", ts=_mk_ts("2025-01-01T00:00"),
            valid_from=_mk_ts("2025-01-01T00:00"))])
    with _pt.raises(ValueError):
        scd2_apply(dim, bad, keys=["s_id"])


# ----------------------------------------------------- binary file ingestion

def test_binaryfile_source_feeds_image_decode(spark, tmp_path):
    """Spark's binaryFile source is the 100 TB media-ingestion path:
    a directory of image files becomes (path, content) rows that flow
    straight into the engine's real PNG decoder."""
    from pyspark.sql import functions as F

    from pythonql_spark.operators import multimodal as MM
    from pythonql_spark.operators.png import encode_png
    from pythonql_spark.sources import read_files

    d = tmp_path / "imgs"
    d.mkdir()
    for i in range(6):
        px = bytes((i * 37 + j) % 256 for j in range(64))
        (d / f"img_{i}.png").write_bytes(encode_png(8, 8, 1, px))
    (d / "notes.txt").write_text("not an image")

    files = read_files(spark, str(d), fmt="binaryFile",
                       pathGlobFilter="*.png")
    assert files.count() == 6  # the glob filtered the .txt out
    media = files.select(
        F.expr("reverse(split(path, '/'))[0]").alias("name"),
        MM.make_media("content", "image", "png", 8, 8).alias("media"))
    feats = MM.decode_image(media).selectExpr(
        "name", "media.meta.width as width", "mean_intensity",
        "pixels_sample")
    rows = feats.collect()
    assert len(rows) == 6
    assert all(r.width == 8 for r in rows)
    # real decode: the sample equals the first 16 pixels we wrote
    byname = {r.name: r for r in rows}
    assert byname["img_0.png"].pixels_sample == list(range(0, 16))
    # distinct inputs decode to distinct intensities
    assert len({r.mean_intensity for r in rows}) > 1


def test_write_training_shards_layout_and_manifest(spark, tables, tmp_path):
    from pythonql_spark.sources.catalog import write_training_shards

    docs = tables["documents"].select("doc_id", "lang", "n_chars")
    n = docs.count()
    out = str(tmp_path / "shards")
    manifest = write_training_shards(
        docs, out, rows_per_shard=64, order_col="doc_id",
        token_col="n_chars").collect()

    # every shard is exactly 64 rows except the last remainder
    sizes = [r.n_rows for r in manifest]
    assert sizes[:-1] == [64] * (len(sizes) - 1)
    assert sum(sizes) == n
    assert [r.shard for r in manifest] == list(range(len(sizes)))

    # shards cover contiguous, non-overlapping key ranges in order
    for a, b in zip(manifest, manifest[1:]):
        assert a.last_key < b.first_key

    # reread: directory partitioning, per-shard counts and token sums
    # match the manifest, and the content digest is recomputable
    back = spark.read.parquet(f"{out}/data")
    from pyspark.sql import functions as F
    cols = [c for c in back.columns if c != "shard"]
    digest = F.sum(F.xxhash64(*[F.coalesce(F.col(c).cast("string"),
                                           F.lit("∅")) for c in cols])
                   .cast("decimal(38,0)"))
    re_agg = {r.shard: r for r in
              (back.groupBy("shard")
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum("n_chars").alias("n_tokens"),
                    digest.alias("content_digest")).collect())}
    for r in manifest:
        assert re_agg[r.shard].n_rows == r.n_rows
        assert re_agg[r.shard].n_tokens == r.n_tokens
        assert re_agg[r.shard].content_digest == r.content_digest


def test_write_training_shards_shuffled_epoch(spark, tables, tmp_path):
    """Composes with the seeded epoch shuffle: order by shuffle_key,
    shards become a reproducible random permutation."""
    from pyspark.sql import functions as F

    from pythonql_spark.operators.sampling import shuffle_key
    from pythonql_spark.sources.catalog import write_training_shards

    docs = (tables["documents"].select("doc_id", "lang")
            .withColumn("sk", F.expr(shuffle_key("doc_id", seed=3))))
    out1 = str(tmp_path / "e1")
    out2 = str(tmp_path / "e2")
    m1 = write_training_shards(docs, out1, rows_per_shard=100,
                               order_col="sk").collect()
    m2 = write_training_shards(docs, out2, rows_per_shard=100,
                               order_col="sk").collect()
    assert [(r.shard, r.n_rows, r.content_digest) for r in m1] == \
           [(r.shard, r.n_rows, r.content_digest) for r in m2]
    s0a = spark.read.parquet(f"{out1}/data").filter("shard = 0")
    s0b = spark.read.parquet(f"{out2}/data").filter("shard = 0")
    assert sorted(r.doc_id for r in s0a.collect()) == \
           sorted(r.doc_id for r in s0b.collect())


def test_incremental_refresh_untouched_shards_byte_identical(spark, tmp_path):
    """snapshot_diff ∘ re-embed-changed ∘ merge_upsert: an incremental
    corpus refresh rewrites ONLY the shard partitions holding
    added/changed docs; every other shard's files stay byte-identical,
    and the refreshed table equals a full rebuild of the new corpus."""
    import importlib.util
    import os
    spec = importlib.util.spec_from_file_location(
        "curation_example",
        os.path.join(os.path.dirname(__file__), "..", "examples",
                     "curation.py"))
    ex = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ex)

    path = str(tmp_path / "curated")
    v1 = spark.createDataFrame(
        [(i, f"doc number {i} original body text") for i in range(40)],
        "doc_id long, text string")
    ex.build_shard_table(spark, v1, path, n_shards=4)

    def files(shard):
        d = os.path.join(path, f"shard={shard}")
        return sorted((f, os.path.getmtime(os.path.join(d, f)),
                       os.path.getsize(os.path.join(d, f)))
                      for f in os.listdir(d) if f.endswith(".parquet"))

    before = {s: files(s) for s in range(4)}
    # v2: edit docs 3 and 17, add docs 100/101, remove doc 5
    v2 = spark.createDataFrame(
        [(i, f"doc number {i} original body text")
         for i in range(40) if i not in (3, 17, 5)]
        + [(3, "doc number 3 EDITED body"), (17, "doc number 17 EDITED"),
           (100, "brand new document"), (101, "another new document")],
        "doc_id long, text string")
    stats = ex.incremental_refresh(spark, v1, v2, path, n_shards=4)
    assert (stats["added"], stats["changed"], stats["removed"]) == (2, 2, 1)
    touched = {r.shard for r in spark.sql(
        f"SELECT DISTINCT pmod(xxhash64(doc_id), 4) AS shard "
        f"FROM VALUES (3L), (17L), (100L), (101L) t(doc_id)").collect()}
    assert stats["rewritten_partitions"] == len(touched)
    for s in range(4):
        if s in touched:
            assert files(s) != before[s], s       # rewritten
        else:
            assert files(s) == before[s], s       # byte-identical
    # refreshed table == full rebuild of v2 (minus the removal, which
    # upsert cannot delete — doc 5 survives by contract)
    got = spark.read.parquet(path)
    assert got.count() == 42                      # 40 - 0 + 2 new
    assert got.filter("doc_id = 3").first().text == "doc number 3 EDITED body"
    full = str(tmp_path / "full")
    ex.build_shard_table(spark, v2, full, n_shards=4)
    a = {(r.doc_id, r.text, tuple(r.embedding))
         for r in got.filter("doc_id != 5")
         .select("doc_id", "text", "embedding").collect()}
    b = {(r.doc_id, r.text, tuple(r.embedding))
         for r in spark.read.parquet(full)
         .select("doc_id", "text", "embedding").collect()}
    assert a == b
