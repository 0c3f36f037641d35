"""The three benchmark workloads and their correctness checks.

Every workload is a closed loop of *items*: one registry key called
through the public API (plan build) and its result fully materialized
— collected to pandas, or written out through
``sources.write_partitioned`` — before the next item is issued.  A
*pass* runs every item of the workload once.

* ``pql_session`` — an analyst session over TPC-H-like sf0.01 tables;
  each pass runs the 19 query-language keys in an order drawn from the
  seed.  Every result is checked against its DuckDB oracle.
* ``corpus_clean`` — a seeded corpus with few duplicates and no LSH
  bucket over the cap, through the repo's composed curation pipelines;
  the deduplicated corpus is written out.
* ``corpus_dupheavy`` — the same generator with many exact and near
  duplicates and one boilerplate cluster larger than the bucket cap,
  through the dedup pipelines only.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pandas as pd

import gen

TABLE_SF = 0.01
# the session tables are fixed; the run seed draws the query order
TABLE_SEED = 42
CLEAN_DOCS = 4000
DUP_DOCS = 8000
HOT_CLUSTER = 600        # > minhash_lsh_pairs' default max_bucket_size (500)
MAX_BUCKET_SIZE = 500

PQL_KEYS = (
    "pql_semi", "pql_outer", "pql_path", "pql_nested", "pql_match",
    "pql_window", "pql_burnrate", "journey_default_rate",
    "window_predicate", "match_partial", "try_except", "count_clause",
    "group_agg", "join_multi", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9",
    "tpch_q18")


# ------------------------------------------------------------ row checks

def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: row count plus the
    wrapping sum of per-row hashes (floats rounded to 6 places)."""
    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    try:
        h = pd.util.hash_pandas_object(df, index=False)
    except TypeError:                 # list / dict cells are unhashable
        h = pd.util.hash_pandas_object(df.astype(str), index=False)
    total = int(h.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
    return f"{len(df)}:{','.join(df.columns)}:{total:016x}"


def oracle_mismatch(spark_pd: pd.DataFrame, oracle_pd: pd.DataFrame
                    ) -> str | None:
    """None when the two frames hold the same rows, else why not:
    ``oracle_check.compare``'s own dtype and fingerprint comparison,
    applied to a result that is already collected (so the query is not
    executed a second time)."""
    from pythonql_spark.oracle_check import _fingerprint, _harmonize_dtypes
    spark_pd = spark_pd.copy()
    bad = _harmonize_dtypes(spark_pd, oracle_pd)
    if bad:
        return f"dtype mismatch in {bad}"
    (n1, c1, h1), (n2, c2, h2) = (_fingerprint(spark_pd),
                                  _fingerprint(oracle_pd))
    if c1 != c2:
        return f"columns {c1} != oracle {c2}"
    if n1 != n2:
        return f"{n1} rows != oracle {n2}"
    if h1 != h2:
        return "values differ from oracle"
    return None


# ------------------------------------------------------------- workloads

class Workload:
    """Inputs, items and checks of one workload.  ``data_dir`` holds
    the generated inputs, ``out_dir`` whatever the items write."""

    name = ""
    oracled: tuple[str, ...] = ()

    def __init__(self, seed: int, data_dir: str, out_dir: str,
                 cpus: int) -> None:
        self.seed, self.data_dir, self.out_dir = seed, data_dir, out_dir
        self.cpus = cpus
        self._duck = None

    # inputs ---------------------------------------------------------
    def make_inputs(self) -> dict:
        raise NotImplementedError

    def register(self, spark) -> None:
        """Register the inputs with a fresh session (part of set-up)."""
        raise NotImplementedError

    @property
    def docs_per_pass(self) -> int:
        raise NotImplementedError

    # items ----------------------------------------------------------
    items: tuple[str, ...] = ()      # one pass, in a fixed order
    # seconds of one warm pass on a 4-core host; a run times as many
    # whole passes as fit in its --seconds there
    pass_s = 1.0

    def timed_passes(self, seconds: float) -> int:
        """A fixed number of passes for a given ``--seconds``: every
        run times the same work, however fast the host is."""
        return max(1, int(seconds // self.pass_s))

    def pass_order(self, k: int) -> list[str]:
        """The items of timed pass ``k``."""
        return list(self.items)

    def build(self, spark, key: str):
        from pythonql_spark.benchqueries import QUERIES
        return QUERIES[key](spark, self.data_dir)

    def materialize(self, key: str, df, k: int):
        """Run ``df`` to completion; returns what the checks read."""
        return df.toPandas()

    # checks (never inside the timed region) ---------------------------
    def result_frame(self, key: str, result) -> pd.DataFrame:
        """The materialized result as a frame (reads back a write)."""
        return result

    def discard(self, key: str, result) -> None:
        """Free what :meth:`materialize` left behind."""

    def check(self, key: str, frame: pd.DataFrame) -> list[str]:
        errors = []
        if key in self.oracled:
            from pythonql_spark.benchqueries import ORACLE
            if key not in ORACLE:
                return [f"{key}: no oracle registered"]
            why = oracle_mismatch(frame,
                                  self.duck().execute(ORACLE[key]).df())
            if why:
                errors.append(f"{key}: {why}")
        return errors

    def final_checks(self, spark) -> tuple[list[str], dict]:
        return [], {}

    def duck(self):
        raise NotImplementedError

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


class PqlSession(Workload):
    name = "pql_session"
    items = oracled = PQL_KEYS
    pass_s = 10.0

    def make_inputs(self) -> dict:
        self.rows = gen.write_tables(self.data_dir, TABLE_SF, TABLE_SEED)
        return {"tables": self.rows}

    def register(self, spark) -> None:
        from pythonql_spark.sources import load_sf
        load_sf(spark, self.data_dir, register_views=True)

    @property
    def docs_per_pass(self) -> int:
        # an input record here is one row of the session's tables
        return sum(self.rows.values())

    def pass_order(self, k: int) -> list[str]:
        return random.Random(f"{self.seed}:{k}").sample(PQL_KEYS,
                                                         len(PQL_KEYS))

    def duck(self):
        if self._duck is None:
            from pythonql_spark.oracle_check import _duck
            self._duck = _duck(self.data_dir)
        return self._duck


class CorpusWorkload(Workload):
    """A generated corpus in many parquet shards, run through the
    repo's own composed pipelines."""

    n_docs = 0
    exact_share = near_share = 0.0
    hot_cluster = 0
    pass_s = 12.0

    def make_inputs(self) -> dict:
        self.corpus = gen.make_corpus(
            self.n_docs, self.seed, exact_share=self.exact_share,
            near_share=self.near_share, hot_cluster=self.hot_cluster)
        gen.write_corpus(self.corpus, self.data_dir,
                         shards=max(2 * self.cpus, 8))
        return {"corpus": self.corpus.stats(),
                "corpus_digest": self.corpus.digest()[:16]}

    def register(self, spark) -> None:
        from pythonql_spark.sources import load_table
        load_table(spark, self.data_dir, "documents") \
            .createOrReplaceTempView("documents")

    @property
    def docs_per_pass(self) -> int:
        return self.n_docs

    def duck(self):
        if self._duck is None:
            import duckdb
            self._duck = duckdb.connect()
            glob = os.path.join(self.data_dir, "documents.parquet",
                                "*.parquet")
            self._duck.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{glob}')")
        return self._duck

    def check(self, key: str, frame: pd.DataFrame) -> list[str]:
        errors = super().check(key, frame)
        if key == "dedup_corpus_minhash":
            errors += self.check_dedup(frame)
        return errors

    def check_dedup(self, kept: pd.DataFrame) -> list[str]:
        """Generator ground truth: every planted exact-duplicate group
        keeps exactly one doc, and no two kept docs share a
        fingerprint."""
        ids = set(kept["doc_id"].tolist())
        errors = []
        if len(ids) != len(kept):
            errors.append("dedup_corpus_minhash: a doc id is kept twice")
        bad = sum(1 for g in self.corpus.exact_groups
                  if sum(1 for d in g if d in ids) != 1)
        if bad:
            errors.append(f"dedup_corpus_minhash: {bad} exact-duplicate "
                          f"groups do not keep exactly one doc")
        fps = [gen.fingerprint(self.corpus.text[d]) for d in ids]
        if len(set(fps)) != len(fps):
            errors.append("dedup_corpus_minhash: two kept docs share a "
                          "fingerprint")
        return errors

    def hot_buckets(self, spark) -> int:
        from pythonql_spark.operators.dedup import minhash_bucket_report
        from pythonql_spark.sources import load_table
        docs = load_table(spark, self.data_dir, "documents")
        return minhash_bucket_report(
            docs, max_bucket_size=MAX_BUCKET_SIZE).count()

    def final_checks(self, spark) -> tuple[list[str], dict]:
        """Mechanism-vs-bypass: the dup-heavy corpus must drive at
        least one bucket over the cap, the clean corpus none."""
        n = self.hot_buckets(spark)
        want_hot = self.hot_cluster > MAX_BUCKET_SIZE
        if want_hot and n < 1:
            return [f"{self.name}: no LSH bucket over {MAX_BUCKET_SIZE}"
                    f" — the capped path was not exercised"], {"hot": n}
        if not want_hot and n:
            return [f"{self.name}: {n} LSH buckets over "
                    f"{MAX_BUCKET_SIZE} on the clean corpus"], {"hot": n}
        return [], {"hot": n}


class CorpusClean(CorpusWorkload):
    name = "corpus_clean"
    n_docs = CLEAN_DOCS
    exact_share, near_share = 0.02, 0.03
    items = ("training_pipeline", "curation_v2", "curation_pipeline",
             "dedup_corpus_minhash")
    oracled = ("training_pipeline", "curation_v2", "curation_pipeline")

    def materialize(self, key: str, df, k: int):
        if key != "dedup_corpus_minhash":
            return df.toPandas()
        # the kept corpus is the one output this workload writes
        from pythonql_spark.sources import write_partitioned
        path = os.path.join(self.out_dir, f"kept-{k}")
        write_partitioned(df, path, partition_by=["lang"])
        return path

    def result_frame(self, key: str, result) -> pd.DataFrame:
        if key != "dedup_corpus_minhash":
            return result
        import pyarrow.dataset as ds
        t = ds.dataset(result, format="parquet",
                       partitioning="hive").to_table()
        pdf = t.to_pandas()
        pdf["lang"] = pdf["lang"].astype(str)
        return pdf[["doc_id", "source", "lang"]]

    def discard(self, key: str, result) -> None:
        if key == "dedup_corpus_minhash":
            shutil.rmtree(result, ignore_errors=True)


class CorpusDupHeavy(CorpusWorkload):
    name = "corpus_dupheavy"
    n_docs = DUP_DOCS
    exact_share, near_share = 0.2, 0.25
    hot_cluster = HOT_CLUSTER
    items = ("dedup_corpus_minhash", "doc_pipeline")
    oracled = ("doc_pipeline",)


WORKLOADS = {w.name: w for w in (PqlSession, CorpusClean, CorpusDupHeavy)}
