"""Seeded input generators for the benchmark.

Two kinds of input, both written as parquet in the ``documents`` /
TPC-H-like schemas that ``pythonql_spark.sources.load_table`` reads:

* :func:`write_tables` — the read-only tables of the analyst session
  (region … lineitem, events, documents), one parquet file per table,
  the same schema and value ranges as the engine's sf test data.
* :func:`make_corpus` / :func:`write_corpus` — a document corpus with
  planted exact duplicates, near duplicates and (optionally) one
  boilerplate cluster larger than the LSH bucket cap, returned with its
  ground truth and written as many parquet shards, like a real crawl.

Everything is a pure function of its seed: the same seed gives
byte-identical text and identical ground truth.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    ("key agg row scan slow fast table value part hash a the data line "
     "sort window merge batch spark order join query customer column "
     "group filter stream small big vector index shuffle plan cache "
     "node task stage disk memory read write file block page").split())

LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.5, 0.15, 0.15, 0.1, 0.1])


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per (seed, purpose): adding a table never
    # shifts the values of another
    h = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode())
                       .digest()[:8], "little")
    return np.random.default_rng(h)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return list(VOCAB[rng.integers(0, len(VOCAB), n)])


def fingerprint(text: str) -> str:
    """Python mirror of ``operators.text.fingerprint``: md5 of the
    case-folded, whitespace-collapsed text."""
    return hashlib.md5(re.sub(r"\s+", " ", text).strip().lower()
                       .encode()).hexdigest()


# ------------------------------------------------------------ TPC-H-like

def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


_DAY_US = 86_400_000_000


def _ts(days: np.ndarray, base: dt.date) -> pa.Array:
    """Midnight timestamps ``days`` after ``base``."""
    base_us = (base - dt.date(1970, 1, 1)).days * _DAY_US
    return pa.array(base_us + days.astype(np.int64) * _DAY_US,
                    pa.timestamp("us"))


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the session tables at scale ``sf`` into ``out_dir``;
    returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}

    def put(name: str, cols: dict[str, pa.Array]) -> None:
        t = pa.table(cols)
        rows[name] = t.num_rows
        _write(t, os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n_cust = max(150, int(150_000 * sf))
    r = _rng(seed, "customer")
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust),
                                       2)),
        "c_mktsegment": pa.array(r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], n_cust))})

    n_supp = max(10, int(10_000 * sf))
    r = _rng(seed, "supplier")
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp),
                                       2))})

    n_part = max(200, int(200_000 * sf))
    r = _rng(seed, "part")
    colors = np.array(["red", "blue", "green", "small", "large", "steel",
                       "black", "white"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "pipe", "valve"])
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            r.choice(colors, n_part), " "), r.choice(nouns, n_part))),
        "p_brand": pa.array(np.char.add(
            "Brand#", r.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(r.choice(["ECONOMY", "STANDARD", "LARGE",
                                     "SMALL", "MEDIUM", "PROMO"], n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(
            900.0 + (np.arange(n_part) % 20_000) * 0.1, 2))})

    n_ord = max(1500, int(1_500_000 * sf))
    r = _rng(seed, "orders")
    odays = r.integers(0, (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
                       + 1, n_ord)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500_000.0,
                                                    n_ord), 2)),
        "o_orderdate": _ts(odays, dt.date(1995, 1, 1)),
        "o_orderpriority": pa.array(r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord))})

    r = _rng(seed, "lineitem")
    per = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1)
                                 .astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * r.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(r.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(np.repeat(odays, per) + r.integers(1, 122, n_li),
                          dt.date(1995, 1, 1))})

    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    r = _rng(seed, "events")
    gaps = r.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    base_us = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _DAY_US
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(base_us + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(r.choice(
            ["click", "view", "purchase", "signup", "error"], n_ev)),
        "value": pa.array(np.round(r.uniform(0.01, 490.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in r.integers(0, 100, n_ev)])})

    n_docs = max(50, int(50_000 * sf))
    docs = make_corpus(n_docs, seed, exact_share=0.0, near_share=0.0)
    put("documents", docs.columns())
    return rows


# ---------------------------------------------------------------- corpus

@dataclass
class Corpus:
    """A generated corpus plus the ground truth the dedup check needs."""
    doc_id: np.ndarray
    text: list[str]
    lang: np.ndarray
    source: np.ndarray
    # planted exact-duplicate groups: lists of doc ids sharing one text
    exact_groups: list[list[int]] = field(default_factory=list)
    n_near: int = 0
    hot_cluster: int = 0

    def columns(self) -> dict[str, pa.Array]:
        return {
            "doc_id": pa.array(self.doc_id, pa.int64()),
            "text": pa.array(self.text, pa.string()),
            "lang": pa.array(self.lang, pa.string()),
            "source": pa.array(self.source, pa.string()),
            "n_chars": pa.array([len(t) for t in self.text], pa.int64())}

    def stats(self) -> dict:
        n = len(self.text)
        n_exact = sum(len(g) - 1 for g in self.exact_groups)
        return {"docs": n,
                "exact_dup_share": round(n_exact / n, 6),
                "near_dup_share": round(self.n_near / n, 6),
                "hot_cluster": self.hot_cluster}

    def digest(self) -> str:
        h = hashlib.sha256()
        for i, t, la, s in zip(self.doc_id.tolist(), self.text,
                               self.lang.tolist(), self.source.tolist()):
            h.update(f"{i}\x1f{t}\x1f{la}\x1f{s}\x1e".encode())
        return h.hexdigest()


_VOCAB_INDEX = {w: i for i, w in enumerate(VOCAB)}


def _near(rng: np.random.Generator, base: list[str]) -> list[str]:
    # replace ~5% of the words, each by a different word: 3-gram
    # Jaccard to the base stays well above the 0.5 verify threshold
    # (about 0.75)
    out = list(base)
    k = max(1, len(out) // 20)
    for i in rng.choice(len(out), k, replace=False):
        shift = 1 + int(rng.integers(0, len(VOCAB) - 1))
        out[i] = VOCAB[(_VOCAB_INDEX[out[i]] + shift) % len(VOCAB)]
    return out


def make_corpus(n_docs: int, seed: int, *, exact_share: float,
                near_share: float, hot_cluster: int = 0) -> Corpus:
    """``n_docs`` documents: unique random texts, plus planted exact
    copies (``exact_share`` of the corpus, in groups of 2-4 copies),
    near-duplicate variants (``near_share``) and, when ``hot_cluster``
    is set, one boilerplate text copied ``hot_cluster`` times.

    Within every family (an original, its exact copies, its variants)
    the exact copies hold the family's smallest ids, so near-dup
    dedup keeps exactly one doc of each exact-duplicate group."""
    rng = _rng(seed, f"corpus:{n_docs}:{exact_share}:{near_share}"
                     f":{hot_cluster}")
    families: list[tuple[list[str], int, int]] = []   # text, copies, near
    budget = n_docs
    if hot_cluster:
        families.append((_words(rng, 60), hot_cluster - 1, 0))
        budget -= hot_cluster
    n_exact = int(round(n_docs * exact_share))
    n_near = int(round(n_docs * near_share))
    n_orig = budget - n_exact - n_near
    if n_orig <= 0:
        raise ValueError("duplicate shares leave no original documents")
    copies = np.zeros(n_orig, dtype=int)
    near = np.zeros(n_orig, dtype=int)
    # spread planted copies/variants over distinct originals (1-3 each)
    left = n_exact
    for i in rng.permutation(n_orig):
        if left <= 0:
            break
        c = min(left, int(rng.integers(1, 4)))
        copies[i] += c
        left -= c
    left = n_near
    for i in rng.permutation(n_orig):
        if left <= 0:
            break
        c = min(left, int(rng.integers(1, 3)))
        near[i] += c
        left -= c
    lengths = rng.integers(20, 120, n_orig)
    for i in range(n_orig):
        families.append((_words(rng, int(lengths[i])), int(copies[i]),
                         int(near[i])))

    order = rng.permutation(n_docs)      # slot -> doc id
    text: list[str] = [""] * n_docs
    groups: list[list[int]] = []
    seen = {" ".join(f[0]) for f in families}
    slot = 0
    for base, n_copies, n_var in families:
        ids = np.sort(order[slot:slot + 1 + n_copies + n_var])
        slot += 1 + n_copies + n_var
        base_text = " ".join(base)
        exact_ids = ids[:1 + n_copies]
        for d in exact_ids:
            text[d] = base_text
        if n_copies:
            groups.append([int(d) for d in exact_ids])
        for d in ids[1 + n_copies:]:
            while True:          # a variant is never an exact copy
                t = " ".join(_near(rng, base))
                if t not in seen:
                    break
            seen.add(t)
            text[d] = t
    return Corpus(
        doc_id=np.arange(n_docs, dtype=np.int64), text=text,
        lang=rng.choice(LANGS, n_docs, p=LANG_P),
        source=np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        exact_groups=groups, n_near=n_near, hot_cluster=hot_cluster)


def write_corpus(corpus: Corpus, out_dir: str, shards: int) -> str:
    """Write the corpus as ``shards`` parquet files under
    ``out_dir/documents.parquet/`` (a directory, read by Spark as one
    table); returns ``out_dir``."""
    path = os.path.join(out_dir, "documents.parquet")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    t = pa.table(corpus.columns())
    bounds = np.linspace(0, t.num_rows, shards + 1).astype(int)
    for k in range(shards):
        _write(t.slice(bounds[k], bounds[k + 1] - bounds[k]),
               os.path.join(path, f"part-{k:05d}.parquet"))
    return out_dir
