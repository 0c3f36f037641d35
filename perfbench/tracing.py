"""Per-layer measurement for the traced run.

Spans are recorded by wrapping the engine's public functions inside
the benchmark process (nothing in the engine changes).  Around every
span the Spark job group is set to the span's id, so the jobs, stages
and tasks that Spark's event log records attribute to the innermost
span that launched them.  Spans stay in memory and are written out
when the run ends; the event log is parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

# (module, function, span name).  Each function is rebound in every
# loaded engine module that imported it by name, e.g. the registry's
# top-level ``load_table``.
WRAPPED = (
    ("pythonql_spark.sources.catalog", "load_table", "sources.load"),
    ("pythonql_spark.sources.catalog", "read_files", "sources.read"),
    ("pythonql_spark.sources.catalog", "write_partitioned", "sources.write"),
    ("pythonql_spark.pql", "pql", "pql"),
    ("pythonql_spark.functions.path", "json_child", "pyworker.path"),
    ("pythonql_spark.functions.path", "json_descendants", "pyworker.path"),
    ("pythonql_spark.functions.path", "register_path_udfs",
     "pyworker.path"),
    ("pythonql_spark.operators.window_clause", "predicate_windows",
     "pyworker.window_clause"),
    ("pythonql_spark.operators.window_clause", "fixed_windows",
     "pyworker.window_clause"),
    ("pythonql_spark.operators.match_clause", "match_pattern",
     "pyworker.match_clause"),
)

# event-log accumulables of the Python/Arrow evaluation nodes
PY_ACCUMULABLES = {"data sent to Python workers": "py.sent_bytes",
                   "data returned from Python workers": "py.returned_bytes"}


class Tracer:
    """In-memory spans: name, start, end, parent and item id."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.item: int | None = None
        self.overhead_s = 0.0         # time spent in span bookkeeping
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "item": self.item,
               "parent": self._stack[-1] if self._stack else None,
               "start": None, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span{sid}", name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = t
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"span{top}", self.spans[top]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        """Wrap :data:`WRAPPED` and ``Query.df`` in every loaded engine
        module that holds them."""
        import importlib

        import pythonql_spark.benchqueries  # noqa: F401  (binds load_table)
        import pythonql_spark.operators  # noqa: F401
        from pythonql_spark.query import Query
        for mod_name, fn_name, span_name in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            traced = self.wrap(span_name, orig)
            for name, mod in list(sys.modules.items()):
                if not name.startswith("pythonql_spark") or mod is None:
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, traced)
        Query.df = self.wrap("query", Query.df)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """(jobs, stages) from the one application log in ``log_dir``.

    jobs:   job id -> {"group": job group or None, "stages": [ids]}
    stages: stage id -> summed task metrics + Python accumulables."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(paths)}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "stages": list(ev.get("Stage IDs", []))}
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = stages[ev["Stage ID"]]
                s["tasks"] += 1
                s["run_s"] += m.get("Executor Run Time", 0) / 1e3
                s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                s["result_bytes"] += m.get("Result Size", 0)
                s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                s["peak_mem_bytes"] = max(s["peak_mem_bytes"],
                                          m.get("Peak Execution Memory", 0))
                rd = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                            + rd.get("Local Bytes Read", 0))
                wr = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                s = stages[info["Stage ID"]]
                for acc in info.get("Accumulables", []):
                    key = PY_ACCUMULABLES.get(acc.get("Name"))
                    if key:
                        s[key] += float(acc.get("Value") or 0)
    return jobs, stages


# -------------------------------------------------------------- metrics

def _category(name: str) -> str:
    return name.split(".")[0] if name.startswith("pyworker") else name


def layer_metrics(spans: list[dict], jobs: dict, stages: dict,
                  items: set[int]) -> dict[str, float]:
    """Per-item means of the span and event-log layer metrics over the
    timed ``items``."""
    n = max(len(items), 1)
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def chain(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    timed = [s for s in spans if s["item"] in items]
    call_s: dict[str, float] = defaultdict(float)   # outermost per category
    self_s: dict[str, float] = defaultdict(float)
    for s in timed:
        cat = _category(s["name"])
        self_s[cat] += dur(s) - sum(dur(c) for c in children[s["id"]])
        if not any(_category(p["name"]) == cat
                   for p in list(chain(s["parent"]))):
            call_s[cat] += dur(s)

    # attribute every job to each layer on its span's ancestor chain
    job_cats: dict[str, list[int]] = defaultdict(list)
    for jid, job in jobs.items():
        g = job["group"]
        if not (g and g.startswith("span")):
            continue
        sid = int(g[4:])
        if sid not in by_id or by_id[sid]["item"] not in items:
            continue
        for cat in {_category(p["name"]) for p in chain(sid)}:
            job_cats[cat].append(jid)

    def stage_ids(cat):
        seen = set()
        for jid in job_cats.get(cat, ()):
            seen.update(jobs[jid]["stages"])
        return [sid for sid in seen if stages.get(sid, {}).get("tasks")]

    out = {
        "sources.load.call_s": call_s["sources.load"] / n,
        "sources.load.jobs": len(job_cats.get("sources.load", ())) / n,
        "sources.write.call_s": call_s["sources.write"] / n,
        "pql.self_s": self_s["pql"] / n,
        "pql.jobs": len(job_cats.get("pql", ())) / n,
        "query.self_s": self_s["query"] / n,
        "query.jobs": len(job_cats.get("query", ())) / n,
        "build.call_s": call_s["build"] / n,
        "build.jobs": len(job_cats.get("build", ())) / n,
        "action.wall_s": call_s["action"] / n,
        "action.jobs": len(job_cats.get("action", ())) / n,
        "pyworker.build_s": call_s["pyworker"] / n,
    }
    act = stage_ids("action")
    out["action.stages"] = len(act) / n
    out["action.tasks"] = sum(stages[s]["tasks"] for s in act) / n
    every = stage_ids("item")
    for k in ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "result_bytes"):
        out[f"exec.{k}"] = sum(stages[s][k] for s in every) / n
    out["exec.peak_mem_bytes"] = max(
        (stages[s]["peak_mem_bytes"] for s in every), default=0.0)
    for key in PY_ACCUMULABLES.values():
        out[key] = sum(stages[s][key] for s in every) / n
    return out


# --------------------------------------------------------------- probes

def operator_probes(spark, docs, tracer: Tracer) -> dict[str, float]:
    """Each corpus operator run alone over ``docs`` and fully
    materialized (noop write): the layer's own cost on this input.
    Also returns the exact dedup counts."""
    from pythonql_spark.benchqueries import _LINED
    from pythonql_spark.operators import text as TX
    from pythonql_spark.operators.bloom import decontaminate_bloom
    from pythonql_spark.operators.dedup import (connected_components,
                                                minhash_lsh_pairs)
    from pythonql_spark.operators.packing import pack_sequences
    from pythonql_spark.operators.text import c4_clean

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    pairs = {}

    def lsh():
        pairs["verified"] = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
        return pairs["verified"]

    def components():
        return connected_components(pairs["cp"])

    probes = (
        ("clean_quality", lambda: docs.selectExpr(
            "doc_id", TX.clean_text("text") + " as t").selectExpr(
            "doc_id", TX.quality_score("t") + " as q")),
        ("c4_clean", lambda: c4_clean(
            docs.selectExpr("doc_id", "lang", "n_chars",
                            _LINED + " as text"),
            min_words=4, min_lines=2, extra_cols=["lang", "n_chars"])),
        ("decontaminate_bloom", lambda: decontaminate_bloom(
            docs.filter("doc_id % 50 != 0"), docs.filter("doc_id % 50 = 0"),
            ngram=5)),
        ("pack_sequences", lambda: pack_sequences(
            docs, 512, shard_col="source", text_col="text")),
        ("minhash_lsh_pairs", lsh),
        ("connected_components", components),
    )
    out: dict[str, float] = {}
    for name, build in probes:
        if name == "connected_components":
            # its input pairs are materialized outside the probe
            pairs["cp"] = pairs["verified"].localCheckpoint(eager=True)
        with tracer.span(f"probe.{name}"):
            t0 = time.perf_counter()
            noop(build())
            out[f"op.{name}.probe_s"] = time.perf_counter() - t0
    verified = pairs["cp"].count()
    candidates = minhash_lsh_pairs(docs, jaccard_threshold=None).count()
    out["dedup.candidate_pairs"] = float(candidates)
    out["dedup.verified_pairs"] = float(verified)
    out["dedup.verify_ratio"] = verified / candidates if candidates else 0.0
    return out
