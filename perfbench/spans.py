"""Spans around calls into the package's layers, for the traced pass.

:func:`instrumented` swaps each layer's public function for a wrapper
that opens a span, runs the function and, when it returns a lazy
DataFrame, forces that DataFrame into Spark's ``noop`` sink so the span
covers its execution. Row counts ride the same execution through
``DataFrame.observe``, so counting costs no extra Spark action. The
CLI commands import these functions at call time, so the untouched
command code runs against the wrappers.

A span records name, start, end, parent and run id, plus the
process-tree I/O over its interval and the Spark task metrics of the
jobs it ran (each span runs under its own job group). Spans stay in
memory; the runner writes them out once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import os
import time

from measure import MIB, SparkJobs, sample_tree

PKG = "curw_flo2d_data_manager_spark"

# (module, attribute, span name, what the wrapper does)
#   lazy  - the function returns a DataFrame: force it, count its rows
#   sink  - the function writes a text file: count the lines written
#   args  - like lazy, and also count the rows of the two inputs
#   lsh   - like lazy, with the verification threshold lifted so the
#           candidate pairs and the verified pairs are both counted
LAYER_FUNCS = [
    ("store", "TimeseriesStore.get_timeseries_by_meta", "store", "lazy"),
    ("store", "TimeseriesStore.get_timeseries_by_grid_ids", "store", "lazy"),
    ("plans.raincell", "raincell_lines", "plans.raincell", "lazy"),
    ("plans.inflow", "inflow_lines", "plans.inflow", "lazy"),
    ("plans.outflow", "outflow_lines", "plans.outflow", "lazy"),
    ("plans.rain", "rain_lines", "plans.rain", "lazy"),
    ("plans.chan", "chan_lines", "plans.chan", "lazy"),
    ("sinks.ordered_text", "write_ordered_text", "sinks.ordered_text", "sink"),
    ("sources.hychan", "parse_hychan", "sources.hychan", "lazy"),
    ("sources.timdep", "parse_timdep", "sources.timdep", "lazy"),
    ("plans.extract", "extract_hychan_forecast", "plans.extract", "lazy"),
    ("plans.extract", "update_run_dates", "plans.extract.run_dates", "lazy"),
    ("sinks.upsert", "merge_upsert", "sinks.upsert", "args"),
    ("operators.markup", "strip_markup", "operators.markup", "lazy"),
    ("operators.dedup", "minhash_lsh_pairs", "operators.dedup", "lsh"),
    ("operators.components", "cluster_assign", "operators.components", "lazy"),
]


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.jobs = SparkJobs(spark)
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}-{rec['id']}", rec["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec)
        self._group(rec)
        before = sample_tree()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            after = sample_tree()
            self._stack.pop()
            self._group(parent)
            rec["read_mib"] = (after.rchar - before.rchar) / MIB
            rec["write_mib"] = (after.wchar - before.wchar) / MIB
            jm = self.jobs.collect(f"{self.run_id}-{rec['id']}")
            rec.update(jobs=jm.jobs, job_wall_s=jm.job_wall_s, task_cpu_s=jm.task_cpu_s,
                       input_mib=jm.input_bytes / MIB, shuffle_mib=jm.shuffle_write_bytes / MIB,
                       spill_mib=jm.spill_bytes / MIB)

    def finish(self) -> None:
        """Derive self time: a span's duration minus its children's."""
        child_s: dict[int, float] = {}
        for r in self.spans:
            r["s"] = r["end"] - r["start"]
            if r["parent"] is not None:
                child_s[r["parent"]] = child_s.get(r["parent"], 0.0) + r["s"]
        for r in self.spans:
            r["self_s"] = r["s"] - child_s.get(r["id"], 0.0)


def _count_lines(path: str) -> int:
    files = [path] if os.path.isfile(path) else [
        os.path.join(path, f) for f in sorted(os.listdir(path)) if not f.startswith("_")]
    n = 0
    for f in files:
        with open(f, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                n += chunk.count(b"\n")
    return n


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observed(df, name: str, *extra):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), *extra), obs


def _wrap(tracer: Tracer, fn, span_name: str, kind: str):
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name) as rec:
            counts = rec["counts"]
            if kind == "sink":
                # the sink's global sort samples its input in a separate
                # job, so an observed input would be counted twice
                out = fn(*args, **kwargs)
                counts["rows"] = _count_lines(out)
                return out
            if kind == "args":
                bound = sig.bind(*args, **kwargs)
                names = list(bound.arguments)[:2]
                obs = {}
                for n in names:
                    bound.arguments[n], obs[n] = _observed(bound.arguments[n], f"{span_name}.{n}")
                out = fn(*bound.args, **bound.kwargs)
            elif kind == "lsh":
                from pyspark.sql import functions as F

                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                thr = bound.arguments["jaccard_threshold"]
                bound.arguments["jaccard_threshold"] = None
                pairs = fn(*bound.args, **bound.kwargs)
                verified = F.col("jaccard") >= (thr if thr is not None else 0.0)
                df, o = _observed(pairs, span_name,
                                  F.count(F.when(verified, True)).alias("verified"))
                _force(df)
                counts["candidate_pairs"] = o.get["rows"]
                counts["verified_pairs"] = o.get["verified"]
                counts["rows"] = counts["verified_pairs"]
                return pairs.filter(verified) if thr is not None else pairs
            else:
                out = fn(*args, **kwargs)
            df, o = _observed(out, span_name)
            _force(df)
            counts["rows"] = o.get["rows"]
            if kind == "args":
                counts["rows_existing"] = obs[names[0]].get["rows"]
                counts["rows_incoming"] = obs[names[1]].get["rows"]
            return out

    return wrapper


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Install the layer wrappers for the duration of the block. A
    layer function that no longer exists is skipped: its metrics then
    read 0."""
    undo = []
    try:
        for mod_name, attr, span_name, kind in LAYER_FUNCS:
            try:
                owner = importlib.import_module(f"{PKG}.{mod_name}")
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                fn = owner.__dict__[leaf]
            except (ImportError, AttributeError, KeyError):
                continue
            setattr(owner, leaf, _wrap(tracer, fn, span_name, kind))
            undo.append((owner, leaf, fn))
        yield
    finally:
        for owner, leaf, fn in reversed(undo):
            setattr(owner, leaf, fn)
