"""FLO-2D input/output and corpus-dedup benchmark.

    python3 perfbench/run.py --workload flo2d_cycle --seed 1 --seconds 35 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json):

* ``flo2d_cycle``  - gen-raincell, gen-inflow, gen-outflow, gen-rain and
  gen-chan for flo2d_150_v2 over a seeded parquet store, then
  extract-water-level with --timdep upserting into a seeded forecast
  history;
* ``corpus_dedup`` - import-corpus --strip-html, then dedup-corpus
  --method minhash --keep_only over a seeded HTML corpus.

Self-tests: ``python3 -m pytest -q perfbench/test_perfbench.py``.

Everything runs in this process at ``local[nproc]`` as a closed loop
with one client. With ``--trace 0`` the run measures set-up (process
start to a ready session: JVM launch, ``get_spark`` and one trivial
action), a first pass and warm passes, restoring the inputs untimed
before each pass, and reports the end-to-end metrics. With
``--trace 1`` it runs two untraced passes, then one pass with
spans around every layer call (``spans.py``), and reports the
per-layer metrics. Every pass's outputs are checked against the
generator's expectations (``checks.py``); a failed command or check
counts as failed.

End-to-end metrics: ``setup_s`` (set-up as above), ``wall_s`` (the
first pass, what a cron-invoked CLI pays), ``warm_s`` (median of the
passes after it), ``cpu_s``, ``read_mib`` and ``write_mib``
(process-tree CPU seconds and rchar/wchar per warm pass, median),
``peak_rss_mib`` (summed VmHWM of the process tree at the end) and
``success_rate`` (1 - failed commands / commands attempted).

Per-layer metrics, from the traced pass: ``<layer>.s`` is the summed
duration of the layer's spans. A lazy layer's span runs its output to
completion, so it includes re-running the lazy inputs it depends on.
``.self_s`` subtracts the spans of traced calls made inside it.
``.task_cpu_s``, ``.shuffle_mib`` and ``.spill_mib`` are Spark stage
metrics of the jobs the span ran; ``.read_mib``/``.write_mib`` are
process-tree rchar/wchar over the span; ``.rows`` counts the rows of the
layer's output (lines written, for the text sink). Layers a workload
does not run read 0.

Human-readable lines, a host record and the spans file path go to
stdout first; the last line is the JSON result. Inputs, outputs and
Spark scratch live in ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

WORKLOADS = ("flo2d_cycle", "corpus_dedup")
LAYERS = ("store", "plans.raincell", "sinks.ordered_text", "sources.hychan", "sources.timdep",
          "plans.extract", "sinks.upsert", "operators.markup", "operators.dedup",
          "operators.components")
LAYER_SUFFIXES = (("s", "s"), ("self_s", "s"), ("task_cpu_s", "s"), ("spill_mib", "MiB"),
                  ("shuffle_mib", "MiB"), ("read_mib", "MiB"), ("write_mib", "MiB"),
                  ("rows", "count"))
SPAN_ONLY = ("plans.inflow", "plans.outflow", "plans.rain", "plans.chan", "cli.gen_raincell",
             "cli.extract_water_level", "cli.import_corpus", "cli.dedup_corpus")
SPECIFIC = (("sinks.ordered_text.concat_s", "s"), ("sinks.ordered_text.jobs", "count"),
            ("sources.hychan.read_amp", "ratio"), ("sources.timdep.read_amp", "ratio"),
            ("plans.extract.run_dates_s", "s"), ("sinks.upsert.write_amp", "ratio"),
            ("sinks.upsert.rows_existing", "count"), ("operators.dedup.candidate_pairs", "count"),
            ("operators.dedup.verified_pairs", "count"), ("operators.dedup.verify_ratio", "ratio"),
            ("process.jvm_cpu_s", "s"), ("process.python_cpu_s", "s"), ("trace.overhead_s", "s"))
END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("warm_s", "s"), ("cpu_s", "s"),
              ("peak_rss_mib", "MiB"), ("read_mib", "MiB"), ("write_mib", "MiB"),
              ("success_rate", "ratio"))


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{sfx}": unit for layer in LAYERS for sfx, unit in LAYER_SUFFIXES}
    units.update({f"{name}.s": "s" for name in SPAN_ONLY})
    units.update(dict(SPECIFIC))
    return units


def _environment(work: str) -> str:
    """Point Spark, the JVM and Python at scratch dirs under ``work``;
    return the ``SPARK_GRAFT_CPUS`` value (this host's usable cores)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts).strip()
    return cpus


def _commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        path = os.path.join(ROOT, ".git", name)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown (not a git checkout)"


def host_record(spark, cpus: str) -> dict:
    with open("/proc/meminfo") as fh:
        mem = next(ln.split(":", 1)[1].strip() for ln in fh if ln.startswith("MemTotal:"))
    with open("/proc/cpuinfo") as fh:
        cpu = next((ln.split(":", 1)[1].strip() for ln in fh if ln.startswith("model name")), "")
    return {
        "nproc": len(os.sched_getaffinity(0)), "mem_total": mem, "cpu_model": cpu,
        "spark": spark.version, "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0], "SPARK_GRAFT_CPUS": cpus, "commit": _commit(),
    }


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_pass(wl, cli_main, tracer=None) -> dict:
    """Restore inputs (untimed), run every command once, check outputs
    (untimed). Returns timings, counters and failure messages."""
    wl.restore()
    failures, command_s = [], {}
    before = measure.sample_tree()
    t0 = time.perf_counter()
    for cmd in wl.commands:
        span = tracer.span(cmd.span) if tracer else contextlib.nullcontext()
        tc = time.perf_counter()
        try:
            with span, contextlib.redirect_stdout(sys.stderr):
                cli_main(cmd.argv)
        except (Exception, SystemExit) as e:  # a failed command is counted, not fatal
            failures.append(f"{cmd.argv[0]}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        command_s[cmd.argv[0]] = time.perf_counter() - tc
    wall = time.perf_counter() - t0
    after = measure.sample_tree()
    for cmd in wl.commands:
        if any(f.startswith(cmd.argv[0] + ":") for f in failures):
            continue
        errs = cmd.check()
        failures += [f"{cmd.argv[0]}: {e}" for e in errs]
    failed = len({f.split(":", 1)[0] for f in failures})
    return {"wall_s": wall, "command_s": command_s, "cpu_s": after.cpu_s - before.cpu_s,
            "jvm_cpu_s": after.jvm_cpu_s - before.jvm_cpu_s,
            "python_cpu_s": after.python_cpu_s - before.python_cpu_s,
            "read_mib": (after.rchar - before.rchar) / 2**20,
            "write_mib": (after.wchar - before.wchar) / 2**20,
            "peak_rss_mib_by_process": {k: v / 1024.0 for k, v in after.hwm_by_comm.items()},
            "attempted": len(wl.commands), "failed": failed, "failures": failures}


def end_to_end(wl, passes: list[dict], setup_s: float, seconds: float, cli_main) -> dict:
    # After the first pass, max(1, round(seconds / first pass)) warm
    # passes: a fixed count for a given host and workload, so a pass
    # that ends near a time limit cannot flip the count.
    passes.append(run_pass(wl, cli_main))
    for _ in range(max(1, round(seconds / passes[0]["wall_s"]))):
        passes.append(run_pass(wl, cli_main))
    warm = passes[1:]

    def med(key):
        return statistics.median(p[key] for p in warm)

    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    return {
        "setup_s": setup_s, "wall_s": passes[0]["wall_s"],
        "warm_s": med("wall_s"), "cpu_s": med("cpu_s"),
        "peak_rss_mib": measure.sample_tree().hwm_kib / 1024.0,
        "read_mib": med("read_mib"), "write_mib": med("write_mib"),
        "success_rate": 1.0 - failed / attempted,
    }


def _written_rows(path: str, since: float) -> int:
    """Rows in the parquet files under ``path`` modified after ``since``."""
    import pyarrow.parquet as pq

    rows = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if f.endswith(".parquet") and os.path.getmtime(p) >= since:
                rows += pq.ParquetFile(p).metadata.num_rows
    return rows


def per_layer(wl, passes: list[dict], spark, cli_main, run_id: str):
    import spans

    for _ in range(2):  # first pass, then the untraced reference
        passes.append(run_pass(wl, cli_main))
    tracer = spans.Tracer(spark, run_id)
    t_start = time.time()
    with spans.instrumented(tracer):
        traced = run_pass(wl, cli_main, tracer)
    passes.append(traced)
    tracer.finish()

    m = {name: 0.0 for name in per_layer_units()}
    by_name: dict[str, list[dict]] = {}
    for r in tracer.spans:
        by_name.setdefault(r["name"], []).append(r)

    def total(name, key):
        return sum(r.get(key, 0.0) for r in by_name.get(name, []))

    def count(name, key):
        return sum(r["counts"].get(key, 0) for r in by_name.get(name, []))

    for layer in LAYERS:
        for sfx, _ in LAYER_SUFFIXES:
            m[f"{layer}.{sfx}"] = count(layer, "rows") if sfx == "rows" else total(layer, sfx)
    for name in SPAN_ONLY:
        m[f"{name}.s"] = total(name, "s")
    m["sinks.ordered_text.concat_s"] = max(
        0.0, total("sinks.ordered_text", "s") - total("sinks.ordered_text", "job_wall_s"))
    m["sinks.ordered_text.jobs"] = total("sinks.ordered_text", "jobs")
    for src, key in (("sources.hychan", "hychan_bytes"), ("sources.timdep", "timdep_bytes")):
        if key in wl.expect and by_name.get(src):
            m[f"{src}.read_amp"] = total(src, "input_mib") * 2**20 / wl.expect[key]
    m["plans.extract.run_dates_s"] = total("plans.extract.run_dates", "s")
    m["sinks.upsert.rows_existing"] = count("sinks.upsert", "rows_existing")
    incoming = max((r["counts"].get("rows_incoming", 0) for r in by_name.get("sinks.upsert", [])),
                   default=0)
    if incoming:
        m["sinks.upsert.write_amp"] = _written_rows(wl.expect["fcst_data"], t_start) / incoming
    cand = count("operators.dedup", "candidate_pairs")
    m["operators.dedup.candidate_pairs"] = cand
    m["operators.dedup.verified_pairs"] = count("operators.dedup", "verified_pairs")
    m["operators.dedup.verify_ratio"] = m["operators.dedup.verified_pairs"] / cand if cand else 0.0
    m["process.jvm_cpu_s"] = traced["jvm_cpu_s"]
    m["process.python_cpu_s"] = traced["python_cpu_s"]
    m["trace.overhead_s"] = traced["wall_s"] - passes[-2]["wall_s"]
    return m, tracer.spans


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK, args.workload)
    cpus = _environment(WORK)
    sys.path.insert(0, ROOT)
    try:
        from curw_flo2d_data_manager_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2

    spark = get_spark()
    spark.range(1).count()
    setup_s = measure.process_age_s()
    timeline = {"session_ready": setup_s}
    try:
        from curw_flo2d_data_manager_spark.cli import main as cli_main

        import workloads

        shutil.rmtree(work, ignore_errors=True)
        wl = workloads.BUILDERS[args.workload](work, args.seed)
        timeline["inputs_ready"] = measure.process_age_s()
        passes: list[dict] = []
        run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
        spans = []
        if args.trace:
            metrics, spans = per_layer(wl, passes, spark, cli_main, run_id)
            units = per_layer_units()
        else:
            metrics = end_to_end(wl, passes, setup_s, args.seconds, cli_main)
            units = dict(END_TO_END)
        timeline["passes_done"] = measure.process_age_s()
        host = host_record(spark, cpus)
    finally:
        stop_spark(spark)
    timeline["stopped"] = measure.process_age_s()

    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    failures = [f for p in passes for f in p["failures"]]
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": host, "timeline_s": timeline,
              "passes": passes, "metrics": metrics, "spans": spans}
    out_path = os.path.join(results, f"{run_id}-trace{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  passes {len(passes)}"
          f"  commands {attempted}  failed {failed}  error_rate {failed / max(attempted, 1):.4f}")
    for cmd in wl.commands:
        name = cmd.argv[0]
        bad = sum(any(f.startswith(name + ":") for f in p["failures"]) for p in passes)
        print(f"  output check {name:<28} {len(passes) - bad}/{len(passes)} passes correct")
    for f in failures:
        print(f"  CHECK FAILED  {f}")
    for name, unit in units.items():
        print(f"  {name:<40} {metrics[name]:>16.6f} {unit}")
    print("host " + json.dumps(host, sort_keys=True))
    print(f"record {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
