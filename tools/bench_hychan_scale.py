"""Multi-GB HYCHAN parse measurement (round-2 advice item 7's
done-criterion; round-3 verdict item 2).

Synthesizes a >=1 GiB HYCHAN.OUT (deterministic content), parses it
with ``sources.hychan.parse_hychan`` — the parallel-prefix fill-down
path — and records:

* wall time + scan partition count at default 128 MiB splits,
* the same parse at forced 16 MiB splits, asserting an identical
  order-insensitive result fingerprint (partition-count invariance at
  scale, the multi-GB twin of
  tests/test_sources_parsers.py::test_hychan_parallel_sections_forced_splits).

Prints one JSON line; numbers land in BASELINE.md.

Usage: python tools/bench_hychan_scale.py [target_gib] (default 1.0)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from curw_flo2d_data_manager_spark.session import get_spark
from curw_flo2d_data_manager_spark.sources.hychan import parse_hychan

ROWS_PER_SECTION = 13_500  # ~40 B/line -> ~540 KiB per section


def synthesize(path: str, target_gib: float) -> int:
    """Write a deterministic HYCHAN.OUT of ~target_gib GiB; returns
    section count. Chunked writes, ~40 MiB of Python strings at a time."""
    target = int(target_gib * (1 << 30))
    n_lines = 0
    with open(path, "w", buffering=1 << 22) as fh:
        el = 1000
        while fh.tell() < target:
            chunk = [f"     CHANNEL HYDROGRAPH FOR ELEMENT NO:   {el}"]
            chunk.append("   TIME   ELEV   DEPTH   VEL   Q")
            base = 10.0 + (el % 997) * 0.01
            for i in range(ROWS_PER_SECTION):
                chunk.append(
                    f"   {i * 0.25:9.2f}   {base + i * 1e-4:9.4f}"
                    f"   1.00   0.10   {50.0 + (i % 800) * 0.25:9.2f}"
                )
            fh.write("\n".join(chunk) + "\n")
            n_lines += len(chunk)
            el += 1
    return el - 1000, n_lines


def fingerprint(df):
    """Order-insensitive result fingerprint + row count, one pass."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(element_no, time, value))").alias("fp"),
    ).first()
    return row.n, row.fp


def timed_parse(spark, path: str):
    t0 = time.monotonic()
    df = parse_hychan(spark, path, "2024-01-01 00:00:00")
    n, fp = fingerprint(df)
    return time.monotonic() - t0, n, fp


def main() -> None:
    target_gib = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    spark = get_spark(app_name="bench_hychan_scale")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="hychan_scale_")
    path = os.path.join(tmp, "HYCHAN.OUT")
    try:
        t0 = time.monotonic()
        n_sections, n_lines = synthesize(path, target_gib)
        synth_s = time.monotonic() - t0
        size_mib = os.path.getsize(path) / (1 << 20)

        from curw_flo2d_data_manager_spark.sources import line_text

        # warmup: first job pays JVM/codegen/JIT; discard its timing so
        # the measured variants compare like-for-like
        timed_parse(spark, path)

        # default splits (128 MiB)
        sec_default, n_default, fp_default = timed_parse(spark, path)
        parts_default = line_text.read_lines(spark, path).rdd.getNumPartitions()

        # forced 16 MiB splits: same fingerprint = split invariance
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 << 20))
        sec_small, n_small, fp_small = timed_parse(spark, path)
        parts_small = line_text.read_lines(spark, path).rdd.getNumPartitions()
        spark.conf.unset("spark.sql.files.maxPartitionBytes")

        print(
            json.dumps(
                {
                    "metric": "hychan_scale_parse",
                    "file_mib": round(size_mib, 1),
                    "sections": n_sections,
                    "input_lines": n_lines,
                    "parsed_rows": n_default,
                    "synth_sec": round(synth_s, 1),
                    "parse_sec": round(sec_default, 2),
                    "parse_partitions": parts_default,
                    "parse_sec_16mib_splits": round(sec_small, 2),
                    "partitions_16mib": parts_small,
                    "split_invariant": (n_default, fp_default)
                    == (n_small, fp_small),
                    "lines_per_sec": int(n_lines / sec_default),
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
