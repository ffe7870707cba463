"""Line-ordered text source — pure JVM, no Python in the scan.

``spark.read.text`` gives no *documented* row-order guarantee; the
FLO-2D output parsers need stable line numbers to propagate section
headers (SURVEY §4.2 custom piece 3). The engine derives a
file-position-ordered ``line_no`` from ``monotonically_increasing_id``:

* the id is ``partition_id << 33 | row_index_in_partition``;
* the text source creates a file's splits in byte-offset order and
  bins them after a *stable* sort by length descending — a file's
  full-size chunks keep their offset order (stable ties) and its one
  short tail chunk sorts after them, so every file's rows land in
  id order that equals byte order;
* downstream consumers (hychan/timdep parsers) use ``line_no`` ONLY
  for ordering and as a section key, never for adjacency arithmetic,
  so the id's gaps are harmless.

This replaces the round-1 Python path (``textFile → zipWithIndex →
map``) that serialized every line through Python, and the
``wholeTextFiles`` multi-file form that held a whole file per task:
the whole parse plan now stays inside WholeStageCodegen
(tests/test_sources_parsers.py pins both order and the absence of
Python stages). ``tests`` also pin order under forced 1 KiB splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """Read one text file as (line_no, value), line_no in file order
    (monotonic, not dense)."""
    return spark.read.text(path).select(
        F.monotonically_increasing_id().alias("line_no"), "value"
    )


def filldown_headers(
    lines: DataFrame,
    headers: dict[str, Column],
    columns: dict[str, Column] | None = None,
    order_col: str = "line_no",
    file_col: str = "file",
) -> DataFrame:
    """Add one column per ``headers`` entry: the entry's expression
    taken from the latest line (in file order) where it is non-null,
    filled down as a PARALLEL PREFIX.

    ``headers`` maps output names to expressions that are non-null only
    on header lines, over the line columns (``value``, ``order_col``,
    ``file_col``) and ``columns``: per-line columns (e.g. the token
    array) evaluated once per line and kept in the output. A plain ``Window.partitionBy(file)`` fill-down
    pulls an entire file into ONE task — fine for dimension-sized
    FLO-2D outputs, a serialization wall for a multi-GB one. The
    standard prefix decomposition keeps the scan's parallelism:

    1. local fill-down inside each scan partition (rows exchanged by
       scan partition id — as many tasks as the scan has splits);
    2. carry: each partition inherits the fill-down state of the last
       row of earlier partitions of the same file — one row per
       partition, windowed and broadcast back;
    3. ``coalesce(local, carry)``.

    The text is read once. Only the raw line columns cross the
    exchange; ``columns`` and the header expressions are evaluated
    above it, and the carry is taken from the local fill's window
    output, so every branch — the carry, and any second consumer of
    the result — needs the same exchange columns, and ReuseExchange
    serves them all from one shuffle (tests/test_plan_quality.py pins
    one ``FileScan text`` per parse). Derive per-line columns through
    ``columns``, not before this call (column pruning would make the
    branches' exchanges differ) and not after it (a filter on them
    would be pushed below their projection and evaluate them again).
    Partition labels come from the scan, below the exchange, so the
    result does not depend on that reuse: split planning over a static
    file is deterministic (the forced-1 KiB-splits test pins
    byte-identical output across partition counts).
    """
    # Hashing by the partition id alone satisfies every (_pid, file)
    # grouping below, also when ``file`` is a literal the optimizer
    # folds out of the window's partition spec.
    rows = lines.withColumn("_pid", F.spark_partition_id()).repartition("_pid")
    rows = rows.select("*", *[e.alias(c) for c, e in (columns or {}).items()])
    w_part = Window.partitionBy("_pid", file_col).orderBy(order_col)
    w_loc = w_part.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = rows.select(
        "*",
        *[F.last(e, ignorenulls=True).over(w_loc).alias(c) for c, e in headers.items()],
        F.lead(order_col).over(w_part).isNull().alias("_last"),
    )

    # A partition's last row carries its fill-down state out; each
    # partition takes the last non-null state of the partitions before
    # it in the same file. Filtering on a window output keeps this
    # branch above the window, so its exchange stays identical to the
    # local fill's.
    w_carry = (
        Window.partitionBy(file_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = local.filter("_last").select(
        file_col,
        "_pid",
        *[F.last(c, ignorenulls=True).over(w_carry).alias(f"_c_{c}") for c in headers],
    )

    out = local.join(F.broadcast(carry), [file_col, "_pid"], "left")
    for c in headers:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"_c_{c}")))
    return out.drop("_pid", "_last", *[f"_c_{c}" for c in headers])


def assert_line_order(spark: SparkSession, path: str) -> None:
    """Loud upgrade-gate check for the ordering contract above.

    Re-scans ``path`` with the hidden ``_metadata`` column and verifies
    that per (file, split block) the ``monotonically_increasing_id``
    ranges are disjoint and increase with the block's byte offset —
    exactly the property ``read_lines`` relies on. Raises ValueError
    if a Spark upgrade or an alternative file source breaks it (the
    failure mode would otherwise be silently reordered lines). The
    check aggregates to one row per split, so it is cheap at any file
    size; run it in upgrade gates alongside
    tests/test_sources_parsers.py::test_read_lines_order_under_forced_splits.
    """
    per_block = (
        spark.read.text(path)
        .select(
            F.input_file_name().alias("file"),
            F.col("_metadata.file_block_start").alias("block_start"),
            F.monotonically_increasing_id().alias("line_no"),
        )
        .groupBy("file", "block_start")
        .agg(F.min("line_no").alias("lo"), F.max("line_no").alias("hi"))
        .orderBy("file", "block_start")
        .collect()
    )
    prev: dict[str, int] = {}
    for r in per_block:
        last = prev.get(r.file)
        if last is not None and r.lo <= last:
            raise ValueError(
                f"line-order contract violated in {r.file}: block at byte "
                f"{r.block_start} has ids overlapping an earlier block — "
                "monotonically_increasing_id order no longer matches byte "
                "order on this Spark version/source"
            )
        prev[r.file] = r.hi


def read_lines_multi(spark: SparkSession, glob_path: str) -> DataFrame:
    """Read many text files as (file, line_no, value), line order
    stable per file.

    Scale shape for batch extraction of N simulation runs: files split
    and bin-pack into normal scan partitions (no whole-file-in-memory
    tasks), and the downstream section windows partition by ``file``,
    so N files parse fully in parallel with no global sort.
    """
    return spark.read.text(glob_path).select(
        F.input_file_name().alias("file"),
        F.monotonically_increasing_id().alias("line_no"),
        "value",
    )
