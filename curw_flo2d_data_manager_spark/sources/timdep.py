"""TIMDEP.OUT parser — SURVEY §2 row P2.

Format (reference: output/extract_water_level.py:540-572 + helper
get_water_level_of_channels :109-128): repeated blocks of

    <model_time_hours>                 ← single-token header line
    <cell_id> ... ... ... ... <elev>   ← per-cell rows (col 5 = value)

Per block, every cell in the flood-plain map must yield a row; cells
absent from a block are gap-filled (reference writes sentinel −999;
the engine keeps NULL internally and applies sentinels at the sink —
SURVEY §7 hard part 6).

Pinned deviation from the reference (documented fix): the reference's
accumulator only flushes a block when the *next* header arrives, so
the file's final block is silently dropped
(extract_water_level.py:547-567). The engine processes every block;
pass ``drop_last_block=True`` for bug-compatible output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.functions.timeutil import hours_to_timestamp
from curw_flo2d_data_manager_spark.sources.line_text import (
    filldown_headers,
    read_lines,
    read_lines_multi,
)


def parse_timdep(
    spark: SparkSession,
    path: str,
    base_time: str,
    cells: DataFrame,
    drop_last_block: bool = False,
) -> DataFrame:
    """Parse TIMDEP.OUT → DataFrame(cell_id string, time timestamp,
    value double) densified over ``cells`` (one column ``cell_id``);
    missing (block, cell) pairs have NULL value.
    """
    lines = read_lines(spark, path).withColumn("file", F.lit(path))
    return _parse_timdep_lines(lines, base_time, cells, drop_last_block).drop("file")


def parse_timdep_multi(
    spark: SparkSession,
    glob_path: str,
    base_time: str,
    cells: DataFrame,
    drop_last_block: bool = False,
) -> DataFrame:
    """Parse MANY TIMDEP.OUT files in one job → DataFrame(file,
    cell_id, time, value), densified per file.

    The scale path for batch re-extraction of N simulation runs: the
    fill-down window partitions by file, so runs parse in parallel
    with no global sort (the multi-file twin of
    ``hychan.parse_hychan_multi``).
    """
    lines = read_lines_multi(spark, glob_path)
    return _parse_timdep_lines(lines, base_time, cells, drop_last_block)


def _parse_timdep_lines(
    lines: DataFrame,
    base_time: str,
    cells: DataFrame,
    drop_last_block: bool,
) -> DataFrame:
    tok = F.col("tok")
    is_header = F.size(tok) == 1

    # parallel-prefix fill-down — see sources/line_text.filldown_headers
    blocked = filldown_headers(
        lines,
        {"t_hours": F.when(is_header, F.try_element_at(tok, F.lit(1)).try_cast("double"))},
        columns={"tok": F.split(F.trim(F.col("value")), r"\s+")},
    ).filter(~is_header & F.col("t_hours").isNotNull()).select(
        "file",
        "t_hours",
        F.try_element_at(tok, F.lit(1)).alias("cell_id"),
        F.try_element_at(tok, F.lit(6)).try_cast("double").alias("v"),
    )

    if drop_last_block:
        w_file = Window.partitionBy("file")
        blocked = blocked.withColumn("_mx", F.max("t_hours").over(w_file)).filter(
            F.col("t_hours") < F.col("_mx")
        )

    obs = blocked.join(F.broadcast(cells), "cell_id", "left_semi").select(
        "file",
        "cell_id",
        hours_to_timestamp("t_hours", F.lit(base_time).cast("timestamp")).alias("time"),
        F.col("v").alias("value"),
    )
    # densify per file: every (file, block time) × cell combination
    times = obs.select("file", "time").distinct()
    full = times.crossJoin(F.broadcast(cells))
    return full.join(obs, ["file", "cell_id", "time"], "left")
