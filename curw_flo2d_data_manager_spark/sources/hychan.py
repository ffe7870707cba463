"""HYCHAN.OUT parser — SURVEY §2 row P1, as one declarative plan.

The reference parses HYCHAN.OUT with a two-pass, 64 KiB-buffered
line state machine (output/extract_water_level.py:425-523):

* pass 1 counts the first section's numeric rows → ``SERIES_LENGTH``;
* pass 2 groups lines into per-element hydrograph sections gated on
  ``line.startswith('CHANNEL HYDROGRAPH FOR ELEMENT NO:', 5)``,
  emits a section only when it reaches ``SERIES_LENGTH`` rows (so a
  truncated trailing section is dropped), and projects column 1
  (water-level elevation) or column 4 (discharge).

Engine plan (one read of the file):

1. line-ordered scan (sources/line_text.py)
2. tag header rows (anchored substring match, X3)
3. fill-down the section element id + header line number (W3)
4. numeric-row predicate = castable first token (F5/X10)
5. per-section row_number; first-section length = SERIES_LENGTH
6. keep complete sections, truncate to SERIES_LENGTH (pinned
   reference quirk — SURVEY §7 hard part 3)
7. reconstruct absolute time from model hours (W2 inverse)
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

HEADER_MARK = "CHANNEL HYDROGRAPH FOR ELEMENT NO:"

# Value-column index (0-based token position) per variable
# (reference: extract_water_level.py:493 → v[1]; extract_discharge.py:480 → v[4]).
VALUE_COL = {"water_level": 1, "depth": 2, "discharge": 4}


def parse_hychan(
    spark: SparkSession,
    path: str,
    base_time: str,
    variable: str = "water_level",
    keep_incomplete: bool = False,
) -> DataFrame:
    """Parse HYCHAN.OUT → DataFrame(element_no string, time timestamp,
    value double), one row per (section, timestep).

    ``keep_incomplete=True`` disables the reference's trailing-series
    drop (engine extension; default replicates the reference).
    """
    lines = read_lines(spark, path).withColumn("file", F.lit(path))
    return _parse_hychan_lines(lines, base_time, variable, keep_incomplete).drop("file")


def parse_hychan_multi(
    spark: SparkSession,
    glob_path: str,
    base_time: str,
    variable: str = "water_level",
    keep_incomplete: bool = False,
) -> DataFrame:
    """Parse MANY HYCHAN.OUT files in one job → DataFrame(file,
    element_no, time, value).

    The scale path for batch re-extraction: section windows partition
    by file, so N runs parse fully in parallel (no global line sort —
    contrast the single-file form, whose one window sort is fine for a
    dimension-sized file but would serialize a fleet of them).
    """
    lines = read_lines_multi(spark, glob_path)
    return _parse_hychan_lines(lines, base_time, variable, keep_incomplete)


def _parse_hychan_lines(
    lines: DataFrame,
    base_time: str,
    variable: str,
    keep_incomplete: bool,
) -> DataFrame:
    # W3 fill-down as a parallel prefix (sources/line_text.py
    # ``filldown_headers``): a per-file window would pull an entire
    # multi-GB HYCHAN into one task; the prefix decomposition keeps the
    # scan's split-level parallelism and reads the file once.
    tok, is_header = F.col("tok"), F.col("is_header")
    sectioned = filldown_headers(
        lines,
        {
            "element_no": F.when(is_header, F.try_element_at(tok, F.lit(6))),
            "section": F.when(is_header, F.col("line_no")),
        },
        columns={
            "tok": F.split(F.trim(F.col("value")), r"\s+"),
            "is_header": F.substring(F.col("value"), 6, len(HEADER_MARK)) == HEADER_MARK,
        },
    )

    t_hours = F.try_element_at(tok, F.lit(1)).try_cast("double")
    numeric = sectioned.filter(
        ~is_header
        & F.col("section").isNotNull()
        & t_hours.isNotNull()
        & ~F.isnan(t_hours)
    ).select(
        "file",
        "line_no",
        "element_no",
        "section",
        t_hours.alias("t_hours"),
        F.try_element_at(tok, F.lit(VALUE_COL[variable] + 1)).alias("raw_value"),
    )

    w_sec = Window.partitionBy("file", "section").orderBy("line_no")
    w_seccnt = Window.partitionBy("file", "section")
    rows = numeric.withColumn("row_idx", F.row_number().over(w_sec)).withColumn(
        "sec_len", F.count(F.lit(1)).over(w_seccnt)
    )

    if not keep_incomplete:
        # SERIES_LENGTH = numeric-row count of each file's first
        # section (reference pass 1, extract_water_level.py:425-446),
        # from map-side-combined per-section counts rather than a
        # second pass over the section window's rows.
        first_len = (
            numeric.groupBy("file", "section")
            .count()
            .groupBy("file")
            .agg(F.min_by("count", "section").alias("series_length"))
        )
        rows = rows.join(F.broadcast(first_len), "file").filter(
            (F.col("sec_len") >= F.col("series_length"))
            & (F.col("row_idx") <= F.col("series_length"))
        )

    # NaN / non-numeric value rows are skipped, not nulled
    # (reference: extract_water_level.py:496-500).
    return (
        rows.withColumn("v", F.col("raw_value").try_cast("double"))
        .filter(F.col("v").isNotNull() & ~F.isnan("v"))
        .select(
            "file",
            "element_no",
            hours_to_timestamp("t_hours", F.lit(base_time).cast("timestamp")).alias("time"),
            F.col("v").alias("value"),
        )
    )
