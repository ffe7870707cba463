"""Output extraction — SURVEY §3.3, §7 step 6.

Reference (output/extract_water_level.py / extract_discharge.py):
two-pass HYCHAN.OUT state machine → per-element series → per-series
``save_forecast_timeseries_to_db`` (:163-221): optional utc-offset
shift, horizon filter (keep rows from ``extract_cut`` onward, F2),
station lookup (J2), content-addressed series id (X11,
``TS.generate_timeseries_id`` over the metadata tuple), upsert with
the ``fgt`` version column (K7) + ``update_latest_fgt`` (:216-217).

Engine: the parsers (sources/hychan.py, sources/timdep.py) yield every
element's series from one read of each file; their shuffles are the
fill-down's partition-id exchange (shared by the local fill and the
carry), HYCHAN's per-section window and TIMDEP's densify join. This
plan joins the station map once (broadcast) and stamps sha2 series
ids — narrow, no shuffle — and returns the typed forecast relation.
``upsert_forecast`` merges it into the stored history on
``(tms_id, time, fgt)`` with the payload broadcast, so the history is
streamed once and never shuffled; only the payload's key dedup moves
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.functions.plan_literals import (
    literal_rows_df,
)
from curw_flo2d_data_manager_spark.functions.ids import series_hash_id
from curw_flo2d_data_manager_spark.functions.timeutil import shift_tz


def extract_hychan_forecast(
    parsed: DataFrame,
    stations: DataFrame,
    sim_tag: str,
    source_model: str,
    variable: str,
    unit: str,
    fgt: str,
    extract_cut: str | None = None,
    utc_offset_minutes: int = 0,
) -> DataFrame:
    """Typed forecast rows from a parsed HYCHAN/TIMDEP DataFrame.

    * ``parsed``: DataFrame(element_no string, time timestamp, value
      double) — output of ``sources.hychan.parse_hychan`` or
      ``sources.timdep.parse_timdep``.
    * ``stations``: DataFrame(element_no string, station_id long,
      latitude double, longitude double) — the CHANNEL/FLOOD cell map
      joined to station coordinates (S8/S9 dims). Elements missing
      from the map are dropped (left-semi semantics of the reference's
      ``if elementNo in ELEMENT_NUMBERS`` gate, extract_water_level.py:468).

    Returns DataFrame(tms_id, station_id, time, value, fgt) — the K7
    upsert payload. ``tms_id`` is the sha2 content address over the
    metadata tuple (reference: extract_water_level.py:388-398 +
    ``generate_timeseries_id``).
    """
    rows = parsed
    if utc_offset_minutes:
        # reference utcOffset shift (extract_water_level.py:176-191)
        rows = rows.withColumn("time", shift_tz("time", utc_offset_minutes))
    if extract_cut is not None:
        # forecast-horizon filter (F2, extract_water_level.py:190-194)
        rows = rows.filter(F.col("time") >= F.lit(extract_cut).cast("timestamp"))

    enriched = rows.join(F.broadcast(stations), "element_no")
    tms_id = series_hash_id(
        F.lit(sim_tag),
        F.lit(source_model),
        F.lit(variable),
        F.lit(unit),
        F.format_string("%.6f", F.col("latitude")),
        F.format_string("%.6f", F.col("longitude")),
        F.col("station_id"),
    )
    return enriched.select(
        tms_id.alias("tms_id"),
        "station_id",
        "time",
        "value",
        F.lit(fgt).cast("timestamp").alias("fgt"),
    )


def upsert_forecast(existing: DataFrame, forecast: DataFrame) -> DataFrame:
    """K7 MERGE of one run's payload into the stored forecast history
    (reference: extract_water_level.py:216, ``insert_data`` with
    ``upsert=True``) via ``sinks.upsert.merge_upsert``.

    The payload is bounded by stations × timesteps of one run while the
    history grows with every run, so the payload is broadcast: the
    anti-join streams the history past a hash of the incoming keys
    instead of shuffling the history to meet them.
    """
    from curw_flo2d_data_manager_spark.sinks.upsert import merge_upsert

    return merge_upsert(existing, F.broadcast(forecast), keys=["tms_id", "time", "fgt"])


def latest_fgt(forecast: DataFrame) -> DataFrame:
    """Per-series latest forecast-generated time (K8 companion —
    reference ``update_latest_fgt``, extract_water_level.py:216-217)."""
    return forecast.groupBy("tms_id").agg(F.max("fgt").alias("fgt"))


def update_run_dates(
    existing: DataFrame | None,
    forecast: DataFrame,
    fgt_mode: str = "max_seen",
) -> DataFrame:
    """Run-dim date maintenance per series: the reference's
    ``update_start_date`` (extract_water_level.py:213-214 — set only
    when the series id is FIRST created) together with
    ``update_latest_fgt`` (:216-217 — advanced on every run).

    ``existing`` is the stored run dim ``(tms_id, start_date, fgt)``
    (or ``None`` / a legacy ``(tms_id, fgt)`` relation from before
    start-date maintenance existed — its stored fgt is adopted as the
    best-available creation stamp). ``forecast`` is the K7 upsert
    payload of the current run.

    ``fgt_mode`` picks the fgt advance policy. The reference's
    ``update_latest_fgt`` is a plain last-write-wins UPDATE — an
    out-of-order backfill run REGRESSES the stored fgt there;
    ``fgt_mode="last_write"`` reproduces that exactly. The default
    ``"max_seen"`` is a DELIBERATE DEVIATION: fgt only advances
    (``greatest`` of old and new), so backfills can never move the
    "latest forecast" pointer backwards — the semantics a scheduler
    that reruns historical windows actually wants.

    A series KEEPS the ``start_date`` from the run that created it;
    ``fgt`` advances per ``fgt_mode``.
    Plan: one per-series hash aggregate over the new payload + a
    full-outer join against the run dim — both sides are one row per
    series, so the fact relation never re-shuffles; at 100 TB the dim
    is millions of rows, not billions.
    """
    if fgt_mode not in ("max_seen", "last_write"):
        raise ValueError(f"fgt_mode {fgt_mode!r} not in (max_seen, last_write)")
    incoming = forecast.groupBy("tms_id").agg(
        F.min("fgt").alias("_new_start"), F.max("fgt").alias("_new_fgt")
    )
    if existing is None:
        return incoming.select(
            "tms_id",
            F.col("_new_start").alias("start_date"),
            F.col("_new_fgt").alias("fgt"),
        )
    ex = existing
    if "start_date" not in ex.columns:
        ex = ex.withColumn("start_date", F.col("fgt"))
    ex = ex.select("tms_id", "start_date", F.col("fgt").alias("_old_fgt"))
    if fgt_mode == "last_write":
        # reference parity: the run's fgt overwrites whenever the
        # series appears in this run, even if older (backfill regress)
        new_fgt = F.coalesce("_new_fgt", "_old_fgt")
    else:
        # F.greatest skips NULLs, so a series present on only one side
        # takes that side's fgt.
        new_fgt = F.greatest("_old_fgt", "_new_fgt")
    return ex.join(incoming, "tms_id", "full_outer").select(
        "tms_id",
        F.coalesce("start_date", "_new_start").alias("start_date"),
        new_fgt.alias("fgt"),
    )


RUN_METADATA_SCHEMA = (
    "source_id bigint, variable_id bigint, sim_tag string, "
    "fgt timestamp, metadata string, template_path string"
)

RUN_METADATA_KEYS = ["source_id", "variable_id", "sim_tag"]


def run_metadata_record(
    spark,
    *,
    source_id: int,
    variable_id: int,
    sim_tag: str,
    fgt: str,
    metadata: dict,
    template_path: str | None = None,
) -> DataFrame:
    """K8: the per-simulation provenance record.

    Reference: ``insert_run_metadata`` calls at
    output/extract_water_level.py:589-591 and
    extract_discharge.py:510-511 — one row per (source, variable,
    sim_tag) carrying the run's ``fgt``, the ``run_meta.json`` blob,
    and (water level only) the template path. The blob is serialized
    with sorted keys so re-running the same extraction produces a
    byte-identical record (idempotent upsert).
    """
    import json

    blob = json.dumps(metadata, sort_keys=True, separators=(",", ":"))
    row = [
        (
            int(source_id),
            int(variable_id),
            str(sim_tag),
            str(fgt),
            blob,
            template_path,
        )
    ]
    schema = (
        "source_id bigint, variable_id bigint, sim_tag string, "
        "fgt string, metadata string, template_path string"
    )
    return literal_rows_df(spark, row, schema).withColumn(
        "fgt", F.col("fgt").cast("timestamp")
    )


def insert_run_metadata(existing: DataFrame, record: DataFrame) -> DataFrame:
    """Idempotent K8 upsert keyed on (source_id, variable_id, sim_tag).

    The new record replaces any prior row for the same simulation —
    the Parquet-backend equivalent of the reference's MySQL
    ``INSERT … ON DUPLICATE KEY UPDATE fgt/metadata`` (db_adapter
    ``insert_run_metadata``, called from extract_water_level.py:590).
    """
    from curw_flo2d_data_manager_spark.sinks.upsert import merge_upsert

    return merge_upsert(existing, record, keys=RUN_METADATA_KEYS)
