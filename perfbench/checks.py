"""Output checks, computed without the package under test.

Each check takes the workload's output locations and the expectations
from :mod:`gen` and returns a list of failure messages (empty when the
output is correct). Parquet outputs are read with pyarrow, text
outputs byte by byte.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import pyarrow.compute as pc
import pyarrow.dataset as ds

from gen import DATE_FMT, MISSING_VALUE


def _table(path: str, columns: list[str] | None = None):
    # Spark leaves _SUCCESS and .crc files; the dataset reader skips
    # names starting with "_" or "."
    return ds.dataset(path, format="parquet").to_table(columns=columns)


def _lines(path: str) -> list[str] | None:
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        return fh.read().split("\n")[:-1]


def check_raincell(path: str, exp: dict) -> list[str]:
    if not os.path.isfile(path):
        return [f"{path}: missing"]
    h = hashlib.sha256()
    lines = 0
    with open(path, "rb") as fh:
        head = fh.readline()
        h.update(head)
        lines += 1
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
            lines += chunk.count(b"\n")
    errs = []
    if lines != exp["lines"]:
        errs.append(f"RAINCELL.DAT: {lines} lines, expected {exp['lines']}")
    if head.decode().rstrip("\n") != exp["header"]:
        errs.append(f"RAINCELL.DAT: header {head!r}, expected {exp['header']!r}")
    if h.hexdigest() != exp["sha256"]:
        errs.append("RAINCELL.DAT: content checksum differs from the generator's")
    return errs


def check_lines(path: str, expected: list[str]) -> list[str]:
    got = _lines(path)
    name = os.path.basename(path)
    if got is None:
        return [f"{name}: missing"]
    if got == expected:
        return []
    if len(got) != len(expected):
        return [f"{name}: {len(got)} lines, expected {len(expected)}"]
    i = next(i for i, (a, b) in enumerate(zip(got, expected)) if a != b)
    return [f"{name}: line {i + 1} is {got[i]!r}, expected {expected[i]!r}"]


def check_flo2d_output(store: str, exp: dict) -> list[str]:
    errs = []
    fcst = _table(os.path.join(store, "fcst_data"), ["station_id", "time", "value", "fgt"])
    if fcst.num_rows != exp["rows_after"]:
        errs.append(f"fcst_data: {fcst.num_rows} rows, expected {exp['rows_after']}")
    fgt = datetime.strptime(exp["fgt"], DATE_FMT)
    new = fcst.filter(pc.equal(fcst["fgt"].cast("timestamp[us]"), fgt))
    gaps = pc.sum(pc.equal(new["value"], MISSING_VALUE)).as_py() or 0
    if gaps != exp["gaps"]:
        errs.append(f"fcst_data: {gaps} gap rows ({MISSING_VALUE}), expected {exp['gaps']}")
    by_key = {
        (s, t.strftime(DATE_FMT)): v
        for s, t, v in zip(new["station_id"].to_pylist(),
                           new["time"].cast("timestamp[us]").to_pylist(),
                           new["value"].to_pylist())
    }
    for station, time, value in exp["known"]:
        got = by_key.get((station, time))
        if got != value:
            errs.append(f"fcst_data: station {station} at {time} is {got}, expected {value}")
    rm = _table(os.path.join(store, "run_metadata")).to_pylist()
    if len(rm) != 1:
        errs.append(f"run_metadata: {len(rm)} rows, expected 1")
    else:
        r = rm[0]
        got = (r["source_id"], r["variable_id"], r["sim_tag"],
               r["fgt"].strftime(DATE_FMT), r["metadata"])
        want = (1, 1, "daily_run", exp["fgt"], exp["metadata"])
        if got != want:
            errs.append(f"run_metadata: row {got}, expected {want}")
    return errs


def check_import(path: str, exp: dict) -> list[str]:
    n = ds.dataset(path, format="parquet").count_rows() if os.path.isdir(path) else None
    return [] if n == exp["docs"] else [f"imported corpus: {n} rows, expected {exp['docs']}"]


def check_dedup(path: str, exp: dict) -> list[str]:
    if not os.path.isdir(path):
        return [f"{path}: missing"]
    ids = _table(path, ["doc_id"])["doc_id"]
    got = (len(ids), pc.sum(ids).as_py() or 0)
    want = (exp["survivors"], exp["survivor_id_sum"])
    if got != want:
        return [f"dedup survivors (count, id sum) = {got}, expected {want}"]
    return []
