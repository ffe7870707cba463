"""Self-tests of the benchmark; they need neither Spark nor the package.

    python3 -m pytest -q perfbench/test_perfbench.py

* every generator writes identical bytes for the same seed;
* every output check accepts a correct output, rebuilt here from the
  generated inputs, and rejects a planted corruption;
* BENCHMARK.json follows the benchmark contract and names exactly the
  metrics run.py reports.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SMALL = {
    "flo2d_input": {"cells": 60, "steps": 4, "series": 5, "days": 3, "chan_pairs": 12},
    "flo2d_output": {"elements": 12, "steps": 10, "chan_stations": 6, "cells": 40,
                     "blocks": 5, "fp_stations": 8, "history_runs": 3},
    "corpus_dedup": {"docs": 400},
}


def _digest_tree(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_generator_is_deterministic(tmp_path, name):
    fn = gen.GENERATORS[name]
    a, b, c = (str(tmp_path / x) for x in "abc")
    exp_a = fn(a, 5, SMALL[name])
    exp_b = fn(b, 5, SMALL[name])
    fn(c, 6, SMALL[name])
    assert _digest_tree(a) == _digest_tree(b)
    assert _digest_tree(a) != _digest_tree(c)
    strip = {k: v for k, v in exp_a.items() if not isinstance(v, str) or a not in v}
    assert strip == {k: v for k, v in exp_b.items() if not isinstance(v, str) or b not in v}


def test_jfmt_rounds_shortest_form_half_up():
    assert gen.jfmt(0.25, 1) == "0.3"
    assert gen.jfmt(0.0625, 3) == "0.063"
    assert gen.jfmt(-0.5, 3) == "-0.500"
    assert gen.jfmt(2.675, 2) == "2.68"  # binary value is below 2.675


# ----------------------------------------------------------- flo2d_input
def _raincell_file(root: str, exp: dict) -> list[str]:
    """RAINCELL.DAT rebuilt from the raincell relation."""
    t = ds.dataset(os.path.join(root, "store", "raincell"), format="parquet").to_table()
    start = datetime.strptime(exp["start"], gen.DATE_FMT)
    end = datetime.strptime(exp["end"], gen.DATE_FMT)
    rows = sorted(
        (r["time"].replace(tzinfo=None), r["cell_id"], r["value"]) for r in t.to_pylist()
        if start < r["time"].replace(tzinfo=None) <= end)
    lines = [exp["raincell"]["header"]]
    prev = None
    for time, cell, value in rows:
        if prev is not None and time != prev:
            lines.append("")
        prev = time
        lines.append(f"{cell} {value + 1 / 96:.3f}")
    return lines + [""]


def _write(path, lines):
    with open(path, "w") as fh:
        fh.write("".join(ln + "\n" for ln in lines))


def test_raincell_check_rejects_swapped_line(tmp_path):
    exp = gen.gen_flo2d_input(str(tmp_path / "in"), 3, SMALL["flo2d_input"])
    lines = _raincell_file(str(tmp_path / "in"), exp)
    path = str(tmp_path / "RAINCELL.DAT")
    _write(path, lines)
    assert checks.check_raincell(path, exp["raincell"]) == []
    lines[2], lines[3] = lines[3], lines[2]
    _write(path, lines)
    assert checks.check_raincell(path, exp["raincell"])
    _write(path, lines[:-2] + [""])
    assert checks.check_raincell(path, exp["raincell"])


@pytest.mark.parametrize("name", ["inflow", "outflow", "rain", "chan"])
def test_small_file_checks_reject_changes(tmp_path, name):
    exp = gen.gen_flo2d_input(str(tmp_path / "in"), 3, SMALL["flo2d_input"])
    path = str(tmp_path / f"{name}.DAT")
    good = exp[name]
    _write(path, good)
    assert checks.check_lines(path, good) == []
    bad = list(good)
    bad[-1] = bad[-1] + " "
    _write(path, bad)
    assert checks.check_lines(path, good)
    _write(path, good[:-1])
    assert checks.check_lines(path, good)


# ---------------------------------------------------------- flo2d_output
def _parse_hychan(path):
    out, el = [], None
    with open(path) as fh:
        for line in fh:
            if line[5:].startswith("CHANNEL HYDROGRAPH FOR ELEMENT NO:"):
                el = line.split()[-1]
                continue
            tok = line.split()
            try:
                hours = float(tok[0])
            except (IndexError, ValueError):
                continue
            out.append((el, hours, float(tok[1])))
    return out


def _parse_timdep(path):
    out, hours = {}, None
    with open(path) as fh:
        for line in fh:
            tok = line.split()
            if len(tok) == 1:
                hours = float(tok[0])
            else:
                out[(hours, tok[0])] = float(tok[5])
    return out


def _fcst_store(root: str, exp: dict) -> str:
    """The forecast store after a correct extraction, rebuilt from the
    simulation files, the station maps and the history."""
    store = os.path.join(root, "result")
    shutil.copytree(os.path.join(root, "history"), store)
    base = datetime.strptime(exp["base_time"], gen.DATE_FMT)
    fgt = datetime.strptime(exp["fgt"], gen.DATE_FMT)
    chan = {r["element_no"]: r["station_id"] for r in
            pq.read_table(os.path.join(root, "store", "stations")).to_pylist()}
    flood = {r["element_no"]: r["station_id"] for r in
             pq.read_table(os.path.join(root, "flood_stations")).to_pylist()}
    rows = [(chan[el], base + timedelta(hours=h), v)
            for el, h, v in _parse_hychan(exp["hychan"]) if el in chan]
    tim = _parse_timdep(exp["timdep"])
    for h in sorted({h for h, _ in tim}):
        for cell, sid in flood.items():
            rows.append((sid, base + timedelta(hours=h), tim.get((h, cell), gen.MISSING_VALUE)))
    ts = pa.timestamp("us", tz="UTC")
    pq.write_table(pa.table({
        "tms_id": ["x"] * len(rows),
        "station_id": pa.array([r[0] for r in rows], pa.int64()),
        "time": pa.array([r[1] for r in rows], ts),
        "value": [r[2] for r in rows],
        "fgt": pa.array([fgt] * len(rows), ts),
    }), os.path.join(store, "fcst_data", "part-new.parquet"))
    shutil.rmtree(os.path.join(store, "run_metadata"))
    os.makedirs(os.path.join(store, "run_metadata"))
    pq.write_table(pa.table({
        "source_id": pa.array([1], pa.int64()), "variable_id": pa.array([1], pa.int64()),
        "sim_tag": ["daily_run"], "fgt": pa.array([fgt], ts), "metadata": [exp["metadata"]],
        "template_path": pa.array([None], pa.string()),
    }), os.path.join(store, "run_metadata", "part-0.parquet"))
    return store


def test_flo2d_output_check_rejects_dropped_row(tmp_path):
    exp = gen.gen_flo2d_output(str(tmp_path), 3, SMALL["flo2d_output"])
    store = _fcst_store(str(tmp_path), exp)
    assert checks.check_flo2d_output(store, exp) == []
    new = os.path.join(store, "fcst_data", "part-new.parquet")
    t = pq.read_table(new)
    pq.write_table(t.slice(1), new)
    assert checks.check_flo2d_output(store, exp)


def test_flo2d_output_check_rejects_wrong_value_and_metadata(tmp_path):
    exp = gen.gen_flo2d_output(str(tmp_path), 3, SMALL["flo2d_output"])
    store = _fcst_store(str(tmp_path), exp)
    new = os.path.join(store, "fcst_data", "part-new.parquet")
    t = pq.read_table(new)
    vals = t["value"].to_pylist()
    vals[0] = gen.MISSING_VALUE  # a channel level turned into a gap
    pq.write_table(t.set_column(3, "value", pa.array(vals)), new)
    assert any("gap rows" in e for e in checks.check_flo2d_output(store, exp))
    pq.write_table(t, new)
    shutil.copytree(os.path.join(store, "run_metadata"), os.path.join(store, "rm2"))
    os.rename(os.path.join(store, "rm2", "part-0.parquet"),
              os.path.join(store, "run_metadata", "part-1.parquet"))
    assert any("run_metadata" in e for e in checks.check_flo2d_output(store, exp))


# ---------------------------------------------------------- corpus_dedup
def _normalized_words(html: str) -> tuple[str, ...]:
    s = re.sub(r"(?is)<script(\s[^>]*)?>.*?</script\s*>", " ", html)
    s = re.sub(r"(?is)<style(\s[^>]*)?>.*?</style\s*>", " ", s)
    s = re.sub(r"(?s)<!--.*?-->", " ", s)
    s = re.sub(r"(?s)<[a-zA-Z/!?][^>]*>", " ", s).replace("&nbsp;", " ")
    return tuple(re.sub(r"[^a-z0-9-]+", " ", s.lower()).split())


def test_corpus_closed_form_matches_the_documents(tmp_path):
    exp = gen.gen_corpus(str(tmp_path), 3, SMALL["corpus_dedup"])
    first: dict[tuple, int] = {}
    with open(exp["input"]) as fh:
        for line in fh:
            doc = json.loads(line)
            key = _normalized_words(doc["text"])
            first[key] = min(first.get(key, doc["doc_id"]), doc["doc_id"])
    assert len(first) == exp["survivors"]
    assert sum(first.values()) == exp["survivor_id_sum"]


def test_dedup_check_rejects_extra_survivor(tmp_path):
    exp = gen.gen_corpus(str(tmp_path), 3, SMALL["corpus_dedup"])
    first: dict[tuple, int] = {}
    all_ids = []
    with open(exp["input"]) as fh:
        for line in fh:
            doc = json.loads(line)
            all_ids.append(doc["doc_id"])
            key = _normalized_words(doc["text"])
            first[key] = min(first.get(key, doc["doc_id"]), doc["doc_id"])
    out = tmp_path / "deduped"
    out.mkdir()
    keep = sorted(first.values())
    pq.write_table(pa.table({"doc_id": pa.array(keep, pa.int64())}), str(out / "part-0.parquet"))
    assert checks.check_dedup(str(out), exp) == []
    extra = next(i for i in all_ids if i not in set(keep))
    pq.write_table(pa.table({"doc_id": pa.array([extra], pa.int64())}), str(out / "part-1.parquet"))
    assert checks.check_dedup(str(out), exp)
    imported = tmp_path / "imported"
    imported.mkdir()
    pq.write_table(pa.table({"doc_id": pa.array(all_ids[1:], pa.int64())}),
                   str(imported / "part-0.parquet"))
    assert checks.check_import(str(imported), exp)


# ------------------------------------------------------------ the contract
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e, layer = spec["end_to_end"], spec["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    assert {m["name"]: m["unit"] for m in e2e} == dict(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in layer} == run.per_layer_units()
    names = [m["name"] for m in e2e + layer] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in e2e + layer:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in layer:
        assert set(m) == {"name", "unit", "better"}
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)
