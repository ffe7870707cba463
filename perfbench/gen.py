"""Seeded input generators for the three benchmark workloads.

Each ``gen_*`` function writes one workload's inputs under ``root`` and
returns the expected results the output checks compare against. The
expectations are derived here from the generated data alone, never from
the package under test, so a wrong program cannot agree with itself.
The same seed and sizes give byte-identical files.

Formatting rules mirror the FLO-2D ``.DAT`` formats the package renders.
Spark's ``format_string`` rounds the shortest decimal form of a double
half-up, so expected numbers go through :func:`jfmt`.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATE_FMT = "%Y-%m-%d %H:%M:%S"
MODEL = "flo2d_150_v2"
STEP_MIN = 15  # flo2d_150_v2 timestep
# flo2d_150_v2 constants (the reference's gen_150_v2_inflow.py and
# gen_outflow.py literals): INFLOW header cell, OUTFLOW K and N cells.
INFLOW_CELL = 37814
OUTFLOW_K = (268, 391, 464, 1174)
OUTFLOW_N = (330, 462, 546, 1282)
TIDE_GAP = -99999.0
MISSING_VALUE = -999.0

TS = pa.timestamp("us", tz="UTC")

SIZES = {
    "flo2d_input": {"cells": 39526, "steps": 6, "series": 300, "days": 7,
                    "chan_pairs": 120},
    "flo2d_output": {"elements": 200, "steps": 200, "chan_stations": 120,
                     "cells": 2000, "blocks": 24, "fp_stations": 120,
                     "history_runs": 14},
    "corpus_dedup": {"docs": 8000},
}


def jfmt(x: float, places: int) -> str:
    """``%.{places}f`` as Java's Formatter renders a double: the
    shortest decimal form, rounded half-up."""
    q = Decimal(1).scaleb(-places)
    return str(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 17)


def _write_text(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("".join(ln + "\n" for ln in lines))


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


# ------------------------------------------------------------ flo2d_input
def gen_flo2d_input(root: str, seed: int, size: dict | None = None) -> dict:
    """Parquet store for the five input renders of ``flo2d_150_v2``.

    Layout: ``raincell/`` (time, cell_id, value) gridded rain;
    ``run/`` + ``data/`` (date-partitioned) series store holding the
    inflow discharge, the rain gauge, four tide nodes and filler
    series; ``initial_conditions/`` + ``obs/`` for CHAN.DAT; plus the
    verbatim template assets and the tide config.
    """
    sz = dict(SIZES["flo2d_input"], **(size or {}))
    cells, steps = sz["cells"], sz["steps"]
    day0 = datetime(2024, 3, 1)
    start = day0 + timedelta(days=sz["days"] // 2)
    end = start + timedelta(minutes=STEP_MIN * steps)
    s_str, e_str = start.strftime(DATE_FMT), end.strftime(DATE_FMT)
    store = os.path.join(root, "store")
    step = timedelta(minutes=STEP_MIN)

    # raincell: two steps either side of the window, so the time filter
    # has rows to drop; values are whole thousandths of a millimetre
    rng = _rng(seed, 1)
    n_t = steps + 5
    t_axis = [start - 2 * step + i * step for i in range(n_t)]
    k = rng.integers(0, 5000, size=(n_t, cells))
    cell_ids = np.arange(1, cells + 1, dtype=np.int32)
    for f, (lo, hi) in enumerate(((0, n_t // 2), (n_t // 2, n_t))):
        times = np.repeat(np.array(t_axis[lo:hi], dtype="datetime64[us]"), cells)
        _write_parquet(pa.table({
            "time": pa.array(times, TS),
            "cell_id": np.tile(cell_ids, hi - lo),
            "value": (k[lo:hi] / 1000.0).ravel(),
        }), os.path.join(store, "raincell", f"part-{f}.parquet"))

    # RAINCELL.DAT: value + 1/96 water supply renders as (k + 10)/1000
    # (the 1/96 remainder, 0.4167 thousandths, never reaches half-up)
    h = hashlib.sha256()
    header = f"{STEP_MIN} {steps} {s_str} {e_str}"
    h.update((header + "\n").encode())
    cell_txt = [str(c) for c in range(1, cells + 1)]
    for i in range(3, 3 + steps):  # t_axis[i] = start + (i - 2) steps
        v = k[i] + 10
        h.update("".join(
            f"{c} {q}.{r:03d}\n" for c, q, r in zip(cell_txt, (v // 1000).tolist(), (v % 1000).tolist())
        ).encode())
        h.update(b"\n")
    raincell = {"lines": 1 + steps * (cells + 1), "header": header, "sha256": h.hexdigest()}

    # series store: run dim + date-partitioned data
    rng = _rng(seed, 2)
    n_day = sz["days"] * 24 * 60 // 5  # 5-minute axis over the store
    axis5 = np.datetime64(day0, "us") + np.arange(n_day) * np.timedelta64(5, "m")
    series: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    run_rows = []

    def add(sid, method, model, grid_id, times, values):
        run_rows.append((sid, method, model, grid_id))
        series[sid] = (times, values)

    axis15 = axis5[::3]
    add("dis_0", "MME", MODEL, "discharge_glencourse", axis15,
        rng.integers(1000, 50000, len(axis15)) / 100.0)
    rain_t = axis5[rng.random(n_day) > 0.05]  # planted gauge gaps
    add("rain_0", "MME", MODEL, "rainfall_kelani", rain_t,
        rng.integers(0, 21, len(rain_t)) * 0.25)
    tide_cfg = {}
    for j, node in enumerate(OUTFLOW_N):
        vals = rng.integers(-500, 1500, len(axis15)) / 1000.0
        vals[rng.random(len(axis15)) < 0.03] = TIDE_GAP
        add(f"tide_{j}", "MME", "flo2d", f"tide_node_{j}", axis15, vals)
        tide_cfg[str(node)] = f"tide_node_{j}"
    for j in range(sz["series"]):
        add(f"fill_{j:04d}", "MME", MODEL, f"filler_{j:04d}", axis15,
            rng.integers(0, 100000, len(axis15)) / 100.0)
    _write_parquet(pa.table({
        "id": [r[0] for r in run_rows], "method": [r[1] for r in run_rows],
        "model": [r[2] for r in run_rows], "grid_id": [r[3] for r in run_rows],
    }), os.path.join(store, "run", "part-0.parquet"))
    # fact rows sorted (date, id, time) within one file per date
    sids = sorted(series)
    all_id = np.concatenate([np.full(len(series[s][0]), i) for i, s in enumerate(sids)])
    all_t = np.concatenate([series[s][0] for s in sids])
    all_v = np.concatenate([series[s][1] for s in sids])
    day = (all_t - np.datetime64(day0, "us")) // np.timedelta64(1, "D")
    order = np.lexsort((all_t, all_id, day))
    all_id, all_t, all_v, day = all_id[order], all_t[order], all_v[order], day[order]
    for d in range(sz["days"]):
        sel = day == d
        _write_parquet(pa.table({
            "id": pa.array(np.array(sids)[all_id[sel]], pa.string()),
            "time": pa.array(all_t[sel], TS),
            "value": pa.array(all_v[sel], pa.float64()),
        }), os.path.join(store, "data", f"date={day0 + timedelta(days=d):%Y-%m-%d}",
                         "part-0.parquet"))

    def window(sid):
        ts, vs = series[sid]
        sel = (ts >= np.datetime64(start, "us")) & (ts <= np.datetime64(end, "us"))
        return list(zip(ts[sel].tolist(), vs[sel].tolist()))

    # INFLOW.DAT: the first sample is the elapsed-hours origin
    dis = window("dis_0")
    inflow = ["0" + str(INFLOW_CELL).rjust(16),
              "C" + "0".rjust(16) + str(INFLOW_CELL).rjust(16),
              "H" + "0".rjust(16) + "0".rjust(16)]
    t0 = dis[0][0]
    inflow += ["H" + jfmt((t - t0).total_seconds() / 3600.0, 1).rjust(16)
               + jfmt(v, 1).rjust(16) for t, v in dis[1:]]

    # OUTFLOW.DAT: K rows, then per N node its non-gap S rows (hours
    # from the node's first sample, gap rows included), then the tail
    tail_out = ["O             330", "O             462"]
    outflow = ["K" + str(c).rjust(16) for c in OUTFLOW_K]
    for j, node in enumerate(OUTFLOW_N):
        rows = window(f"tide_{j}")
        outflow.append("N" + str(node).rjust(16) + "1".rjust(16))
        t0 = rows[0][0]
        outflow += ["S" + jfmt((t - t0).total_seconds() / 3600.0, 3).rjust(16)
                    + jfmt(v, 3).rjust(16) for t, v in rows if int(v) != int(TIDE_GAP)]
    outflow += tail_out

    # RAIN.DAT: 15-minute right-closed sums of the 5-minute gauge, then
    # the running fraction of the window total (quarter-millimetre
    # values keep every sum exact in binary)
    buckets: dict[datetime, float] = {}
    for t, v in window("rain_0"):
        sec = int((t - datetime(1970, 1, 1)).total_seconds())
        b = datetime(1970, 1, 1) + timedelta(seconds=-(-sec // 900) * 900)
        buckets[b] = buckets.get(b, 0.0) + v
    total = sum(buckets.values())
    rain = [" 0             0 ",
            " " + jfmt(total, 3) + "         5             0             0 "]
    cum = 0.0
    for b in sorted(buckets):
        cum += buckets[b]
        frac = cum / total if total != 0 else 0.0
        rain.append("R              " + jfmt((b - start).total_seconds() / 3600.0, 3).ljust(14)
                    + jfmt(frac, 3) + " ")

    # CHAN.DAT: template pairs keyed into initial conditions; each end
    # takes the first observed level in [start, start + 2h]
    rng = _rng(seed, 3)
    n_pairs = sz["chan_pairs"]
    pair_cells = rng.choice(np.arange(1000, 99999), size=2 * n_pairs, replace=False).tolist()
    defaults = [f"{x / 100:.2f}" for x in rng.integers(0, 300, 2 * n_pairs).tolist()]
    body = [f"{c} {d}" for c, d in zip(pair_cells, defaults)]
    n_obs = n_pairs
    obs_rows, first_wl = [], {}
    for o in range(n_obs):
        # one in eight gauges only reports after the 2-hour horizon
        late = rng.random() < 0.125
        lo = start + (timedelta(hours=3) if late else timedelta(minutes=-60))
        first = None
        for i in range(12):
            t = lo + i * step
            v = int(rng.integers(50, 996)) / 100.0
            obs_rows.append((f"obs_{o}", t, v))
            if first is None and start <= t <= start + timedelta(hours=2):
                first = v
        first_wl[f"obs_{o}"] = first
    _write_parquet(pa.table({
        "id": [r[0] for r in obs_rows], "time": pa.array([r[1] for r in obs_rows], TS),
        "value": pa.array([r[2] for r in obs_rows], pa.float64()),
    }), os.path.join(store, "obs", "part-0.parquet"))
    ic_rows = []
    chan_body = []
    for p in range(n_pairs):
        up, dwn = pair_cells[2 * p], pair_cells[2 * p + 1]
        up_def, dwn_def = defaults[2 * p], defaults[2 * p + 1]
        up_id = dwn_id = None
        if rng.random() < 0.85:  # the rest have no initial-conditions row
            up_id = f"obs_{int(rng.integers(0, n_obs))}" if rng.random() < 0.8 else None
            dwn_id = f"obs_{int(rng.integers(0, n_obs))}" if rng.random() < 0.6 else None
            ic_rows.append((f"{MODEL}_{up}_{dwn}", up_id, dwn_id))
        up_wl = first_wl.get(up_id) if up_id else None
        dwn_wl = first_wl.get(dwn_id) if dwn_id else None
        up_out = repr(up_wl) if up_wl is not None else up_def
        if dwn_id is None:
            dwn_out = repr(up_wl) if up_wl is not None else dwn_def
        else:
            dwn_out = repr(dwn_wl) if dwn_wl is not None else dwn_def
        chan_body += [str(up).ljust(6) + up_out.rjust(6), str(dwn).ljust(6) + dwn_out.rjust(6)]
    _write_parquet(pa.table({
        "grid_id": [r[0] for r in ic_rows],
        "up_obs_id": pa.array([r[1] for r in ic_rows], pa.string()),
        "dwn_obs_id": pa.array([r[2] for r in ic_rows], pa.string()),
    }), os.path.join(store, "initial_conditions", "part-0.parquet"))
    chan_head = [f"{MODEL} CHAN.DAT head", "   0.030   0.000"]
    chan_tail = ["T    1    2", "T    3    4"]
    assets = os.path.join(root, "assets")
    _write_text(os.path.join(assets, "chan_body.txt"), body)
    _write_text(os.path.join(assets, "chan_head.txt"), chan_head)
    _write_text(os.path.join(assets, "chan_tail.txt"), chan_tail)
    _write_text(os.path.join(assets, "outflow_tail.txt"), tail_out)
    with open(os.path.join(assets, "tide.json"), "w") as fh:
        json.dump(tide_cfg, fh, sort_keys=True)

    return {
        "start": s_str, "end": e_str,
        "raincell": raincell,
        "inflow": inflow, "outflow": outflow, "rain": rain,
        "chan": chan_head + chan_body + chan_tail,
    }


# ----------------------------------------------------------- flo2d_output
def tms_id(station_id: int, lat: float, lon: float) -> str:
    """Content-addressed series id over the forecast metadata tuple:
    sha256 of the ':'-joined (sim_tag, model, variable, unit, lat, lon,
    station)."""
    key = ":".join(["daily_run", MODEL, "WaterLevel", "m",
                    f"{lat:.6f}", f"{lon:.6f}", str(station_id)])
    return hashlib.sha256(key.encode()).hexdigest()


def gen_flo2d_output(root: str, seed: int, size: dict | None = None) -> dict:
    """HYCHAN.OUT + TIMDEP.OUT of one simulation, the station maps,
    and a pristine store history (``history/``: fcst_data of earlier
    daily runs, their run-date dim and run metadata) that the runner
    copies into ``store/`` before every pass."""
    sz = dict(SIZES["flo2d_output"], **(size or {}))
    rng = _rng(seed, 11)
    base = datetime(2024, 3, 10)
    fgt = base + timedelta(hours=6)
    n_el, n_st = sz["elements"], sz["steps"]

    elements = rng.choice(np.arange(100, 99999), size=n_el, replace=False).tolist()
    elev = rng.integers(100, 2000, size=(n_el, n_st)) / 100.0
    hours = [0.25 * i for i in range(n_st)]
    lines = []
    for e, el in enumerate(elements):
        lines.append(f"     CHANNEL HYDROGRAPH FOR ELEMENT NO:   {el}")
        lines.append("")
        lines.append("    TIME       ELEV     DEPTH  VELOCITY  DISCHARGE     FROUDE")
        for i, hr in enumerate(hours):
            ev = elev[e, i]
            lines.append(f"{hr:10.2f}{ev:10.2f}{ev / 10:10.2f}{0.5:10.2f}{ev * 3:11.2f}{0.1:11.2f}")
    hychan = os.path.join(root, "sim", "HYCHAN.OUT")
    _write_text(hychan, lines)

    n_cells, n_blk = sz["cells"], sz["blocks"]
    cells = rng.choice(np.arange(1, 200000), size=n_cells, replace=False).tolist()
    fp_idx = rng.choice(n_cells, size=sz["fp_stations"], replace=False).tolist()
    fp_set = set(fp_idx)
    depth = rng.integers(0, 500, size=(n_blk, n_cells)) / 1000.0
    present = rng.random((n_blk, n_cells)) > 0.03
    present[:, fp_idx[0]] = True  # every block keeps at least one station cell
    lines = []
    gaps = 0
    for b in range(n_blk):
        lines.append(f"{0.5 * b:12.2f}")
        for c in range(n_cells):
            if not present[b, c]:
                gaps += c in fp_set
                continue
            lines.append(f"{cells[c]:8d}{1.0:10.3f}{2.0:10.3f}{0.0:10.3f}{0.0:10.3f}{depth[b, c]:10.3f}")
    timdep = os.path.join(root, "sim", "TIMDEP.OUT")
    _write_text(timdep, lines)
    with open(os.path.join(root, "sim", "run_meta.json"), "w") as fh:
        json.dump({"rain": {"model": MODEL}}, fh)

    chan_idx = rng.choice(n_el, size=sz["chan_stations"], replace=False).tolist()
    stations = []  # (element_no, station_id, lat, lon)
    for j, e in enumerate(chan_idx):
        stations.append((str(elements[e]), 1000 + j, 6.8 + j * 1e-4, 79.8 + j * 1e-4))
    fp_stations = []
    for j, c in enumerate(fp_idx):
        fp_stations.append((str(cells[c]), 5000 + j, 6.9 + j * 1e-4, 79.9 + j * 1e-4))
    store = os.path.join(root, "store")

    def station_table(rows):
        return pa.table({
            "element_no": [r[0] for r in rows],
            "station_id": pa.array([r[1] for r in rows], pa.int64()),
            "latitude": [r[2] for r in rows], "longitude": [r[3] for r in rows],
        })

    _write_parquet(station_table(stations), os.path.join(store, "stations", "part-0.parquet"))
    _write_parquet(station_table(fp_stations), os.path.join(root, "flood_stations", "part-0.parquet"))

    # history: the same series from 14 earlier daily runs
    hist = os.path.join(root, "history")
    all_st = stations + fp_stations
    ids = [tms_id(s, la, lo) for _, s, la, lo in all_st]
    per_run = len(stations) * n_st + len(fp_stations) * n_blk
    for d in range(1, sz["history_runs"] + 1):
        b_d = base - timedelta(days=d)
        t_ch = np.array([b_d + timedelta(hours=hr) for hr in hours], dtype="datetime64[us]")
        t_fp = np.array([b_d + timedelta(hours=0.5 * b) for b in range(n_blk)], dtype="datetime64[us]")
        col_id, col_st, col_t = [], [], []
        for j, (_, s, _, _) in enumerate(all_st):
            n = n_st if j < len(stations) else n_blk
            col_id += [ids[j]] * n
            col_st += [s] * n
            col_t.append(t_ch if j < len(stations) else t_fp)
        _write_parquet(pa.table({
            "tms_id": col_id,
            "station_id": pa.array(col_st, pa.int64()),
            "time": pa.array(np.concatenate(col_t), TS),
            "value": rng.integers(0, 2000, per_run) / 100.0,
            "fgt": pa.array(np.full(per_run, np.datetime64(fgt - timedelta(days=d), "us")), TS),
        }), os.path.join(hist, "fcst_data", f"part-{d:02d}.parquet"))
    n_hist = sz["history_runs"]
    _write_parquet(pa.table({
        "tms_id": ids,
        "start_date": pa.array([fgt - timedelta(days=n_hist)] * len(ids), TS),
        "fgt": pa.array([fgt - timedelta(days=1)] * len(ids), TS),
    }), os.path.join(hist, "fcst_latest_fgt", "part-0.parquet"))
    _write_parquet(pa.table({
        "source_id": pa.array([1], pa.int64()), "variable_id": pa.array([1], pa.int64()),
        "sim_tag": ["daily_run"], "fgt": pa.array([fgt - timedelta(days=1)], TS),
        "metadata": ['{"rain":{"model":"flo2d_150_v2"}}'], "template_path": pa.array([None], pa.string()),
    }), os.path.join(hist, "run_metadata", "part-0.parquet"))

    # known values: channel ELEV and flood-plain depth (or the gap value)
    known = []
    for j in rng.choice(len(stations), size=min(8, len(stations)), replace=False).tolist():
        i = int(rng.integers(0, n_st))
        known.append([stations[j][1], (base + timedelta(hours=hours[i])).strftime(DATE_FMT),
                      float(elev[chan_idx[j], i])])
    for j in rng.choice(len(fp_stations), size=min(8, len(fp_stations)), replace=False).tolist():
        b = int(rng.integers(0, n_blk))
        c = fp_idx[j]
        v = float(depth[b, c]) if present[b, c] else MISSING_VALUE
        known.append([fp_stations[j][1], (base + timedelta(hours=0.5 * b)).strftime(DATE_FMT), v])
    return {
        "base_time": base.strftime(DATE_FMT), "fgt": fgt.strftime(DATE_FMT),
        "hychan": hychan, "timdep": timdep,
        "hychan_bytes": os.path.getsize(hychan), "timdep_bytes": os.path.getsize(timdep),
        "rows_after": per_run * (n_hist + 1), "rows_incoming": per_run,
        "gaps": gaps, "known": known,
        "metadata": '{"rain":{"model":"flo2d_150_v2"}}',
    }


# ----------------------------------------------------------- corpus_dedup
_SYL = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "vu", "sha", "gri",
        "bel", "tor", "an", "us", "ek", "ol", "ir", "um"]

_PAGES = [
    '<html><body><div class="c{n}"><p>{t}</p></div></body></html>',
    '<!DOCTYPE html><html><head><style>p {{ color: #{n:03d}; }}</style></head>'
    '<body><article id="a{n}"><h2>{t}</h2></article><!-- page {n} --></body></html>',
    '<div><span class="x">{t}</span><script type="text/javascript">var n = {n};</script></div>',
    '<section data-n="{n}"><p>{t}</p><br/><footer>&nbsp;</footer></section>',
]


def _render_doc(words: list[str], rng: np.random.Generator, n: int) -> str:
    """HTML around ``words``: markup, casing, punctuation and entity
    noise that stripping and normalization remove, so every rendering
    of one word list has the same shingle set."""
    case = rng.random(len(words))
    noise = rng.random(len(words))
    out = []
    for w, c, z in zip(words, case.tolist(), noise.tolist()):
        out.append(w.capitalize() if c < 0.1 else w.upper() if c < 0.15 else w)
        if z < 0.08:
            out.append(",")
        elif z < 0.12:
            out.append("&nbsp;")
        elif z < 0.15:
            out.append("</b><b>")
    text = " ".join(out)
    return _PAGES[int(rng.integers(0, len(_PAGES)))].format(n=n, t=text)


def gen_corpus(root: str, seed: int, size: dict | None = None) -> dict:
    """HTML-wrapped JSONL corpus with planted near-duplicate clusters.

    Cluster members render one word list through different markup,
    so after stripping they are identical (Jaccard 1: LSH always pairs
    them and verification always keeps them). Decoys share half a
    word list with another document (Jaccard well under the 0.8
    threshold): they become LSH candidates that verification rejects.
    Survivors are the smallest id of each cluster plus every other
    document, which gives the count and id sum in closed form.
    """
    sz = dict(SIZES["corpus_dedup"], **(size or {}))
    n = sz["docs"]
    rng = _rng(seed, 21)
    syl = np.array(_SYL)
    parts = rng.integers(0, len(_SYL), size=(12000, 4))
    lens = rng.integers(2, 5, size=12000)
    vocab = np.array(sorted({"".join(syl[p[:k]]) for p, k in zip(parts, lens.tolist())}))
    ids = rng.permutation(np.arange(1, n + 1)).tolist()  # doc_id per slot
    texts: list[list[str] | None] = [None] * n
    slot = 0
    clusters = []
    while slot < int(n * 0.15):
        k = int(rng.integers(2, 7))
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(40, 80)))].tolist()
        members = list(range(slot, min(slot + k, n)))
        for m in members:
            texts[m] = words
        clusters.append([ids[m] for m in members])
        slot += k
    while slot < n:
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(40, 80)))].tolist()
        texts[slot] = words
        if slot + 1 < n and rng.random() < 0.05:  # decoy of this document
            half = len(words) // 2
            texts[slot + 1] = words[:half] + vocab[rng.integers(0, len(vocab), len(words) - half)].tolist()
            slot += 1
        slot += 1
    path = os.path.join(root, "corpus.jsonl")
    os.makedirs(root, exist_ok=True)
    order = np.argsort(ids).tolist()  # file in doc_id order
    with open(path, "w") as fh:
        for s in order:
            fh.write(json.dumps({"doc_id": ids[s], "text": _render_doc(texts[s], rng, ids[s])}) + "\n")
    dropped = [i for c in clusters for i in sorted(c)[1:]]
    return {
        "input": path, "docs": n,
        "survivors": n - len(dropped),
        "survivor_id_sum": n * (n + 1) // 2 - sum(dropped),
        "clusters": len(clusters),
    }


GENERATORS = {
    "flo2d_input": gen_flo2d_input,
    "flo2d_output": gen_flo2d_output,
    "corpus_dedup": gen_corpus,
}
