"""The workloads: inputs, the commands of one pass, the untimed
restore before each pass, and the output checks after it.

A pass is a closed loop with one client: each CLI command starts after
the previous one returns, all in this process, so they share its
SparkSession as a cron job's sequence of commands shares a host.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import checks
import gen


@dataclass
class Command:
    argv: list[str]
    check: Callable[[], list[str]]

    @property
    def span(self) -> str:
        return "cli." + self.argv[0].replace("-", "_")


@dataclass
class Workload:
    name: str
    commands: list[Command]
    restore: Callable[[], None]
    expect: dict


def _flo2d_cycle(work: str, seed: int) -> Workload:
    """The daily FLO-2D cycle: the five input renders, then the output
    extraction into the forecast store."""
    inp, out = os.path.join(work, "input"), os.path.join(work, "out")
    exp_in = gen.gen_flo2d_input(inp, seed)
    store, assets = os.path.join(inp, "store"), os.path.join(inp, "assets")
    window = ["-m", gen.MODEL, "-s", exp_in["start"], "-e", exp_in["end"], "--store", store]
    sim = os.path.join(work, "output")
    exp_out = gen.gen_flo2d_output(sim, seed)
    fstore, hist = os.path.join(sim, "store"), os.path.join(sim, "history")
    tables = ("fcst_data", "fcst_latest_fgt", "run_metadata")

    def restore():
        # the renders skip outputs that already exist, so clear them
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        # the forecast store goes back to what the 14 earlier runs left
        for name in os.listdir(fstore):
            if name.startswith(tables):
                shutil.rmtree(os.path.join(fstore, name))
        for t in tables:
            shutil.copytree(os.path.join(hist, t), os.path.join(fstore, t))

    def dat(name):
        return os.path.join(out, name)

    return Workload("flo2d_cycle", [
        Command(["gen-raincell", *window, "--out", dat("RAINCELL.DAT")],
                lambda: checks.check_raincell(dat("RAINCELL.DAT"), exp_in["raincell"])),
        Command(["gen-inflow", *window, "--grid_id", "discharge_glencourse",
                 "--out", dat("INFLOW.DAT")],
                lambda: checks.check_lines(dat("INFLOW.DAT"), exp_in["inflow"])),
        Command(["gen-outflow", *window, "--tide_config", os.path.join(assets, "tide.json"),
                 "--tail", os.path.join(assets, "outflow_tail.txt"), "--out", dat("OUTFLOW.DAT")],
                lambda: checks.check_lines(dat("OUTFLOW.DAT"), exp_in["outflow"])),
        Command(["gen-rain", *window, "--grid_id", "rainfall_kelani", "--out", dat("RAIN.DAT")],
                lambda: checks.check_lines(dat("RAIN.DAT"), exp_in["rain"])),
        Command(["gen-chan", *window, "--body", os.path.join(assets, "chan_body.txt"),
                 "--head", os.path.join(assets, "chan_head.txt"),
                 "--tail", os.path.join(assets, "chan_tail.txt"), "--out", dat("CHAN.DAT")],
                lambda: checks.check_lines(dat("CHAN.DAT"), exp_in["chan"])),
        Command(["extract-water-level", "-m", gen.MODEL, "--hychan", exp_out["hychan"],
                 "--base_time", exp_out["base_time"], "--store", fstore,
                 "--fgt", exp_out["fgt"], "--timdep", exp_out["timdep"],
                 "--flood_stations", os.path.join(sim, "flood_stations")],
                lambda: checks.check_flo2d_output(fstore, exp_out)),
    ], restore, dict(exp_out, fcst_data=os.path.join(fstore, "fcst_data")))


def _corpus_dedup(work: str, seed: int) -> Workload:
    exp = gen.gen_corpus(work, seed)
    imported, deduped = os.path.join(work, "imported"), os.path.join(work, "deduped")

    def restore():
        for d in (imported, deduped):
            shutil.rmtree(d, ignore_errors=True)

    return Workload("corpus_dedup", [
        Command(["import-corpus", "--input", exp["input"], "--output", imported,
                 "--schema", "doc_id long, text string", "--strip-html", "text"],
                lambda: checks.check_import(imported, exp)),
        Command(["dedup-corpus", "--input", imported, "--output", deduped,
                 "--method", "minhash", "--keep_only"],
                lambda: checks.check_dedup(deduped, exp)),
    ], restore, exp)


BUILDERS = {
    "flo2d_cycle": _flo2d_cycle,
    "corpus_dedup": _corpus_dedup,
}
