"""Fast tests of the benchmark itself (not of the package):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The traced-run test starts one Spark process on a tiny seeded day
(about a minute on 4 cores); the rest run in seconds.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TINY_DAY = dict(run.DAY_GEN, devices=150, pings=40, lattice=64)
TINY_RESTART = dict(run.WORKLOADS["network_restart"]["gen"], devices=500, blocks=20)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


@pytest.mark.parametrize("params", [TINY_DAY, TINY_RESTART])
def test_generator_is_deterministic_per_seed(tmp_path, params):
    a = _files(gen.materialize(params, 7, str(tmp_path / "a")))
    b = _files(gen.materialize(params, 7, str(tmp_path / "b")))
    c = _files(gen.materialize(params, 8, str(tmp_path / "c")))
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if k.endswith(".parquet"))


def test_planted_homes_sit_in_the_night_pings(tmp_path):
    import pyarrow.parquet as pq

    d = gen.materialize(TINY_DAY, 3, str(tmp_path))
    pings = pq.read_table(os.path.join(d, "pings.parquet")).to_pylist()
    planted = {p["caid"]: p for p in pq.read_table(os.path.join(d, "planted.parquet")).to_pylist()}
    dim = dict(zip(*pq.read_table(os.path.join(d, "dim.parquet")).to_pydict().values()))
    home_hits, night = 0, 0
    for p in pings:
        if p["cdmx_datetime"].hour >= 22 or p["cdmx_datetime"].hour < 6:
            i = int(p["latitude"] // gen.CELL_DEG)
            j = int(p["longitude"] // gen.CELL_DEG)
            night += 1
            home_hits += f"g15:{i}:{j}" == planted[p["caid"]]["home_cell"]
    assert home_hits / night > 0.8  # roaming takes the rest
    for p in planted.values():
        assert p["home_mapped"] == (p["home_cell"] in dim)
        if p["home_mapped"]:
            assert dim[p["home_cell"]] == p["home_ageb"]


@pytest.fixture(scope="module")
def traced():
    spec = dict(run.WORKLOADS["city_day"], gen=TINY_DAY)
    spec["cli"] = [gen.DAY, "--gen-tables", "--prob-matrix", "--build-network",
                   "--seir", "--scale", "300", "--seeds", "2"]
    r = run.Runner("test_day", 5, time.time() + 170.0, spec)
    try:
        yield r.pipeline(trace=True)
    finally:
        shutil.rmtree(r.run_dir, ignore_errors=True)


def test_tiny_traced_run_passes_its_checks_and_recovers_homes(traced):
    assert traced["failed"] == 0, traced["errors"]
    assert traced["facts"]["home_match_ratio"] >= checks.HOME_MATCH_FLOOR


def test_ledger_reports_every_layer(traced):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    layers = traced["layers"]
    want = {m["name"] for m in bench["per_layer"]} - {"trace.overhead_s",
                                                      "process.peak_rss_mb"}
    assert want == set(layers)
    assert layers["cli.gen_tables.jobs"] > 10
    assert layers["cli.gen_tables.tasks"] >= layers["cli.gen_tables.stages"] > 0
    assert layers["functions.python_run_s"] > 0
    assert layers["functions.python_rows"] == layers["plans.mobility.located_rows"] > 0
    assert layers["operators.seir.seeds"] == 2
    assert layers["operators.graphs.sbm_candidates"] == 300 * 299 // 2


def test_every_metric_name_is_valid_and_declared():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.dirname(run.__file__), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "hotspot_day",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
