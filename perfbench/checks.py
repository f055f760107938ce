"""Output checks run after every pipeline process, plus the output facts
(row counts, artifact sizes, home recovery) the per-layer ledger reports.

A check never decides whether a run is timed; it decides whether the
stage that produced the output counts as failed (``stage_fail_ratio``).
Checks read the files with pyarrow/numpy only, outside the timed window.
"""

from __future__ import annotations

import csv
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# home_match_ratio floor: the seed code recovered every mapped planted home
# (ratio 1.0) on every measured day run (NOTES.md); roaming pings leave
# some slack, so a drop below 0.95 is a defect.
HOME_MATCH_FLOOR = 0.95
NIGHT_START, NIGHT_END = 22, 6

# artifact -> path under --out (sources.out_mb.<artifact>)
ARTIFACTS = {
    "located": "located.parquet",
    "homes": "homes.parquet",
    "interactions": "interactions.parquet",
    "contact_probs": "contact_probs.parquet",
    "probs_matrix": "probs_matrix.npy",
    "network_edges": "network_edges.parquet",
    "graphml": "network.graphml",
}


def size_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _rows(path: str) -> int:
    return pq.read_table(path, columns=[]).num_rows


def gated_devices(pings: pa.Table, min_accuracy: float) -> set:
    """Devices with a night ping that passes the accuracy gate: exactly
    the devices gen-tables must give a home row."""
    hour = pc.hour(pings.column("cdmx_datetime"))
    night = pc.or_(pc.greater_equal(hour, NIGHT_START), pc.less(hour, NIGHT_END))
    keep = pc.and_(night, pc.greater_equal(pings.column("horizontal_accuracy"),
                                           min_accuracy))
    return set(pings.filter(keep).column("caid").to_pylist())


def check_gen_tables(out: str, inputs: str, min_accuracy: float) -> tuple[list, dict]:
    errors, facts = [], {}
    homes = pq.read_table(os.path.join(out, "homes.parquet"))
    caids = homes.column("caid").to_pylist()
    pings = pq.read_table(os.path.join(inputs, "pings.parquet"),
                          columns=["caid", "cdmx_datetime", "horizontal_accuracy"])
    if len(caids) != len(set(caids)):
        errors.append("homes: duplicate caid rows")
    if set(caids) != gated_devices(pings, min_accuracy):
        errors.append("homes: device set differs from the gated devices")
    bad = [h for h in homes.column("home_ageb").to_pylist()
           if h is None or not re.fullmatch(r"[0-9]{13}", h)]
    if bad:
        errors.append(f"homes: {len(bad)} home_ageb values are not 13 digits")

    planted = pq.read_table(os.path.join(inputs, "planted.parquet")).to_pylist()
    inferred = dict(zip(caids, homes.column("home_ageb").to_pylist()))
    eligible = [p for p in planted if p["home_mapped"] and p["caid"] in inferred]
    hits = sum(inferred[p["caid"]] == p["home_ageb"] for p in eligible)
    facts["home_match_ratio"] = hits / len(eligible) if eligible else 0.0
    if facts["home_match_ratio"] < HOME_MATCH_FLOOR:
        errors.append(f"home_match_ratio {facts['home_match_ratio']:.3f} "
                      f"< floor {HOME_MATCH_FLOOR}")

    inter = pq.read_table(os.path.join(out, "interactions.parquet"),
                          columns=["a_caid", "b_caid"])
    same = pc.sum(pc.equal(inter.column("a_caid"), inter.column("b_caid"))).as_py()
    if same:
        errors.append(f"interactions: {same} pairs join a device to itself")
    facts["pairs"] = inter.num_rows
    facts["located_rows"] = _rows(os.path.join(out, "located.parquet"))
    return errors, facts


def check_prob_matrix(out: str) -> tuple[list, dict]:
    errors = []
    probs = pq.read_table(os.path.join(out, "contact_probs.parquet"), columns=["prob"])
    p = probs.column("prob").to_numpy(zero_copy_only=False)
    if np.isnan(p).any() or (p < 0).any() or (p > 1).any():
        errors.append("contact_probs: prob outside [0, 1]")
    with open(os.path.join(out, "probs_labels.json")) as f:
        labels = json.load(f)
    matrix = np.loadtxt(os.path.join(out, "probs_matrix.npy"), ndmin=2)
    if matrix.shape != (len(labels), len(labels)):
        errors.append(f"probs_matrix: shape {matrix.shape} for {len(labels)} labels")
    return errors, {"contact_rows": probs.num_rows, "blocks": len(labels)}


def check_build_network(out: str, scale: int) -> tuple[list, dict]:
    errors = []
    nodes = _rows(os.path.join(out, "network_nodes.parquet"))
    if nodes != scale:
        errors.append(f"network: {nodes} nodes for --scale {scale}")
    edges = pq.read_table(os.path.join(out, "network_edges.parquet"),
                          columns=["a_node", "b_node"])
    a, b = edges.column("a_node"), edges.column("b_node")
    if edges.num_rows and not pc.all(pc.less(a, b)).as_py():
        errors.append("network: edge with a_node >= b_node")
    return errors, {"nodes": nodes, "sbm_edges": edges.num_rows}


def check_seir(out: str, n_nodes: int, seeds: int) -> tuple[list, dict]:
    errors, seen, rows = [], set(), 0
    with open(os.path.join(out, "seir_trajectories.csv")) as f:
        for r in csv.DictReader(f):
            rows += 1
            seen.add(int(r["seed"]))
            if int(r["S"]) + int(r["E"]) + int(r["I"]) + int(r["R"]) != n_nodes:
                errors.append(f"seir: S+E+I+R != {n_nodes} at seed {r['seed']} t {r['t']}")
                break
    if seen != set(range(seeds)):
        errors.append(f"seir: seeds {sorted(seen)} != 0..{seeds - 1}")
    return errors, {"seir_rows": rows}


def check_run(stages: list[str], out: str, inputs: str, cli: dict,
              ir_inputs: tuple = ()) -> tuple[dict, dict]:
    """Check every stage that ran. Returns ({stage: [errors]}, facts)."""
    errors, facts = {}, {}
    jobs = {
        "gen_tables": lambda: check_gen_tables(out, inputs, cli["min_accuracy"]),
        "prob_matrix": lambda: check_prob_matrix(out),
        "build_network": lambda: check_build_network(out, cli["scale"]),
        "seir_sweep": lambda: check_seir(out, cli["scale"], cli["seeds"]),
    }
    for stage in stages:
        try:
            errors[stage], got = jobs[stage]()
            facts.update(got)
        except (OSError, ValueError, KeyError, pa.ArrowException) as e:
            errors[stage] = [f"output unreadable: {e!r}"[:300]]
    facts["out_bytes"] = {
        name: size_bytes(os.path.join(out, rel)) if name not in ir_inputs
        and os.path.exists(os.path.join(out, rel)) else 0
        for name, rel in ARTIFACTS.items()
    }
    facts["out_total_bytes"] = sum(
        size_bytes(os.path.join(out, f))
        for f in (os.listdir(out) if os.path.isdir(out) else [])
        if f.split(".")[0] not in ir_inputs
    )
    return errors, facts
