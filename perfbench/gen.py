"""Seeded input generator for the mobility-pipeline benchmark.

Every table is a pure function of (workload parameters, seed): numpy's
PCG64 stream drives every draw and pyarrow writes single-file parquet, so
the same seed gives byte-identical files. The program under test only ever
sees the pings/dim parquet (day workloads) or the stage IR it would have
written itself (``network_restart``); ``planted.parquet`` stays beside the
inputs for the output checks.

Day workloads lay devices on a square res-15 lattice in the CLI's
fallback-grid cell format (``g15:<i>:<j>``, cell width 10/2**15 degrees).
AGEBs are square blocks of cells; the dim maps a seeded share of the
cells. Each device sleeps in a home cell (22-06 h local), spends the day in
a work cell and roams a share of the time. ``hotspots`` > 0 draws the work
cells from that many lattice cells with Zipf weights, which makes the
co-location join quadratic per (cell, bucket).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CELL_RES = 15
CELL_DEG = 10.0 / 2**CELL_RES  # hexgrid._RES_DEG[15], exact in binary
ORIGIN_I = 63569  # floor(19.4 / CELL_DEG): lattice corner near CDMX
ORIGIN_J = -325059  # floor(-99.2 / CELL_DEG)
NIGHT_START, NIGHT_END = 22, 6
UTC_OFFSET_S = 6 * 3600  # America/Mexico_City in January (UTC-6, no DST)

DAY = "2020-01-15"
_DAY_EPOCH_S = 1579046400  # 2020-01-15T00:00:00 as a UTC instant


def ageb_code(block: int) -> str:
    """13-digit cve_geo for a block index (state prefix '09')."""
    return f"09{1_000_000 + block:011d}"


def cell_id(i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Lattice offsets -> fallback-grid cell strings."""
    return np.char.add(
        np.char.add("g15:", (ORIGIN_I + i).astype(str)),
        np.char.add(":", (ORIGIN_J + j).astype(str)),
    )


def _caids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct 16-hex-digit device ids."""
    while True:
        raw = rng.integers(0, 2**62, size=n, dtype=np.int64)
        if len(np.unique(raw)) == n:
            return np.array([f"{v:016x}" for v in raw])


def _zipf_weights(k: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, k + 1) ** s
    return w / w.sum()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def day_tables(p: dict, seed: int) -> dict[str, pa.Table]:
    """pings, dim and planted homes for one day workload."""
    rng = np.random.default_rng([seed, 1])
    side, ageb = p["lattice"], p["ageb_cells"]
    n_dev, n_ping = p["devices"], p["pings"]
    per_side = side // ageb

    # dim: (cell, cve_geo) for a seeded share of the lattice
    ci, cj = np.divmod(np.arange(side * side), side)
    block = (ci // ageb) * per_side + (cj // ageb)
    mapped = rng.random(side * side) < p["mapped"]
    dim = pa.table({
        "cell": cell_id(ci[mapped], cj[mapped]),
        "cve_geo": np.array([ageb_code(b) for b in range(per_side**2)])[block[mapped]],
    })

    caid = _caids(rng, n_dev)
    # homes spread evenly over the AGEBs (census blocks of similar
    # population), each in a random cell of its block
    home_block = rng.permutation(np.arange(n_dev) % per_side**2)
    bi, bj = np.divmod(home_block, per_side)
    home = ((bi * ageb + rng.integers(0, ageb, n_dev)) * side
            + bj * ageb + rng.integers(0, ageb, n_dev))
    if p["hotspots"]:
        # exact Zipf head counts (largest remainder), so the quadratic
        # co-location load does not swing with a multinomial draw
        spots = rng.choice(side * side, size=p["hotspots"], replace=False)
        share = _zipf_weights(p["hotspots"], p["zipf"]) * n_dev
        counts = np.floor(share).astype(np.int64)
        counts[np.argsort(counts - share)[: n_dev - counts.sum()]] += 1
        work = rng.permutation(np.repeat(spots, counts))
    else:
        work = rng.integers(0, side * side, size=n_dev)

    # pings: local wall-clock seconds of the day, sorted per device
    dev = np.repeat(np.arange(n_dev), n_ping)
    sec = np.sort(rng.integers(0, 86400, size=(n_dev, n_ping)), axis=1).ravel()
    hour = sec // 3600
    night = (hour >= NIGHT_START) | (hour < NIGHT_END)
    cell = np.where(night, home[dev], work[dev])
    roam = rng.random(dev.size) < p["roam"]
    cell = np.where(roam, rng.integers(0, side * side, size=dev.size), cell)
    pi, pj = np.divmod(cell, side)
    # points sit strictly inside their cell, so floor(lat / width) is exact
    lat = (ORIGIN_I + pi + rng.uniform(0.1, 0.9, dev.size)) * CELL_DEG
    lon = (ORIGIN_J + pj + rng.uniform(0.1, 0.9, dev.size)) * CELL_DEG
    local_s = _DAY_EPOCH_S + sec
    acc = rng.uniform(0.0, 500.0, dev.size)
    acc = np.where(rng.random(dev.size) < p["low_accuracy"], acc * 0.2, 100.0 + acc)
    pings = pa.table({
        "caid": caid[dev],
        "utc_timestamp": (local_s + UTC_OFFSET_S).astype(np.int64),
        # Spark TIMESTAMP (UTC-adjusted): the local wall clock as an instant,
        # as from_utc_timestamp(..., 'America/Mexico_City') stores it
        "cdmx_datetime": pa.array(local_s * 1_000_000, pa.timestamp("us", tz="UTC")),
        "latitude": lat,
        "longitude": lon,
        "horizontal_accuracy": np.round(acc, 2),
    })
    planted = pa.table({
        "caid": caid,
        "home_cell": cell_id(*np.divmod(home, side)),
        "home_ageb": np.array([ageb_code(b) for b in block[home]]),
        "home_mapped": mapped[home],
    })
    return {"pings": pings, "dim": dim, "planted": planted}


def restart_tables(p: dict, seed: int) -> dict[str, pa.Table]:
    """Stage IR (homes, contact_probs) for the network-restart workload:
    Zipf-sized blocks and a block-diagonal contact probability matrix."""
    rng = np.random.default_rng([seed, 2])
    n_dev, n_blk = p["devices"], p["blocks"]
    sizes = np.maximum(1, np.round(_zipf_weights(n_blk, p["zipf"]) * n_dev)).astype(np.int64)
    sizes[0] += n_dev - sizes.sum()
    # the largest block takes the lowest code, so the CLI's index cases
    # (the lowest node ids) always start in it
    codes = np.array([ageb_code(int(b)) for b in np.sort(rng.permutation(10 * n_blk)[:n_blk])])
    member = np.repeat(np.arange(n_blk), sizes)
    homes = pa.table({
        "caid": _caids(rng, n_dev),
        "home_ageb": codes[member],
        "score": rng.integers(1, 50, size=n_dev),
        "confidence": np.where(rng.random(n_dev) < 0.5, "high", "low"),
    })
    a, b = np.divmod(np.arange(n_blk * n_blk), n_blk)
    base = np.where(a == b, p["p_in"], p["p_out"])
    prob = np.round(base * rng.uniform(0.5, 1.5, a.size), 6)
    total = sizes[a] * sizes[b]
    probs = pa.table({
        "a_home_ageb": codes[a],
        "b_home_ageb": codes[b],
        "total_pairs": total,
        "observed": np.round(prob * total).astype(np.int64),
        "prob": prob,
    })
    return {"homes": homes, "contact_probs": probs}


def key(params: dict, seed: int) -> str:
    blob = json.dumps({"params": params, "seed": seed}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def materialize(params: dict, seed: int, cache_dir: str) -> str:
    """Write (or reuse) the inputs for (params, seed); returns their dir.
    Files are written to a temp dir and renamed, so a half-written set is
    never reused."""
    out = os.path.join(cache_dir, f"{params['kind']}-{seed}-{key(params, seed)}")
    if os.path.exists(os.path.join(out, "sizes.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = (day_tables if params["kind"] == "day" else restart_tables)(params, seed)
    for name, t in tables.items():
        _write(t, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "sizes.json"), "w") as f:
        json.dump(describe(tables, tmp), f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def describe(tables: dict[str, pa.Table], where: str) -> dict:
    """Rows, devices, cells, blocks and bytes of a generated input set."""
    sizes = {}
    for name, t in tables.items():
        entry = {"rows": t.num_rows,
                 "bytes": os.path.getsize(os.path.join(where, f"{name}.parquet"))}
        if "caid" in t.column_names:
            entry["devices"] = len(set(t.column("caid").to_pylist()))
        if "cell" in t.column_names:
            entry["cells"] = t.num_rows
        for col in ("cve_geo", "home_ageb", "a_home_ageb"):
            if col in t.column_names:
                entry["blocks"] = len(set(t.column(col).to_pylist()))
                break
        sizes[name] = entry
    return sizes
