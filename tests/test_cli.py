"""CLI driver smoke: the staged NetworkBuilder-shaped entry point
(cli.py) runs end-to-end on the sf0.001 demo derivation and leaves the
reference's side_results-shaped IR behind."""

from __future__ import annotations

import json
import os

import pytest

from epiteam_network_etl_functions_spark import cli
from conftest import PARITY_SF_DIR


def _args(out: str, extra: list[str] | None = None):
    return cli.build_parser().parse_args(
        [
            "all",
            "--sf-dir",
            PARITY_SF_DIR,
            "--out",
            out,
            "--bucket-seconds",
            "86400",
            "--impute-rounds",
            "2",
            "--scale",
            "120",
            "--seeds",
            "2",
            "--t-max",
            "10",
        ]
        + (extra or [])
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_cli_stages_end_to_end(spark, tmp_path):
    out = str(tmp_path / "run")
    os.makedirs(out)
    args = _args(out)

    tables = cli.gen_tables(spark, args)
    homes = tables["homes"]
    assert set(homes.columns) >= {"caid", "home_ageb"}
    assert homes.count() > 0
    for name in ("homes.parquet", "interactions.parquet", "located.parquet"):
        assert os.path.exists(os.path.join(out, name))

    # every stage hands on the IR files, so later plans are plain scans
    # and the co-location self-join ran once, inside gen-tables
    for name, df in tables.items():
        assert _plan(df).startswith("Relation "), name

    probs = cli.prob_matrix(spark, args, tables)
    assert set(probs.columns) == {
        "a_home_ageb", "b_home_ageb", "total_pairs", "observed", "prob"
    }
    assert _plan(probs).startswith("Relation ")
    labels = json.load(open(os.path.join(out, "probs_labels.json")))
    assert len(labels) > 0
    assert os.path.exists(os.path.join(out, "probs_matrix.npy"))

    nodes, edges = cli.build_network(spark, args, tables, probs)
    assert nodes.count() == 120  # scale honored exactly (sizes sum assert)
    assert os.path.exists(os.path.join(out, "network.graphml"))

    cli.seir_sweep(spark, args, nodes, edges)
    traj = os.path.join(out, "seir_trajectories.csv")
    assert os.path.exists(traj)
    with open(traj) as f:
        header = f.readline().strip()
    assert header == "seed,t,S,E,I,R"
    assert os.path.exists(os.path.join(out, "seir_results.pickle"))


def test_cli_graphml_cap_skips_sink(spark, tmp_path):
    """--graphml-max-edges 0 skips the driver-streamed XML sink but still
    writes the parquet IR (the scale artifact)."""
    out = str(tmp_path / "run_cap")
    os.makedirs(out)
    args = _args(out, ["--graphml-max-edges", "0"])
    tables = cli.gen_tables(spark, args)
    probs = cli.prob_matrix(spark, args, tables)
    nodes, edges = cli.build_network(spark, args, tables, probs)
    assert not os.path.exists(os.path.join(out, "network.graphml"))
    assert os.path.exists(os.path.join(out, "network_edges.parquet"))
    assert nodes.count() == 120


def test_cli_seir_distributed_switch(spark, tmp_path):
    """Forcing --seir-max-collect-edges below the demo network's edge
    count routes the sweep through the distributed discrete-time kernel;
    output artifacts keep the same shape (seed column, per-t stats)."""
    import csv

    out = str(tmp_path / "run_dist")
    os.makedirs(out)
    args = _args(out, ["--seir-max-collect-edges", "1"])
    tables = cli.gen_tables(spark, args)
    probs = cli.prob_matrix(spark, args, tables)
    nodes, edges = cli.build_network(spark, args, tables, probs)
    cli.seir_sweep(spark, args, nodes, edges)
    with open(os.path.join(out, "seir_trajectories.csv")) as f:
        rows = list(csv.DictReader(f))
    assert {r["seed"] for r in rows} == {"0", "1"}
    # discrete kernel: integer-valued t, conservation per row
    for r in rows:
        assert float(r["t"]) == int(float(r["t"]))
        assert int(r["S"]) + int(r["E"]) + int(r["I"]) + int(r["R"]) == 120
    with open(os.path.join(out, "seir_stats.csv")) as f:
        assert f.readline().strip() == "t,avg_I,std_I,n_runs"


def test_cli_stage_restart_reads_prior_ir(spark, tmp_path, capsys):
    """A later stage in a fresh invocation reuses the parquet IR."""
    out = str(tmp_path / "run2")
    os.makedirs(out)
    args = _args(out)
    cli.gen_tables(spark, args)
    # no in-memory tables passed: must read homes/located/interactions
    # from disk, and the observed contacts equal the ones a fresh
    # co-location self-join over the located pings gives
    from epiteam_network_etl_functions_spark.plans.contact_matrix import (
        contact_prob_table,
    )

    probs = cli.prob_matrix(spark, args, None)
    err = capsys.readouterr().err
    for name in ("homes", "located", "interactions"):
        assert f"# {name}: reusing {os.path.join(out, name)}.parquet" in err
    located = spark.read.parquet(os.path.join(out, "located.parquet"))
    homes = spark.read.parquet(os.path.join(out, "homes.parquet"))
    fresh = contact_prob_table(
        located, homes.select("caid", "home_ageb"),
        bucket_seconds=args.bucket_seconds,
    )
    assert probs.count() > 0
    assert sorted(probs.collect()) == sorted(fresh.select(*probs.columns).collect())
    cli.rg_stage(spark, args, None)
    with open(os.path.join(out, "rg_by_mun.csv")) as f:
        assert f.readline().strip() == "cve_mun,avg_rg,std_rg,n_devices"

    # without the interactions IR a --prob-matrix restart cannot run
    import shutil

    shutil.rmtree(os.path.join(out, "interactions.parquet"))
    with pytest.raises(SystemExit, match="run --gen-tables first"):
        cli.prob_matrix(spark, args, None)


def test_cli_corpus_stage(spark, tmp_path):
    out = str(tmp_path / "corpus_run")
    os.makedirs(out)
    args = _args(out, ["--corpus", "--corpus-shards", "2"])
    cli.corpus_stage(spark, args)
    # stage IR: gzip JSONL shards, packed bins parquet, funnel CSV
    shard_dir = os.path.join(out, "corpus_shards")
    assert spark.read.json(shard_dir).count() > 0
    packed = spark.read.parquet(os.path.join(out, "corpus_packed.parquet"))
    assert set(packed.columns) == {"doc_id", "n_tokens", "bin_id"}
    with open(os.path.join(out, "corpus_funnel.csv")) as f:
        lines = f.read().strip().splitlines()
    assert lines[0].split(",")[:2] == ["stage_id", "stage"]
    assert len(lines) == 6  # header + 5 stages
