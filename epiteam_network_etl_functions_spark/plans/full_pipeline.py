"""The complete reference pipeline as one composition (SURVEY.md §3.2):

    raw pings -> day extract -> hex cells -> geo attribution
              -> night presence scores -> daily winners -> global winner
              -> sentinel-filled homes -> co-location interactions
              -> contact-probability table -> (driver-sized) SBM network
              -> SEIR trajectory

What the reference runs as a chain-of-responsibility over Context.payload
plus seven CLI scripts is here a function per stage and one orchestrating
call — each stage lazy, checkpointable, and unit-tested on its own
(plans/mobility.py, operators/*). This module exists so a reference user
can run the whole product with one call.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.colocation import colocation_edges, pairs_from_edges
from ..operators.components import components_as_arrays, connected_components_star
from ..operators.graphs import sample_nodes, sbm_edges, scale_sizes
from ..operators.timebucket import with_time_bucket
from .contact_matrix import contact_prob_table
from .mobility import (
    daily_home_winners,
    extract_day,
    impute_neighbour_frequency,
    locate_pings,
    night_presence_scores,
    with_cells,
)
from .seir_distributed import distributed_seir


@dataclass
class PipelineConfig:
    """Replaces the reference's env-var Context (context.py:12-96)."""

    day: str
    min_accuracy: float = 100.0
    cell_res: int = 15
    bucket_seconds: int = 600
    network_nodes: int = 1000
    seir: dict = field(default_factory=lambda: dict(beta=0.3, sigma=0.4, gamma=0.2))
    seir_t_max: int = 60
    seed: int = 3696
    checkpoint_dir: str | None = None
    # neighbour-frequency imputation rounds over the co-location graph
    # (home_ageb_imputers.py:120-206 runs 6; 0 disables the stage)
    impute_rounds: int = 6


@dataclass
class PipelineResult:
    pings_located: DataFrame
    homes: DataFrame
    interactions: DataFrame
    contact_probs: DataFrame
    sbm_edge_list: DataFrame
    seir_trajectory: DataFrame


def run_pipeline(
    spark: SparkSession,
    pings: DataFrame,
    cell_region_dim: DataFrame,
    cfg: PipelineConfig,
) -> PipelineResult:
    """One day's end-to-end run. Everything before the SBM scale-down is
    fully distributed; the SBM/SEIR stage sizes itself to cfg.network_nodes
    exactly as the reference scales ~9M population to 10^4 nodes."""
    day_pings = with_cells(
        extract_day(pings, cfg.day, min_accuracy=cfg.min_accuracy),
        res=cfg.cell_res,
        out_col="h3index_15",
    )
    # located feeds scores, interactions AND the contact pipeline — cache
    # it so the pandas-UDF cell computation runs one pass over the facts.
    located = locate_pings(day_pings, cell_region_dim).cache()

    scores = night_presence_scores(
        located, bucket_seconds=cfg.bucket_seconds
    )
    # winner CELL per device, then the cell's region = the home AGEB
    # (HomeAgebGenerator: night winner -> census-tract attribution); cells
    # outside the covered region fall back to the 13-zero sentinel exactly
    # as the reference does (localization_transforms.py:73).
    from ..constants import SENTINEL_AGEB_13

    winners = daily_home_winners(scores)
    homes = (
        locate_pings(
            winners.withColumnRenamed("home_cell", "h3index_15"),
            cell_region_dim,
        )
        .withColumn("home_ageb", F.coalesce(F.col("cve_geo"), F.lit(SENTINEL_AGEB_13)))
        .select("caid", "home_ageb", "score", "confidence")
    )

    # ONE co-location self-join feeds the empiric edge list, the component
    # kernel and (both orientations of the canonical edges) the
    # observed-contacts stage of the probability pipeline. It reads only
    # (caid, cell, tw), so no home attach enters its plan.
    bucketed = with_time_bucket(located, "cdmx_datetime", cfg.bucket_seconds)
    interactions = colocation_edges(
        bucketed, id_col="caid", cell_col="h3index_15", tw_col="tw"
    ).cache()
    pairs = pairs_from_edges(interactions, id_col="caid")

    if cfg.impute_rounds > 0:
        # Sentinel homes inherit the modal home of their co-location
        # component (home_ageb_imputers.py:120-206). Components come from
        # the O(log n)-round large-star/small-star kernel — the min-label
        # variant's O(diameter) rounds would be the pipeline's ceiling on
        # a high-diameter contact graph.
        comp_labels = connected_components_star(
            interactions, a_col="a_caid", b_col="b_caid"
        )
        homes = impute_neighbour_frequency(
            homes,
            components_as_arrays(comp_labels),
            rounds=cfg.impute_rounds,
        )

    probs = contact_prob_table(
        located,
        homes.select("caid", "home_ageb"),
        bucket_seconds=cfg.bucket_seconds,
        checkpoint_dir=cfg.checkpoint_dir,
        pairs=pairs,
    )

    # scale block sizes to the network size (driver-side: one row per
    # block; probs' block set equals homes' by construction)
    sizes = {
        r["home_ageb"]: r["n"]
        for r in homes.groupBy("home_ageb").count().withColumnRenamed("count", "n").collect()
    }
    scaled = scale_sizes(sizes, max(cfg.network_nodes, len(sizes)))
    nodes = sample_nodes(scaled, spark)
    prob_long = probs.selectExpr(
        "a_home_ageb AS a_block", "b_home_ageb AS b_block", "prob"
    )
    edge_list = sbm_edges(nodes, prob_long, seed=cfg.seed)

    traj = distributed_seir(
        spark,
        nodes.selectExpr("node_id"),
        edge_list.selectExpr("a_node", "b_node"),
        seed=cfg.seed,
        t_max=cfg.seir_t_max,
        **cfg.seir,
    )
    return PipelineResult(
        pings_located=located,
        homes=homes,
        interactions=interactions,
        contact_probs=probs,
        sbm_edge_list=edge_list,
        seir_trajectory=traj,
    )
