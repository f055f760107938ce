"""Co-location self-join — the flagship operator (reference J1).

Two devices interact when they occupy the same cell within the same
origin-anchored 10-minute bucket (interaction_queries.py:7-29,
NetworkBuilder.py:155-211, MakeEmpiricNetworks.py:47-58).

Scale design (SURVEY.md §4): the join output is quadratic in the number of
co-located devices per (cell, bucket). Two defenses, both applied *before*
the wide shuffle:

1. Deduplicate (id, cell, bucket) first — the reference instead DISTINCTs
   the joined pairs, which shuffles the quadratic blow-up. Dedup-before-join
   is algebraically equivalent for set-valued output and strictly cheaper.
2. AQE skew-join splitting handles residual hot cells (session.py).

The equi keys (cell, bucket) drive a shuffled hash/sort-merge join; the
``a.id != b.id`` theta stays a post-join residual filter, as in the
reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _presence(pings: DataFrame, id_col: str, cell_col: str, tw_col: str) -> DataFrame:
    # Repartition by the JOIN keys first: HashPartitioning(cell, tw)
    # satisfies the distinct's ClusteredDistribution(id, cell, tw) (subset
    # rule) AND the self-join's requirement, so ONE shuffle feeds dedup and
    # both join sides (ReuseExchange dedupes the identical subtree). Without
    # it: distinct shuffles on all 3 cols, then the join reshuffles both
    # branches on (cell, tw) — 3 wide shuffles of the fact instead of 1.
    # Skew bound: a partition holds whole (cell, bucket) groups; cells are
    # fine-grained (H3 res-15 ≈ 1 m²), so group cardinality is small by
    # construction — the quadratic hazard lives in the pair output, which
    # stays aggregated/deduped immediately downstream.
    return pings.select(id_col, cell_col, tw_col).repartition(cell_col, tw_col).distinct()


def colocation_pairs(
    pings: DataFrame,
    id_col: str = "caid",
    cell_col: str = "h3index_15",
    tw_col: str = "tw",
) -> DataFrame:
    """Distinct *ordered* pairs (a_id, b_id), a != b — both directions, as the
    reference's interactions table (interaction_queries.py:21-28)."""
    p = _presence(pings, id_col, cell_col, tw_col)
    # SHUFFLE_HASH hint: presence is fact-sized on BOTH sides, so the
    # planner must never broadcast one branch (a size misestimate does
    # exactly that at small scale) — the hint keeps the single
    # co-partitioned exchange feeding both sides via ReuseExchange.
    a, b = p.alias("a"), p.hint("shuffle_hash").alias("b")
    return (
        a.join(b, on=[cell_col, tw_col])
        .where(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias(f"a_{id_col}"),
            F.col(f"b.{id_col}").alias(f"b_{id_col}"),
        )
        .distinct()
    )


def colocation_edges(
    pings: DataFrame,
    id_col: str = "caid",
    cell_col: str = "h3index_15",
    tw_col: str = "tw",
    weight_col: str = "n_windows",
) -> DataFrame:
    """Undirected weighted edges: canonicalize with LEAST/GREATEST
    (MakeEmpiricNetworks.py:85-86) and count distinct co-located buckets."""
    p = _presence(pings, id_col, cell_col, tw_col)
    a, b = p.alias("a"), p.hint("shuffle_hash").alias("b")  # see colocation_pairs
    ai, bi = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return (
        a.join(b, on=[cell_col, tw_col])
        .where(ai != bi)
        .select(
            F.least(ai, bi).alias(f"a_{id_col}"),
            F.greatest(ai, bi).alias(f"b_{id_col}"),
            F.col(tw_col),
        )
        .groupBy(f"a_{id_col}", f"b_{id_col}")
        .agg(F.countDistinct(tw_col).alias(weight_col))
    )


def pairs_from_edges(edges: DataFrame, id_col: str = "caid") -> DataFrame:
    """``colocation_pairs`` read off ``colocation_edges`` output instead of
    a second self-join: the edges are distinct and canonical (a < b), so
    both orientations together are exactly the distinct ordered pairs."""
    a, b = f"a_{id_col}", f"b_{id_col}"
    fwd = edges.select(a, b)
    return fwd.unionByName(fwd.select(F.col(b).alias(a), F.col(a).alias(b)))
