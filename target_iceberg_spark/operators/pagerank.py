"""Weighted PageRank over an edge DataFrame — fixed-iteration power
method, the canonical iterative-join algorithm on Spark.

The reference (SidetrekAI/target-iceberg, write-only ingestion shim)
has no graph surface; this is an engine extension in the same family
as `operators/components.py` (connected components): the driver
coordinates a bounded number of rounds, each round is ONE equi-join +
one map-side-combinable aggregate, and lineage is cut with
localCheckpoint so the plan does not double per iteration.

Semantics (documented, deterministic):

  rank_0(v)   = 1 / N
  rank_t+1(v) = teleport / N + damping * sum over in-edges (u, v) of
                rank_t(u) * weight(u, v) / out_weight(u)

Dangling mass (rank of nodes with no out-edges) is DROPPED, not
redistributed — ranks then need not sum to 1, but every step is a pure
join + aggregate with no extra per-round dangling aggregate, and the
result is bit-reproducible in plain SQL (the registered query's DuckDB
oracle unrolls the same iterations).

Scale shape: the rank table is bounded by the node domain, each round
shuffles edges once on ``src`` (the join) and once on ``dst`` (the
combinable sum with map-side partial aggregation); no windows, no
all-pairs, no per-row Python. The single driver-side scalar is N (one
COUNT aggregate — needed for the teleport constant, same class as the
1-row probe collects elsewhere in the repo).

``teleport`` defaults to 0.15 as an EXPLICIT double literal rather
than ``1 - damping``: Python evaluates ``1 - 0.85`` to
0.15000000000000002 while a SQL oracle's literal ``0.15`` is the
nearest double to 0.15 — passing both constants keeps the two engines
on identical IEEE arithmetic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    iterations: int = 3,
    damping: float = 0.85,
    teleport: float = 0.15,
    restart: DataFrame | None = None,
    strict_restart: bool = False,
) -> DataFrame:
    """(node, rank) after ``iterations`` rounds of the weighted power
    method over ``edges``; ranks are full-precision doubles (callers
    round for cross-engine comparison).

    ``restart`` personalizes the teleport: a (node, r) distribution
    (must sum to 1) that replaces the uniform 1/N both as the initial
    rank vector and as the per-round teleport mass — Personalized
    PageRank (Page et al. 1999 §6; Jeh & Widom WWW 2003, public).
    ``None`` keeps the classic uniform behavior unchanged.

    CAVEAT: the node domain is derived from ``edges``, so restart
    entries for nodes with no edges at all (isolated seeds) are
    DROPPED by the left join below — the effective teleport
    distribution then sums to less than 1. Callers whose seeds come
    from the same edge table (the registered graph_ppr query) are
    unaffected; callers with EXTERNAL seed sets should pass
    ``strict_restart=True``, which anti-joins the restart set against
    the edge-derived node domain and raises ``ValueError`` on any
    missing seed — lost teleport mass then fails fast instead of
    producing quietly deflated ranks (ADVICE r11). The check is one
    seed-sized anti-join count, never corpus-sized."""
    # Normalize once: every edge carries its source's out-weight share.
    # Reused by all rounds — checkpointed so each round's plan starts
    # from a materialized table instead of re-deriving the groupBy.
    out_w = edges.groupBy(src).agg(F.sum(weight).alias("_out_w"))
    norm = (
        edges.join(out_w, src)
        .select(
            F.col(src).alias("e_src"),
            F.col(dst).alias("e_dst"),
            (F.col(weight) / F.col("_out_w")).alias("frac"),
        )
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()  # driver-side scalar: the teleport denominator
    if restart is None:
        # Uniform teleport: constant column, no join needed. The
        # per-round teleport term is the SINGLE Python division
        # teleport / n — NOT lit(teleport) * lit(1.0 / n), whose double
        # rounding differs from a SQL oracle's one-division teleport/n
        # by 1 ulp for ~25% of n.
        base = nodes.select("node", F.lit(1.0 / n).alias("r"))
        tele = F.lit(teleport / n)
    else:
        if strict_restart:
            missing = restart.join(nodes, "node", "left_anti").count()
            if missing:
                raise ValueError(
                    f"{missing} restart node(s) are outside the "
                    f"edge-derived node domain; their teleport mass "
                    f"would be silently dropped (pass seeds from the "
                    f"edge table, or pre-filter to its node domain)"
                )
        # Personalized teleport: nodes outside the restart set get 0.
        # Here teleport * r IS exact — r values are caller-supplied
        # literals (0.0 / 1.0-style), matching an oracle's
        # teleport * r product bit-for-bit.
        base = nodes.join(restart, "node", "left").select(
            "node", F.coalesce("r", F.lit(0.0)).alias("r")
        )
        tele = F.lit(teleport) * F.col("r")
    base = base.localCheckpoint()
    ranks = base.select("node", F.col("r").alias("rank"))
    for _ in range(iterations):
        mass = (
            norm.join(ranks, norm.e_src == ranks.node)
            .groupBy(F.col("e_dst").alias("m_node"))
            .agg(F.sum(F.col("frac") * F.col("rank")).alias("mass"))
        )
        ranks = base.join(mass, base.node == mass.m_node, "left").select(
            "node",
            (tele + F.lit(damping) * F.coalesce("mass", F.lit(0.0))).alias("rank"),
        ).localCheckpoint()
    return ranks
