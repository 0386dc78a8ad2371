"""Graph analytics over warehouse entities: integer-deterministic PageRank.

Web-corpus curation uses link-graph centrality as a quality prior
(host-level PageRank over the crawl graph is a standard training-data
signal), and warehouse graphs (customer↔supplier, account↔merchant)
answer "which entities anchor the network" — the same computation. This
module runs PageRank as an iterative sequence of DataFrame plans.

Determinism contract — INTEGER PageRank. Float PageRank is not
reproducible across engines or even across partition orders (the
per-node contribution sum is float addition in shuffle order). Here
ranks live in integer ``scale`` units (default 10^12) and every step is
exact integer arithmetic:

    r0(v)   = scale DIV n
    contrib = r(u) DIV out_deg(u)            -- per out-edge
    r'(v)   = teleport + (damping_pct * Σ contrib) DIV 100
    teleport = (100 - damping_pct) * (scale DIV n) DIV 100

BIGINT sums are order-independent, so the result is bit-identical on
any engine / any partitioning — the DuckDB oracle replays the exact
recurrence (unrolled CTEs) and matches every rank unit. Truncation
loses at most ``deg`` units per node per step (~10^-12 relative), far
below any ranking-relevant difference.

Dangling nodes (out_deg = 0) leak their mass — the common simplified
variant; symmetrize the edge set (as the declared query does) or add
self-loops when conservation matters. The leak is *deterministic*, so
the oracle contract is unaffected.

Scale design (100 TB):

- One iteration = equi-join(ranks, edges on src) + groupBy(dst) —
  shuffle-bounded by the edge list, the same shape GraphX/Pregel
  lowers to. No driver-side adjacency, no collect.
- The ranks frame is re-pinned every ``_PIN_EVERY`` rounds (``pin``
  with lineage cut — same policy as ``training.distributed_prefix_sum``),
  which truncates the otherwise exponentially-growing lineage.
- High-degree hubs DON'T skew the groupBy(dst) the way they skew
  joins: map-side partial aggregation collapses a hot dst to one row
  per map task before the shuffle (measured: salting the sum was a net
  LOSS, README §Measured). The join side (ranks ⋈ edges on src, hot
  src = mega-out-degree hub) is where skew bites, and AQE's skew-join
  split handles that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pin import pin, release

SCALE_DEFAULT = 10**12
DAMPING_PCT_DEFAULT = 85
# Re-pin the ranks every 2nd round: pinning every round pays one job
# launch per round, and two join+agg layers between pins sit well
# inside Catalyst's comfort zone. The final round is always pinned.
_PIN_EVERY = 2


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 8,
    damping_pct: int = DAMPING_PCT_DEFAULT,
    scale: int = SCALE_DEFAULT,
) -> DataFrame:
    """Integer PageRank over a directed edge list.

    Returns one row per node: ``node`` (the union of sources and
    destinations), ``out_deg``, ``rank_units`` (BIGINT, in ``scale``
    units — the exact cross-engine-comparable value) and ``rank``
    (``rank_units / scale`` as DOUBLE, for humans).

    ``iterations`` is fixed-count (the oracle unrolls it); 8–20 covers
    practical convergence at damping 0.85.

    Superseded working-set pins are released as the loop goes; the
    returned frame stays pinned (its owner releases it, e.g. via
    ``pin_scope``).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")

    # The edge list re-derives from its upstream plan (often a
    # multi-join) — pin it once; every iteration reuses it twice
    # (degree already folded into `nodes`, contributions below).
    e = pin(
        edges.select(
            F.col(src_col).cast("bigint").alias("src"),
            F.col(dst_col).cast("bigint").alias("dst"),
        ),
        truncate=True,
        eager=True,
    )

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = pin(
        nodes.join(deg, nodes.node == deg.src, "left")
        .select("node", F.coalesce("out_deg", F.lit(0)).alias("out_deg")),
        truncate=True,
        eager=True,
    )

    # n and the teleport term are scalars; computing them via a 1-row
    # broadcast join keeps the plan collect-free.
    totals = nodes.agg(F.count(F.lit(1)).alias("__n"))
    ranks = pin(
        nodes.crossJoin(F.broadcast(totals)).select(
            "node",
            "out_deg",
            F.expr(f"CAST({scale} AS BIGINT) DIV __n").alias("rank_units"),
            F.expr(
                f"CAST({100 - damping_pct} AS BIGINT)"
                f" * (CAST({scale} AS BIGINT) DIV __n) DIV 100"
            ).alias("__teleport"),
        ),
        truncate=True,
        eager=True,
    )

    pinned = ranks
    for it in range(1, iterations + 1):
        sent = (
            ranks.where(F.col("out_deg") > 0)
            .join(e, ranks.node == e.src)
            .select(
                F.col("dst"),
                F.expr("rank_units DIV out_deg").alias("__c"),
            )
        )
        contrib = sent.groupBy("dst").agg(F.sum("__c").alias("__s"))
        ranks = ranks.join(contrib, ranks.node == contrib.dst, "left").select(
            "node",
            "out_deg",
            F.expr(
                f"__teleport + CAST({damping_pct} AS BIGINT)"
                f" * coalesce(__s, CAST(0 AS BIGINT)) DIV 100"
            ).alias("rank_units"),
            "__teleport",
        )
        if it % _PIN_EVERY == 0 or it == iterations:
            ranks = pin(ranks, truncate=True, eager=True)
            release(pinned)
            pinned = ranks

    # the final ranks are a flat scan of their own pin: the working set
    # is dead
    release(e)
    release(nodes)
    return ranks.select(
        "node",
        "out_deg",
        "rank_units",
        (F.col("rank_units").cast("double") / scale).alias("rank"),
    )
