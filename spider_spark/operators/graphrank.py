"""Link-graph ranking: PageRank, OPIC, HITS and TrustRank.

Production crawlers score link authority with these (Page et al.
1999; Cho, Garcia-Molina & Page, "Efficient crawling through URL
ordering", WWW'98). The reference fleet has no equivalent: each Scrapy
spider crawls its own site with FIFO/priority ordering, and its
politeness is per domain (SURVEY.md §2.2). The engine reproduces that
as a top-k within each host against the host's own budget, so a
per-host authority score cannot decide which hosts go first, and the
engine takes none. The ranks here are outputs over a caller's edge
table (the ``pagerank`` contract query).

Scale shape (per power iteration):

* one equi-join ``ranks ⋈ edges`` on ``src`` — both sides hash-partition
  on the same key, and AQE handles hub skew (a hub's fan-out is edge
  rows, not a window);
* one ``groupBy(dst).sum`` — map-side combinable;
* dangling-node mass and the L1 delta come back as ONE driver row per
  iteration (an O(1) collect, same budget as the wave loop's stats);
* lineage is truncated every iteration with ``localCheckpoint`` —
  without it the plan nests one join per iteration and Catalyst
  analysis goes quadratic (same hygiene as
  ``textdedup.connected_components``).

Determinism: pure arithmetic over a fixed iteration count (or an L1
tolerance) — no RNG, no task-order dependence, so the same graph gives
bit-identical ranks on any cluster size and the DuckDB oracle can
unroll the iterations as plain SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    tol: float = 0.0,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    Returns one row per node that appears as ``src`` or ``dst``:
    ``(node, rank)`` with ``sum(rank) == 1``. Parallel edges are
    collapsed first (a page linking twice confers one vote — the
    convention the original formulation and GraphX both use). Dangling
    nodes (no out-links) redistribute their mass uniformly, keeping the
    distribution stochastic. Stops after ``n_iter`` rounds, or earlier
    when the L1 delta between successive rank vectors drops to ``tol``
    (``tol=0`` = always run ``n_iter`` rounds — the deterministic,
    oracle-friendly default).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # (src, dst, 1/deg) — the column the per-iteration join multiplies by
    contrib_edges = e.join(out_deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    ).localCheckpoint()

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        inflow = (
            ranks.join(contrib_edges, ranks["node"] == contrib_edges["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("inflow"))
        )
        # dangling mass: rank held by nodes with no out-edges (one tiny row)
        dangling = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        new_ranks = (
            nodes.join(inflow, nodes["node"] == inflow["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        if tol > 0:
            delta = (
                new_ranks.join(ranks.withColumnRenamed("rank", "prev"), "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("prev"))))
                .first()[0]
            )
            ranks = new_ranks
            if delta is not None and delta <= tol:
                break
        else:
            ranks = new_ranks
    return ranks


def opic(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
) -> DataFrame:
    """Synchronous-batch OPIC importance (Abiteboul, Preda & Cobena,
    "Adaptive on-line page importance computation", WWW'03).

    The damping-free cash/history scheme crawlers use when a full
    PageRank recomputation is too stale for frontier ordering: every
    node starts with cash ``1/n``; each round it banks its cash into
    its history and distributes it equally over its out-links (dangling
    cash is redistributed uniformly — the paper's virtual-node edge
    back to everyone). After ``t`` rounds the importance estimate is
    ``(history + cash) / (t + 1)``, which sums to 1 and converges to
    the damping-1 PageRank fixpoint.

    Scale shape per round — identical to :func:`pagerank`: one
    ``cash ⋈ edges`` equi-join on ``src`` + one map-side-combinable
    ``groupBy(dst).sum``, the dangling mass collapses to ONE driver
    scalar, and lineage is truncated every round with
    ``localCheckpoint`` so Catalyst never sees a nested t-join plan.
    Pure rational arithmetic over a fixed round count — deterministic
    on any cluster size, so the DuckDB oracle unrolls the same rounds
    as chained CTEs (``__spark_entry__`` folds it into the ``pagerank``
    contract query as ``opic_ppm``).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    contrib_edges = e.join(out_deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    ).localCheckpoint()

    state = nodes.select(
        "node", F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("hist")
    ).localCheckpoint()
    for _ in range(n_iter):
        inflow = (
            state.join(contrib_edges, state["node"] == contrib_edges["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("cash") * F.col("w")).alias("inflow"))
        )
        dangling = (
            state.join(out_deg, state["node"] == out_deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("cash"), F.lit(0.0)))
            .first()[0]
        )
        state = (
            state.join(inflow, state["node"] == inflow["dst"], "left")
            .select(
                "node",
                (
                    F.coalesce(F.col("inflow"), F.lit(0.0))
                    + F.lit(dangling / n)
                ).alias("cash"),
                (F.col("hist") + F.col("cash")).alias("hist"),
            )
            .localCheckpoint()
        )
    return state.select(
        "node",
        ((F.col("hist") + F.col("cash")) / F.lit(float(n_iter) + 1.0)).alias("rank"),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 4,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, "Authoritative sources in a
    hyperlinked environment", JACM'99/SODA'98 — public algorithm).

    The complementary signal to PageRank/OPIC a frontier scheduler
    uses: a high-HUB page (link directory, sitemap-like index) is worth
    crawling because its out-links reach many authorities; a high-
    AUTHORITY page is worth storing/recrawling. Synchronous iterations:
    ``auth = Σ hub`` over in-edges, L1-normalize, ``hub = Σ auth`` over
    out-edges, L1-normalize (L1 instead of Kleinberg's L2 — same
    fixpoint direction, and the normalizer is a plain sum the SQL
    oracle reproduces). Returns (node, hub, auth), each summing to 1.

    Scale shape per half-round — identical to :func:`pagerank`: one
    state ⋈ edges equi-join + one map-side-combinable groupBy sum; the
    normalizer collapses to ONE driver scalar; lineage truncated per
    round with localCheckpoint.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
    e = e.localCheckpoint()
    state = nodes.select(
        "node", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("auth")
    ).localCheckpoint()
    for _ in range(n_iter):
        auth_raw = (
            state.join(e, state["node"] == e["src"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("a"))
        )
        astate = state.join(auth_raw, state["node"] == auth_raw["dst"], "left").select(
            "node", "hub", F.coalesce(F.col("a"), F.lit(0.0)).alias("auth")
        )
        atot = astate.agg(F.sum("auth")).first()[0] or 1.0
        astate = astate.select(
            "node", "hub", (F.col("auth") / F.lit(atot)).alias("auth")
        ).localCheckpoint()
        hub_raw = (
            astate.join(e, astate["node"] == e["dst"])
            .groupBy("src")
            .agg(F.sum("auth").alias("h"))
        )
        state = astate.join(hub_raw, astate["node"] == hub_raw["src"], "left").select(
            "node", F.coalesce(F.col("h"), F.lit(0.0)).alias("hub"), "auth"
        )
        htot = state.agg(F.sum("hub")).first()[0] or 1.0
        state = state.select(
            "node", (F.col("hub") / F.lit(htot)).alias("hub"), "auth"
        ).localCheckpoint()
    return state


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, "Combating web
    spam with TrustRank", VLDB'04 — public algorithm): PageRank with
    the teleport restricted to a TRUSTED seed set, so authority flows
    outward from vetted pages and link farms — which PageRank rewards
    because they interlink densely — receive only what trusted regions
    actually link to. The crawl-side use: an authority score that a
    spam network cannot inflate.

    ``seeds`` is a one-column (node) DataFrame — the paper's manually
    reviewed high-trust sites. The static trust vector is uniform over
    the seeds (the paper's normalized oracle-score vector with binary
    scores), and dangling mass teleports back to the SEEDS (not all
    nodes): the random surfer restarts only at trusted pages, the
    invariant that distinguishes this from plain personalized-restart
    variants. Seeds absent from the graph contribute nothing (their
    trust share is deliberately NOT renormalized away — the paper
    normalizes over the chosen seed set).

    Scale shape per iteration — identical to :func:`pagerank`: one
    ranks ⋈ edges equi-join, one map-side-combinable groupBy(dst) sum,
    one O(1) dangling-mass collect; the trust vector rides the node dim
    as a column (seeds is broadcast-joined once, before the loop);
    lineage truncated per round with localCheckpoint. Deterministic:
    fixed iteration count, no RNG.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    seed_dim = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    n_seeds = seed_dim.count()
    if n_seeds == 0:
        raise ValueError("trustrank: empty seed set")
    # static trust vector as a node-dim column: 1/|S| on seeds, else 0
    trusted = nodes.join(
        F.broadcast(seed_dim.select("node", F.lit(1.0).alias("_s"))), "node", "left"
    ).select(
        "node",
        (F.coalesce(F.col("_s"), F.lit(0.0)) / F.lit(float(n_seeds))).alias("t"),
    ).localCheckpoint()
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    contrib_edges = e.join(out_deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    ).localCheckpoint()
    ranks = trusted.select("node", F.col("t").alias("rank")).localCheckpoint()
    for _ in range(n_iter):
        inflow = (
            ranks.join(contrib_edges, ranks["node"] == contrib_edges["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("inflow"))
        )
        dangling = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        ranks = (
            trusted.join(inflow, trusted["node"] == inflow["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("t")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.lit(dangling) * F.col("t")
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks
