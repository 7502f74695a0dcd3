"""Distributed PageRank over a weighted edge table — the link-graph
side of a crawl pipeline (outlink extraction feeds it; see
``q_html_links`` / ``q_link_rank``).

Exact-integer determinism contract
----------------------------------
Float PageRank is order-dependent (partial aggregation sums
contributions in nondeterministic order), so ranks are carried as
BIGINT micro-units (``unit`` per node initially) and every float step
is rounded to an integer *per row* before any sum:

  contrib(u->v) = round(d * r(u) * w / W(u))      -- per edge, then
  inflow(v)     = SUM(contrib)                    -- exact int sum
  share         = round(d * D / N)                -- dangling mass
  r'(v)         = base + inflow(v) + share,  base = round((1-d)*unit)

Integer sums are order-independent, so the fixpoint of the iteration
cannot drift with partition count, AQE re-plans, or engine (the DuckDB
oracle unrolls the same iterations with character-identical
arithmetic expressions — the kmeans_codebook contract style).  All
inputs to each ``round()`` are exact in double (ints < 2^53), so the
two engines evaluate bit-identical IEEE expressions.

Scale notes (1e10-page web graph)
---------------------------------
- State per iteration is the (page, rank) table — one string key + one
  BIGINT — and the edge table, both shuffle-partitioned by their join
  keys.  At cluster scale the edge table is written bucketed by
  ``src`` once, making the rank⋈edges join co-located every iteration;
  the contribution aggregate shuffles (dst, int) pairs with map-side
  combine, which also absorbs hot-dst skew (every crawl graph has
  "/the"-grade hub pages).
- The dangling-mass term costs ONE scalar aggregate per iteration (a
  1-row DataFrame, cross-joined broadcast onto the rank update) — the
  dangling node SET is computed once before the loop.
- Each iteration ends in a lazy ``localCheckpoint`` (same rationale as
  operators/graph.py: the next round references the rank table twice,
  and un-truncated lineage grows per round); reliable ``checkpoint()``
  on a real cluster.
- Iteration count is FIXED (an explicit dial), not convergence-tested:
  production link-rank jobs run a budgeted number of sweeps, and a
  fixed K keeps the oracle SQL finitely unrollable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# The returned ranks table is a checkpoint leaf (lineage deliberately
# truncated), so plan-property tests cannot see the iteration body from
# the result.  The last iteration's pre-checkpoint physical plan is
# parked here for them (tests/test_pagerank.py asserts no
# CartesianProduct / no Python stage in the update step) — but ONLY
# when CAPTURE_PLAN is flipped on by the test: stringifying the
# executed plan forces a full Catalyst planning cycle per iteration,
# pure overhead in production calls (round-4 review), and concurrent
# queries would race on the single slot besides.
CAPTURE_PLAN = False
PLAN_PROBE: dict[str, str] = {}


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    unit: int = 10**9,
) -> DataFrame:
    """Rank pages of the directed weighted graph ``edges``
    (columns ``src``, ``dst``, ``w``).

    Returns ``(page, rank)`` with rank in integer micro-units (initial
    mass = ``unit`` per node).  Deterministic per the module contract.
    """
    edges = edges.select("src", "dst", "w").persist()
    # out-weight per source, keyed by its own column name: joining it
    # back to `edges` on a same-named `src` compares one attribute with
    # itself (Spark logs a "trivially true" predicate each iteration)
    outw = (
        edges.groupBy(F.col("src").alias("out_src"))
        .agg(F.sum("w").alias("wout"))
        .persist()
    )
    nodes = (
        edges.select(F.col("src").alias("page"))
        .union(edges.select(F.col("dst").alias("page")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()  # scalar; also materializes the checkpoint
    # dangling set is fixed across iterations — compute once
    dangling = nodes.join(
        outw.select(F.col("out_src").alias("page")), "page", "left_anti"
    ).localCheckpoint(eager=False)
    # base is a Python-computed literal embedded in BOTH plans (the
    # oracle builder runs the identical expression), so the two engines
    # agree by construction rather than by matching round() modes
    base = round((1 - damping) * unit)
    ranks = nodes.select(
        "page", F.lit(unit).cast("long").alias("rank")
    ).localCheckpoint(eager=False)
    for _ in range(n_iters):
        # dangling mass: one scalar aggregate, kept engine-side so the
        # round() below is the same IEEE expression as the oracle's
        share = (
            ranks.join(dangling, "page")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("dmass"))
            .select(
                F.round(
                    F.lit(damping) * F.col("dmass") / F.lit(n_nodes)
                )
                .cast("long")
                .alias("share")
            )
        )
        inflow = (
            ranks.join(edges, ranks["page"] == edges["src"])
            .join(outw, edges["src"] == outw["out_src"])
            .select(
                edges["dst"].alias("page"),
                F.round(
                    F.lit(damping) * F.col("rank") * F.col("w")
                    / F.col("wout")
                )
                .cast("long")
                .alias("contrib"),
            )
            .groupBy("page")
            .agg(F.sum("contrib").alias("inflow"))
        )
        updated = (
            nodes.join(inflow, "page", "left")
            .crossJoin(F.broadcast(share))
            .select(
                "page",
                (
                    F.lit(base)
                    + F.coalesce("inflow", F.lit(0))
                    + F.col("share")
                )
                .cast("long")
                .alias("rank"),
            )
        )
        if CAPTURE_PLAN:
            PLAN_PROBE["update"] = (
                updated._jdf.queryExecution().executedPlan().toString()
            )
        ranks = updated.localCheckpoint(eager=False)
    out = ranks
    out.count()  # materialize final state before releasing inputs
    edges.unpersist()
    outw.unpersist()
    return out


def pagerank_oracle_sql(
    edges_cte: str,
    n_iters: int = 3,
    damping: float = 0.85,
    unit: int = 10**9,
    pre_ctes: list[str] | None = None,
) -> str:
    """The DuckDB twin: unrolled-iteration SQL over ``edges_cte`` (a
    CTE body selecting ``src, dst, w``; ``pre_ctes`` are emitted before
    it for its upstream derivations), arithmetic expressions
    character-identical to the Spark plan's."""
    base = round((1 - damping) * unit)
    d = repr(damping)
    parts = list(pre_ctes or []) + [
        f"edges AS ({edges_cte})",
        "outw AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src)",
        "nodes AS (SELECT src AS page FROM edges"
        " UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT page, CAST({unit} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(1, n_iters + 1):
        p = f"r{i - 1}"
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(rank), 0) AS dmass FROM {p}"
            " WHERE page NOT IN (SELECT src FROM outw))"
        )
        parts.append(
            f"c{i} AS (SELECT e.dst AS page,"
            f" sum(CAST(round({d} * r.rank * e.w / o.wout) AS BIGINT))"
            f" AS inflow"
            f" FROM {p} r JOIN edges e ON e.src = r.page"
            f" JOIN outw o ON o.src = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT n.page,"
            f" CAST({base} + coalesce(c.inflow, 0)"
            f" + CAST(round({d} * d.dmass / nn.n) AS BIGINT)"
            f" AS BIGINT) AS rank"
            f" FROM nodes n CROSS JOIN d{i} d CROSS JOIN nn"
            f" LEFT JOIN c{i} c ON c.page = n.page)"
        )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT page, rank FROM r{n_iters}"
    )
