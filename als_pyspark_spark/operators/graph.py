"""Iterative graph computation as distributed joins: fixed-point PageRank
over the supplier↔part co-purchase graph.

The reference's whole training loop is this shape — per-iteration keyed
join + aggregate with persisted state (reference ALS.py:137-156 /
compute_factors ALS.py:421-560) — and the repo already demonstrates it for
connected components (dedup/queries.py CC loop). PageRank adds the classic
score-propagation variant, with EXACT fixed-point integer arithmetic so the
whole 3-iteration computation hash-matches a DuckDB replay: ranks travel as
integer micro-units, damping is ``(85 · x) DIV 100``, and per-edge
contributions are ``rank DIV out_degree`` — truncating integer division,
identical in both engines for the non-negative values involved.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from als_pyspark_spark.caching import deferred, local_frame
from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.tables import load_table


def fixpoint(
    first: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    probe: Callable[[int, DataFrame, DataFrame | None], DataFrame],
    *,
    max_rounds: int,
    checkpoint_every: int,
    until: Callable[[list[Row]], bool] | None = None,
) -> tuple[DataFrame, list[list[Row]]]:
    """Drive an iterative round loop: round 1 is ``first``, round r is
    ``step(round r−1)``, for at most ``max_rounds`` rounds. After each
    round, ``probe(r, round r, round r−1 or None)`` gives a small
    DataFrame, which is collected. Returns the last round's table and
    the per-round probe rows; the loop stops after the first round whose
    rows satisfy ``until``.

    This is the one place a round is persisted, checkpointed and
    released — the reference's per-iteration persist → materialize →
    unpersist (reference ALS.py:137-156) plus the periodic checkpoint it
    declared but never implemented (ALS.py:36,101):

    - Every ``checkpoint_every`` rounds the round is reliably
      checkpointed, so the next round's plan is rooted at a leaf and
      lineage stops growing with the round count. That bound is
      mandatory when a round references its predecessor more than once,
      since the unrolled plan then multiplies per round.
    - Persist, THEN a lazy checkpoint: the probe's collect is the first
      job over the marked RDD, so it materializes the cache and the
      checkpoint write at that job's end reads the cache. An eager
      checkpoint computes the round twice, once for its count and once
      for the write.
    - Once the probe has run, the previous round's cache is superseded,
      and so is this round's on a checkpoint round, whose later reads
      come from the files; both are unpersisted then. At most two round
      caches are alive at once. Every round cache is also registered
      with ``caching.deferred``, so the harness frees the one behind the
      returned table once the caller's result is consumed, and any cache
      a failed round left behind. ``Dataset.checkpoint`` needs the
      checkpoint dir every engine session claims.
    """
    prev: DataFrame | None = None
    held: DataFrame | None = None  # the cache behind ``prev``, if any
    stats: list[list[Row]] = []
    for rnd in range(1, max_rounds + 1):
        cur = cached = deferred((first if prev is None else step(prev)).persist())
        if rnd % checkpoint_every == 0:
            cur = cur.checkpoint(eager=False)
        rows = probe(rnd, cur, prev).collect()
        prev = cur
        if held is not None:
            held.unpersist()
        if cur is not cached:  # checkpointed: later reads use the files
            cached.unpersist()
        held = cached if cur is cached else None
        stats.append(rows)
        if until is not None and until(rows):
            break
    return prev, stats


_PR_ITERS = 3


@query(
    "q_pagerank_copurchase",
    oracle=f"""
WITH li AS (
    SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
    FROM lineitem
), edges AS (
    SELECT src, dst FROM li
    UNION ALL
    SELECT dst AS src, src AS dst FROM li
), eo AS (
    SELECT e.src, e.dst, o.od
    FROM edges e
    JOIN (SELECT src, COUNT(*) AS od FROM edges GROUP BY src) o USING (src)
), nodes AS (
    SELECT DISTINCT src AS node FROM edges
), r0 AS (
    SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
), r1 AS (
    SELECT n.node,
           150000 + (85 * COALESCE(c.c, 0)) // 100 AS r
    FROM nodes n
    LEFT JOIN (
        SELECT eo.dst AS node, CAST(SUM(r0.r // eo.od) AS BIGINT) AS c
        FROM eo JOIN r0 ON r0.node = eo.src GROUP BY eo.dst
    ) c USING (node)
), r2 AS (
    SELECT n.node,
           150000 + (85 * COALESCE(c.c, 0)) // 100 AS r
    FROM nodes n
    LEFT JOIN (
        SELECT eo.dst AS node, CAST(SUM(r1.r // eo.od) AS BIGINT) AS c
        FROM eo JOIN r1 ON r1.node = eo.src GROUP BY eo.dst
    ) c USING (node)
), r3 AS (
    SELECT n.node,
           150000 + (85 * COALESCE(c.c, 0)) // 100 AS r
    FROM nodes n
    LEFT JOIN (
        SELECT eo.dst AS node, CAST(SUM(r2.r // eo.od) AS BIGINT) AS c
        FROM eo JOIN r2 ON r2.node = eo.src GROUP BY eo.dst
    ) c USING (node)
)
SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       node // 2 AS entity_id,
       CAST(r AS BIGINT) AS rank_micro
FROM r3
ORDER BY r DESC, node
LIMIT 25
""",
    tags=("graph", "pagerank", "iterative"),
)
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, three iterations) over the undirected
    supplier↔part co-purchase graph derived from lineitem, in exact
    fixed-point integer arithmetic (micro-units): per iteration each node
    sends ``r DIV out_degree`` along every out-edge and receives
    ``150000 + (85 · Σ inbound) DIV 100``.

    Every arithmetic step is integer (+, ·, truncating DIV on non-negative
    operands), so the DuckDB oracle replays all three iterations
    bit-identically — no float accumulation order to diverge. Node ids are
    parity-packed (supplier→2k, part→2k+1) to union the bipartite sides
    into one key space without collisions.

    100 TB shape: per iteration one hash join of the rank vector with the
    (src-keyed) edge list and one hash aggregate on dst — the canonical
    distributed PageRank plan. The edge list with out-degrees is computed
    once and persisted across iterations; the 3 iterations are unrolled
    lineage here — safe because the rank vector appears ONCE per round,
    so the plan grows linearly, never doubles. Higher iteration counts
    run through :func:`fixpoint`, as ``q_pagerank_converged`` does.
    Undirected edges mean no dangling-mass correction is needed — every
    node has out-degree ≥ 1 by construction.
    """
    eo = _copurchase_rank_base(spark, sf_dir)
    ranks = _pr_round(eo)
    for _ in range(_PR_ITERS - 1):
        ranks = _pr_round(eo, ranks)
    top = (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "supplier")
            .otherwise("part")
            .alias("node_type"),
            F.expr("node DIV 2").alias("entity_id"),
            F.col("r").alias("rank_micro"),
            "node",
        )
        .orderBy(F.desc("rank_micro"), F.asc("node"))
        .limit(25)
        .drop("node")
    )
    return top


_PR_R0 = 1_000_000  # initial rank mass per node (micro-units)


def _copurchase_rank_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted out-degree-annotated edge table for the supplier↔part
    PageRank family — shared by the fixed-3-iteration query and the
    convergence-driven one — registered with ``caching.deferred``.

    SINGLE-EXCHANGE build: the doubling happens in-row (explode of both
    orientations — one lineitem scan instead of a union's two), ONE
    exchange hash-partitions the raw doubled pairs by src, and everything
    keyed on src rides it: the (src, dst) dedup (hash(src) clusters equal
    (src, dst) rows, so the dropDuplicates aggregate is partition-local)
    and the out-degree window count. A distinct on the (src, dst) grain
    followed by a repartition by src would pay 2 exchanges + 2 scans.

    Persisting the edge list ALREADY hash-partitioned on the iteration
    join key means every iteration join reuses the cached partitioning
    and shuffles only the rank vector (one row per node), never the much
    larger edge list — the shuffle-reuse pattern that matters most at
    100 TB, where re-shuffling edges per iteration IS the job cost.
    Skew note: a celebrity node's edges all land in one partition under
    ANY src-keyed layout; AQE skew splitting does not apply inside a
    cached window stage, so a pathological hub would need salted degree
    pre-aggregation (none observed at any fixture tier)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") * 2).alias("s"),
        (F.col("l_partkey") * 2 + 1).alias("p"),
    )
    edges = li.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("src"), F.col("p").alias("dst")),
                F.struct(F.col("p").alias("src"), F.col("s").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    n_part = spark.sparkContext.defaultParallelism
    return deferred(
        edges.repartition(n_part, "src")
        .dropDuplicates(["src", "dst"])
        .withColumn("od", F.count("*").over(Window.partitionBy("src")))
        .persist()
    )


def _pr_round(eo: DataFrame, ranks: DataFrame | None = None) -> DataFrame:
    """One PageRank iteration in exact fixed-point integer arithmetic:
    each node sends ``r DIV od`` along every out-edge and receives
    ``150000 + (85 · Σ inbound) DIV 100`` — the single-round plan both
    PageRank queries repeat (one rank⋈edge hash join + one dst aggregate).

    The per-round ``nodes LEFT JOIN contrib`` of the oracle is
    STRUCTURALLY a no-op here and is elided (it costs a sort-merge join
    per round): the doubled edge list is symmetric, so distinct(dst) =
    distinct(src) = the node set, and by induction every round's rank
    vector covers exactly that node set (r0 covers it by construction;
    an inner join on src then keeps every edge, so the dst aggregate
    emits every node again). COALESCE(c, 0) never fires for the same
    reason. The DuckDB oracle keeps the generic left-join form and
    hash-matches — the proof that the elision is output-identical.

    ``ranks=None`` is round 1 in CLOSED FORM: r0 ≡ _PR_R0 for every node,
    so the rank⋈edge join is the identity — each edge's share is the
    constant ``_PR_R0 DIV od`` read straight off the persisted edge
    table. That removes round 1's rank-vector shuffle + join AND the r0
    node table entirely (the same closed-form-first-round move as the
    LPA min-neighbor round)."""
    if ranks is None:
        shares = eo.select("dst", F.expr(f"{_PR_R0} DIV od").alias("share"))
    else:
        shares = eo.join(ranks.withColumnRenamed("node", "src"), "src").select(
            "dst", F.expr("r DIV od").alias("share")
        )
    return (
        shares.groupBy("dst")
        .agg(F.sum("share").alias("c"))
        .select(
            F.col("dst").alias("node"),
            (F.lit(150000).cast("long") + F.expr("(85 * c) DIV 100")).alias("r"),
        )
    )


# Convergence-driven PageRank: run the SAME
# integer fixed-point iteration until the L1 residual halves the total
# rank mass, with a hard cap as the safety bound. The decay per round is
# the damping factor (0.85 — the bipartite supplier↔part graph sits at
# the worst-case |λ2|, measured 0.850 per round at every tier), so the
# converged round is a STRUCTURAL property of the graph family, not of
# its size: 2·L1 ≤ mass first holds at round 8 on every fixture. The
# demonstration threshold keeps the sweep bounded; a production ε of
# 1e-3 runs ~40 more rounds of the IDENTICAL constant-size per-round
# plan (that constancy is what the checkpoint cadence buys and what
# tests/test_plans.py pins).
_PRC_CAP = 12
_PRC_CHECKPOINT_EVERY = 3


def _prc_oracle() -> str:
    """Unrolled DuckDB replay: rounds materialize once each up to the cap
    (MATERIALIZED stops DuckDB re-inlining a CTE its successor references
    twice — the k-core oracle lesson), the per-round L1/mass curve is
    computed over consecutive pairs, and rows are emitted up to the FIRST
    converged round — exactly the rows the early-stopping Spark loop
    emits, because both engines run the same deterministic integer
    iteration."""
    rounds = ",\n".join(
        f"""r{i} AS MATERIALIZED (
    SELECT n.node, 150000 + (85 * COALESCE(c.c, 0)) // 100 AS r
    FROM nodes n
    LEFT JOIN (
        SELECT eo.dst AS node, CAST(SUM(r{i - 1}.r // eo.od) AS BIGINT) AS c
        FROM eo JOIN r{i - 1} ON r{i - 1}.node = eo.src GROUP BY eo.dst
    ) c USING (node)
)"""
        for i in range(1, _PRC_CAP + 1)
    )
    curve = "\nUNION ALL\n".join(
        f"SELECT {i} AS round, SUM(ABS(r{i}.r - r{i - 1}.r)) AS l1,"
        f" SUM(r{i}.r) AS mass FROM r{i} JOIN r{i - 1} USING (node)"
        for i in range(1, _PRC_CAP + 1)
    )
    return f"""
WITH li AS MATERIALIZED (
    SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
    FROM lineitem
), edges AS (
    SELECT src, dst FROM li
    UNION ALL
    SELECT dst AS src, src AS dst FROM li
), eo AS MATERIALIZED (
    SELECT e.src, e.dst, o.od
    FROM edges e
    JOIN (SELECT src, COUNT(*) AS od FROM edges GROUP BY src) o USING (src)
), nodes AS MATERIALIZED (
    SELECT DISTINCT src AS node FROM edges
), r0 AS MATERIALIZED (
    SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
),
{rounds},
curve AS ({curve}),
flagged AS (
    SELECT round,
           CAST(l1 AS BIGINT) AS l1_delta,
           CAST(mass AS BIGINT) AS total_mass,
           2 * l1 <= mass AS converged
    FROM curve
), rstar AS (
    SELECT COALESCE(MIN(round), {_PRC_CAP}) AS rs FROM flagged WHERE converged
)
SELECT CAST(f.round AS BIGINT) AS round, f.l1_delta, f.total_mass, f.converged
FROM flagged f, rstar WHERE f.round <= rstar.rs
"""


def _prc_residual(rnd: int, ranks: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One row ``(l1, mass)``: Σ|r_t − r_{t−1}| and Σ r_t. Round 1 needs
    no join: r0 ≡ _PR_R0 for every node, so there is no r0 table."""
    if prev is None:
        delta = F.col("r") - F.lit(_PR_R0)
    else:
        ranks = ranks.join(prev.withColumnRenamed("r", "r_prev"), "node")
        delta = F.col("r") - F.col("r_prev")
    return ranks.agg(F.sum(F.abs(delta)).alias("l1"), F.sum("r").alias("mass"))


def _prc_point(rows: list[Row]) -> tuple[int, int]:
    # SUM over zero rows is NULL: an empty node set reads as (0, 0)
    return int(rows[0]["l1"] or 0), int(rows[0]["mass"] or 0)


def _prc_rounds(eo: DataFrame, n_rounds: int):
    """Up to ``n_rounds`` convergence-PageRank rounds over the edge table
    ``eo``, stopping at the first round where 2·L1 ≤ mass, which
    includes the empty graph (mass 0)."""
    return fixpoint(
        _pr_round(eo), partial(_pr_round, eo), _prc_residual,
        max_rounds=n_rounds, checkpoint_every=_PRC_CHECKPOINT_EVERY,
        until=lambda rows: 2 * _prc_point(rows)[0] <= _prc_point(rows)[1],
    )


@query(
    "q_pagerank_converged",
    oracle=_prc_oracle(),
    tags=("graph", "pagerank", "iterative", "convergence"),
)
def q_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank run to CONVERGENCE instead of a fixed unroll: iterate the
    exact fixed-point round (``_pr_round``, shared with the 3-iteration
    query) until the L1 residual Σ|r_t − r_{t−1}| satisfies
    2·L1 ≤ Σ r_t, capped at ``_PRC_CAP`` rounds. Output is the per-round
    convergence curve up to and including the converged round — all
    integers + a boolean, so the DuckDB replay hash-matches.

    This is the >3-round scaling proof for the iterative family: the
    round count is DATA-DEPENDENT (a driver-side loop over a bounded
    2-scalar aggregate per round — the Pregel aggregator shape, NOT a
    collect of the rank vector), and :func:`fixpoint` checkpoints the
    rank vector every ``_PRC_CHECKPOINT_EVERY`` rounds, so the logical
    plan is rooted at most 3 rounds above a leaf at ANY iteration count —
    lineage cannot grow with rounds (tests/test_plans.py pins plan-size
    equality between rounds 4/7/10). At 100 TB: per round one rank⋈edge
    join against the pre-partitioned persisted edge list (only the
    one-row-per-node rank vector shuffles), one dst aggregate, one
    16-byte-per-node checkpoint write every 3 rounds — constant cost per
    round, bounded driver memory, any round count.
    """
    _, stats = _prc_rounds(_copurchase_rank_base(spark, sf_dir), _PRC_CAP)
    curve = [
        (rnd, l1, mass, 2 * l1 <= mass)
        for rnd, (l1, mass) in enumerate(map(_prc_point, stats), 1)
        if mass
    ]
    return local_frame(
        spark, curve, "round long, l1_delta long, total_mass long, converged boolean"
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected distinct part co-purchase edge set (x < y): edge when
    two parts share an order. Basket fan-out bounds the per-order pair
    explosion (the q_market_basket_pairs argument).

    Built by BASKET EXPANSION, not a self-join: group lineitem once by
    orderkey into a sorted distinct part array, expand the (i < j) pairs
    in-row with nested ``transform`` HOFs, then distinct. The previous
    shape — distinct(orderkey, partkey) then self-equi-join on orderkey —
    paid a distinct shuffle on the PAIR grain plus the join's reshuffle
    of both sides by orderkey; this shape pays ONE shuffle of lineitem by
    orderkey before the (bounded, in-row) pair expansion. Same output
    set, measured 2.2× on the full triangle query at sf0.1 (with the
    adjacency-intersection counting below). Per-order basket size bounds
    the expansion exactly as before."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .where(F.size("ps") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.slice("ps", 1, F.size("ps") - 1),
                    lambda x, i: F.transform(
                        F.slice("ps", i + 2, F.size("ps")),
                        lambda y: F.struct(x.alias("x"), y.alias("y")),
                    ),
                )
            )
        ).alias("e")
    )
    return pairs.select("e.x", "e.y").distinct()


def _oriented_edges(e: DataFrame) -> DataFrame:
    """Degree-orient an undirected edge set: direct each edge from its
    lower-(degree, id) endpoint to the higher, bounding per-node
    out-degree by O(√m) — the key to the O(m^1.5) triangle plan."""
    deg = (
        e.select(F.col("x").alias("p"))
        .unionByName(e.select(F.col("y").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("deg"))
    )
    return (
        e.join(deg.withColumnRenamed("p", "x").withColumnRenamed("deg", "dx"), "x")
        .join(deg.withColumnRenamed("p", "y").withColumnRenamed("deg", "dy"), "y")
        .select(
            F.when(
                (F.col("dx") < F.col("dy"))
                | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
                F.struct(F.col("x").alias("id"), F.col("y").alias("oid")),
            )
            .otherwise(
                F.struct(F.col("y").alias("id"), F.col("x").alias("oid"))
            )
            .alias("s")
        )
        .select(F.col("s.id").alias("u"), F.col("s.oid").alias("v"))
    )


def _tri_intersections(ed: DataFrame) -> DataFrame:
    """Per-edge triangle closures of a degree-oriented edge list:
    ``(u, v, s)`` where ``s = N+(u) ∩ N+(v)`` — every triangle appears
    exactly once, on its unique base edge (u, v) whose two endpoints both
    point at the third vertex (u→v, u→w, v→w ⇒ w ∈ N+(u) ∩ N+(v); the
    other two edges of the triangle see an empty/other intersection
    because orientation is acyclic). Same O(m^1.5) element volume as the
    classic wedge join, but shipped as PACKED per-node adjacency arrays
    (one row per node, then one row per edge) instead of one shuffle row
    per wedge — the guide-§2.3 "shuffle metadata, not rows" move applied
    to wedges. Measured on the full top-20 query at sf0.1: wedge-join
    18.3-23.4s → 8.2-8.6s, identical output (41M wedges, 1.2M edges).
    Out-degree is O(√m) by orientation, so each adjacency array — and
    each per-row ``array_intersect`` — is bounded; the remaining join
    stays a keyed shuffle-hash join (the wedge-era lesson: never sort
    the heavy side).

    There is no ``ed ⋈ adj`` edge-side attach: the (u, v, N+(u)) stream
    is EXPLODED in-row from the adjacency table itself (v ∈ N+(u)
    enumerates every oriented edge exactly once, by construction of adj),
    so the edge list is shuffled/hashed once (the adjacency groupBy), and
    only the closing-side attach joins. ``ed`` is consumed exactly once
    (the adjacency build)."""
    adj = ed.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("nu"))
    e2 = adj.select("u", "nu", F.explode("nu").alias("v")).join(
        adj.select(
            F.col("u").alias("v"), F.col("nu").alias("nv")
        ).hint("shuffle_hash"),
        "v",
    )
    return e2.select(
        "u", "v", F.array_intersect("nu", "nv").alias("s")
    ).where(F.size("s") > 0)


@query(
    "q_triangle_count_parts",
    oracle="""
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
    SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS (
    SELECT e1.x AS a, e1.y AS b, e2.y AS c
    FROM e e1
    JOIN e e2 ON e2.x = e1.y
    JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
), nodes AS (
    SELECT a AS p FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
SELECT p AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY p
ORDER BY n_triangles DESC, p_partkey ASC
LIMIT 20
""",
    tags=("graph", "triangles", "self-join"),
)
def q_triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle participation in the part co-purchase
    graph (edge = two parts share an order): the clustering/community
    primitive behind recommendation diversity and graph-quality metrics.

    The Spark side uses the DEGREE-ORIENTED algorithm: each undirected
    edge is directed from its lower-(degree, id) endpoint to the higher,
    so every triangle is found exactly once — as the adjacency
    intersection N+(u) ∩ N+(v) on its unique base edge u→v
    (``_tri_intersections``; a wedge row join measured 2.3-2.7× slower
    end-to-end). Orientation bounds per-node out-degree
    by O(√m), keeping both the adjacency arrays and the per-row
    intersections bounded — the O(m^1.5) total work that survives dense
    co-purchase graphs at 100 TB — while the ORACLE enumerates triangles
    naively as the canonical a<b<c triple join, proving the oriented
    plan finds the identical triangle set (the set is
    algorithm-independent).

    100 TB shape: basket fan-out bounds the per-order pair expansion
    (built in-row, see ``_copurchase_edges``); the adjacency attach
    joins are keyed shuffle-hash equi-joins on node ids; the final
    top-20 is TakeOrderedAndProject with a total (count, partkey) order
    so ties are deterministic. Even so, this is the suite's heaviest
    operator — the intersection element volume is O(m^1.5) no matter
    how it is shipped — so the 100 TB tier is
    ``q_triangle_count_doulion`` below: DOULION edge sampling at
    probability p cuts that volume by ~p^1.5 (p=1/2 → ~2.8×, p=1/10 →
    ~32×) for a count estimator whose error the twin query witnesses
    in-row against this exact count.

    Node credits off the per-edge intersections: the base edge's two
    endpoints each participate in |s| triangles, every closing vertex in
    one — 3·T credit rows total (identical to the old per-triangle node
    union), emitted by ONE in-row explode instead of three reads of a
    wedge-join output.

    The RAW edge set persists: its basket-expansion + distinct subtree
    is read 5× inside ``_oriented_edges`` (the degree union twice, each
    degree broadcast re-deriving deg over it, plus the edge probe), and
    without the cache the plan showed ZERO exchange reuse across those
    reads — 20 lineitem scans for one query. One cache, one scan. The
    oriented list itself does not persist: since the in-row edge explode
    (see ``_tri_intersections``), it is consumed exactly once.
    """
    e = deferred(_copurchase_edges(spark, sf_dir).persist())
    inter = _tri_intersections(_oriented_edges(e))
    credits = inter.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("u").alias("p"),
                        F.size("s").cast("long").alias("c"),
                    ),
                    F.struct(
                        F.col("v").alias("p"),
                        F.size("s").cast("long").alias("c"),
                    ),
                ),
                F.transform(
                    "s",
                    lambda w: F.struct(
                        w.alias("p"), F.lit(1).cast("long").alias("c")
                    ),
                ),
            )
        ).alias("pc")
    )
    top = (
        credits.groupBy(F.col("pc.p").alias("p_partkey"))
        .agg(F.sum("pc.c").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("p_partkey"))
        .limit(20)
    )
    return top


@query(
    "q_triangle_count_doulion",
    oracle="""
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
    SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n
    FROM e e1
    JOIN e e2 ON e2.x = e1.y
    JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
), ke AS (
    -- deterministic p=1/2 edge sampling: low bit of the first 8 md5 hex
    -- chars of the canonical "x,y" edge key (md5 is byte-identical to
    -- the Spark side)
    SELECT x, y FROM e
    WHERE ('0x' || substr(md5(x::VARCHAR || ',' || y::VARCHAR), 1, 8))::BIGINT % 2 = 0
), stri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n
    FROM ke e1
    JOIN ke e2 ON e2.x = e1.y
    JOIN ke e3 ON e3.x = e1.x AND e3.y = e2.y
)
SELECT tri.n AS n_triangles_exact,
       stri.n AS n_triangles_sampled,
       CAST(2 AS BIGINT) AS inv_p,
       CAST(stri.n * 8 AS BIGINT) AS n_triangles_est,
       CASE WHEN tri.n = 0 THEN 0.0
            ELSE CAST(ABS(stri.n * 8 - tri.n) AS DOUBLE) / tri.n END AS rel_err,
       (CASE WHEN tri.n = 0 THEN 0.0
             ELSE CAST(ABS(stri.n * 8 - tri.n) AS DOUBLE) / tri.n END) <= 0.35
           AS within_bound
FROM tri, stri
""",
    tags=("graph", "triangles", "approx", "sampling"),
)
def q_triangle_count_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION-style approximate GLOBAL triangle count (Tsourakakis et al.,
    KDD'09): keep each undirected edge independently with probability
    p = 1/2, count triangles of the sparsified graph with the same
    degree-oriented O(m^1.5) plan as ``q_triangle_count_parts``, and
    scale by 1/p³ — an unbiased estimator whose sparsified wedge stream
    shrinks ~p^1.5. This is the cheap tier for the suite's heaviest
    operator: at 100 TB you run ONLY the sampled side (p=1/10 → ~32×
    less wedge work); here the row also carries the exact count and the
    estimator's relative error as the in-row witness, with a loose 35 %
    bound flag — DOULION's variance at p=1/2 concentrates well under
    that on any graph with ≥ a few hundred triangles.

    Sampling is DETERMINISTIC and CROSS-ENGINE: the keep decision is the
    low bit of the first 8 md5 hex chars of the canonical ``"x,y"`` edge
    key — the same md5 discipline the minhash/simhash dedup family uses
    (functions/hashing.py) — so DuckDB replays the ENTIRE estimator
    (sampling, sparsified count, scale-up, error) as an exact oracle,
    with its triangle counts via the naive a<b<c triple join while Spark
    runs the degree-oriented plan: the estimate matches only if both the
    sampled edge SET and both counting algorithms agree. No RNG anywhere,
    per the repo-wide reproducibility discipline.
    """
    # Persist the distinct co-purchase edge set ONCE: it is the suite's
    # heaviest intermediate (basket expansion + distinct), its subtree
    # appears three times inside each _oriented_edges call, and the
    # exact and sampled counts are two separate jobs that cannot
    # share exchanges — without the persist it would execute ≥2×.
    def _tri_total(ed: DataFrame) -> int:
        # one row per base edge with a non-empty closure; Σ|s| = T
        row = (
            _tri_intersections(ed)
            .agg(F.coalesce(F.sum(F.size("s")), F.lit(0)).alias("n"))
            .collect()[0]
        )
        return int(row["n"])

    e = deferred(_copurchase_edges(spark, sf_dir).persist())
    # materialize the shared edge cache ONCE with a narrow action, then
    # run the two independent tier jobs CONCURRENTLY (guide §2.6 "overlap
    # independent jobs"): the sampled tier's tasks back-fill executor
    # slots freed by the exact tier's stragglers instead of waiting for
    # the whole tier to drain. One aggregate over both tiers, tagged and
    # grouped by tier, measured slower at sf0.01 and sf0.1 (PERF.md). The
    # two jobs share the engine session but set no conf on it. The oriented lists
    # do not persist: with the in-row edge explode in _tri_intersections,
    # each is consumed exactly once (the adjacency groupBy) — only the
    # raw edge set has multiple readers (degree union + edge probe per
    # tier).
    e.count()

    p_den = 2  # keep-probability 1/p_den
    edge_key = F.concat_ws(
        ",", F.col("x").cast("string"), F.col("y").cast("string")
    )
    kept = e.where(
        F.conv(F.substring(F.md5(edge_key), 1, 8), 16, 10).cast("long")
        % p_den
        == 0
    )
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_exact = pool.submit(_tri_total, _oriented_edges(e))
        f_samp = pool.submit(_tri_total, _oriented_edges(kept))
        n_exact = f_exact.result()
        n_samp = f_samp.result()

    n_est = n_samp * p_den**3
    rel_err = abs(n_est - n_exact) / n_exact if n_exact else 0.0
    return local_frame(
        spark,
        [
            (
                int(n_exact),
                int(n_samp),
                int(p_den),
                int(n_est),
                float(rel_err),
                bool(rel_err <= 0.35),
            )
        ],
        "n_triangles_exact long, n_triangles_sampled long, inv_p long, "
        "n_triangles_est long, rel_err double, within_bound boolean",
    )


_BFS_ROUNDS = 3


@query(
    "q_bfs_part_distances",
    oracle=f"""
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e0 AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), root AS (
    SELECT MIN(l_partkey) AS r FROM op
), d0 AS (
    SELECT r AS node, 0 AS dist FROM root
), d1 AS (
    SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d0
        UNION ALL
        SELECT e0.dst AS node, d0.dist + 1 FROM e0 JOIN d0 ON d0.node = e0.src
    ) GROUP BY node
), d2 AS (
    SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d1
        UNION ALL
        SELECT e0.dst AS node, d1.dist + 1 FROM e0 JOIN d1 ON d1.node = e0.src
    ) GROUP BY node
), d3 AS (
    SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d2
        UNION ALL
        SELECT e0.dst AS node, d2.dist + 1 FROM e0 JOIN d2 ON d2.node = e0.src
    ) GROUP BY node
)
SELECT CAST(dist AS BIGINT) AS dist,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MIN(node) AS BIGINT) AS min_part,
       CAST(MAX(node) AS BIGINT) AS max_part
FROM d3
GROUP BY dist
""",
    tags=("graph", "bfs", "shortest-path", "iterative"),
)
def q_bfs_part_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest-path distances (3 rounds) from the
    lowest part key over the part co-purchase graph — the FRONTIER
    iteration shape (expand + min-combine) that complements PageRank's
    score-propagation loop: per round, distances propagate one hop
    (``dist+1`` along every edge) and a min-aggregate keeps the shortest
    label per node. Distances are small integers, so the whole loop —
    and its 3-level unrolled DuckDB replay — is exact.

    Emitted as the per-distance histogram (count + id extremes), the
    distance-distribution readout a graph health check wants; parts
    unreachable within 3 hops are absent on both sides.

    100 TB shape: each round is one keyed hash join (edge list × current
    labels) + one hash min-aggregate over the persisted edge list. Unlike
    PageRank's linear unroll, this round's plan embeds ``dist`` TWICE
    (once directly in the union, once under ``expanded``), so the
    lineage doubles per round — bounded and cheap at the fixed 3 rounds
    (8 leaf copies), but a deeper traversal must run through
    :func:`fixpoint` with a checkpoint every round. The naive "frontier
    only" optimization (join only newly-labeled nodes) drops the join's
    left side to the frontier size per round — noted, not needed at 3
    rounds.

    The directed edge set (both directions, x ≠ y) is the undirected
    basket-expansion pair set (``_copurchase_edges`` — one lineitem
    shuffle + in-row expansion instead of the distinct-then-self-join
    on orderkey) unioned with its swap; the root is min(l_partkey)
    straight off lineitem (identical to min over the distinct pair
    grain, one narrow agg instead of a distinct).
    """
    half = _copurchase_edges(spark, sf_dir).select(
        F.col("x").alias("src"), F.col("y").alias("dst")
    )
    e = deferred(
        half.unionByName(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).persist()
    )
    root = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.min("l_partkey").alias("r"))
        .collect()[0]["r"]
    )
    dist = local_frame(spark, [(int(root), 0)], "node long, dist int")
    for _ in range(_BFS_ROUNDS):
        # each round references dist TWICE (union + expanded), so the
        # unrolled tree re-COMPUTED 2^rounds copies of the edge join
        # inside the one final job; persisting the round's dist table
        # (node-sized) makes the second reference an InMemoryTableScan
        # — 3 edge joins total instead of 7 (measured 16.9s → ~4s at
        # sf0.1, identical histogram)
        dist = deferred(dist.persist())
        expanded = (
            e.join(dist.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    hist = dist.groupBy(F.col("dist").cast("long").alias("dist")).agg(
        F.count("*").alias("n_parts"),
        F.min("node").alias("min_part"),
        F.max("node").alias("max_part"),
    )
    return hist


_LPA_ROUNDS = 2


_LPA_LBL_SPACE = 1 << 32  # packed-argmax label space; node ids < 2^32


@query(
    "q_label_propagation_communities",
    oracle="""
WITH li AS (
    SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
    FROM lineitem
), e AS (
    SELECT src AS u, dst AS v FROM li UNION ALL SELECT dst, src FROM li
), l0 AS (
    SELECT DISTINCT u AS node, u AS lbl FROM e
), c1 AS (
    SELECT e.u, l0.lbl, COUNT(*) AS c FROM e JOIN l0 ON l0.node = e.v
    GROUP BY e.u, l0.lbl
), l1 AS (
    SELECT u AS node, lbl FROM (
        SELECT u, lbl,
               ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, lbl ASC) AS rn
        FROM c1
    ) WHERE rn = 1
), c2 AS (
    SELECT e.u, l1.lbl, COUNT(*) AS c FROM e JOIN l1 ON l1.node = e.v
    GROUP BY e.u, l1.lbl
), l2 AS (
    SELECT u AS node, lbl FROM (
        SELECT u, lbl,
               ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, lbl ASC) AS rn
        FROM c2
    ) WHERE rn = 1
)
SELECT CAST(lbl AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM l2 GROUP BY lbl
ORDER BY n_members DESC, community ASC LIMIT 25
""",
    tags=("graph", "community", "label-propagation", "iterative"),
)
def q_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    parity-packed supplier↔part co-purchase graph (the PageRank graph:
    supplier→2k, part→2k+1, doubled to both directions), 2 rounds,
    reported as the 25 largest communities — the community-detection
    primitive a curation pipeline uses to group related products/topics
    (where connected components is too coarse: one giant component ≠ one
    community). Same per-round keyed join + aggregate shape as the
    reference's training loop (reference ALS.py:137-156 /
    compute_factors ALS.py:421-560), with a frequency-vote combiner.

    LPA is normally nondeterministic (random tie-breaks, random update
    order); this variant is made EXACTLY reproducible — and therefore
    oracle-checkable — by (a) synchronous rounds (every node updates from
    the previous round's labels) and (b) the deterministic tie-break
    most-frequent-then-smallest label, mirrored by the oracle's
    ``ROW_NUMBER() OVER (ORDER BY c DESC, lbl ASC)``.

    Per round: one keyed join (edges × labels, shuffled on node id) +
    one count aggregate + one per-node argmax. Three plan-level choices
    (outputs unchanged — the oracle replays the generic doc-level form):

    - ROUND 1 IS CLOSED-FORM: labels initialize to node ids and the
      doubled edge list is distinct, so every (u, lbl) vote count is
      exactly 1 and the most-frequent-then-smallest winner is simply
      ``min(neighbor id)`` — one aggregate, no join, no 2|E|-row count
      shuffle.
    - The argmax is a PACKED-LONG max aggregate, not a struct max and
      not a window: ``max(c·2^32 + (2^32−1−lbl))`` decodes to the
      (most-frequent, smallest-label) winner because node ids are
      < 2^32 (parity-packed keys; guarded by a one-row bound check
      folded into the edge projection) — a primitive-long hash
      aggregate stays inside WholeStageCodegen and partial-combines
      map-side, where the struct variant falls back to interpreted
      comparisons (measured 25s → ~4s on the count table at sf1).
    - The edge list persists PRE-PARTITIONED on the join key ``v`` (the
      PageRank-round discipline), so the round-2 join re-shuffles only
      the label table; ≤2 rounds keep the unrolled lineage bounded
      (deeper fixpoints run through :func:`fixpoint`).

    The edge cache is released once the caller is done with the result.
    """
    n_part = spark.sparkContext.defaultParallelism
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # packed-argmax precondition: every node id fits 32 bits (raise, not
    # silently corrupt, if a future key space outgrows the packing)
    bound = F.lit(_LPA_LBL_SPACE)
    checked = F.when(
        (F.col("src") < bound) & (F.col("dst") < bound), F.col("src")
    ).otherwise(F.raise_error("node id exceeds 2^32 packed-argmax space"))
    li = li.select(checked.alias("src"), "dst")
    e = deferred(
        li.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(li.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .repartition(n_part, "v")
        .persist()
    )
    # round 1 closed form (identity init + distinct edges ⇒ all votes 1)
    labels = e.groupBy("u").agg(F.min("v").alias("lbl")).select(
        F.col("u").alias("node"), "lbl"
    )
    for _ in range(_LPA_ROUNDS - 1):
        # ONE exchange for the whole vote→count→argmax chain: the vote rows
        # repartition by u once — projected down to (u, lbl) first —
        # and BOTH aggregates ride that partitioning (hash(u)
        # satisfies the (u, lbl) clustering of the count and the (u)
        # clustering of the packed argmax), replacing the previous two
        # aggregate exchanges over the ~2|E|-row vote table with one.
        votes = (
            e.join(labels.withColumnRenamed("node", "v"), "v")
            .select("u", "lbl")
            .repartition(n_part, "u")
        )
        counts = votes.groupBy("u", "lbl").agg(F.count("*").alias("c"))
        packed = F.max(
            F.col("c") * F.lit(_LPA_LBL_SPACE)
            + (F.lit(_LPA_LBL_SPACE - 1) - F.col("lbl"))
        )
        labels = counts.groupBy("u").agg(packed.alias("p")).select(
            F.col("u").alias("node"),
            (F.lit(_LPA_LBL_SPACE - 1) - F.col("p") % F.lit(_LPA_LBL_SPACE)).alias(
                "lbl"
            ),
        )
    top = (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(25)
    )
    return top


# Checkpoint every CC round. Every 3 rounds measured SLOWER despite the
# self-loop linear lineage (15.7s → 21.4s for the two CC queries at
# sf0.1): between checkpoints every round re-ANALYZES the accumulated
# logical tree — including the LSH/shingle self-join base lineage — and
# at these label sizes driver-side planning dominates the round.
_CC_CHECKPOINT_EVERY = 1


def min_label_components(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components by iterative min-label propagation over an
    undirected pair list ``(src, dst)`` — the shared core behind near-dup
    cluster resolution (dedup/queries.py q_dedup_clusters) and semantic
    embedding clustering (similarity/queries.py q_semantic_dedup_clusters).
    Returns ``(node, label)`` with ``label`` = the component's minimum
    node id.

    Each round: label[n] ← min(label[n], min label of n's neighbors);
    stop at fixpoint. Rounds needed = component diameter (near-dup
    components are tiny cliques/chains, so 2-4).

    SELF-LOOP SINGLE-REFERENCE FORM. A round that references the previous
    label table TWICE (under the neighbor join and again under a left
    join folding the node's own label) doubles the unrolled plan per
    round (3,133 exchanges after ~4 rounds). Instead the edge list
    carries one tagged SELF-LOOP per node: the node's own previous label
    arrives through the same join + groupBy that folds neighbor labels
    (``label = min over incoming``, ``old = min over the self rows``, and
    the convergence flag is ``label < old`` — exactly the
    ``∃ neighbor label < own`` predicate), so each round references the
    previous table ONCE and lineage grows LINEARLY; :func:`fixpoint`
    checkpoints every ``_CC_CHECKPOINT_EVERY`` rounds.
    Round 1 is CLOSED-FORM: identity labels make the incoming label the
    src id itself, so the first round is one aggregate over the edge
    list — no join, no label table to build.

    Scale shape: one join + one groupBy per round, both keyed on node —
    shuffle volume bounded by the EDGE list (never all-pairs; the self
    loops add |V| rows). The convergence probe is a FULL count of
    improved nodes over the round's table, not ``limit(1)``: one narrow
    pass materializes every partition, so the returned fixpoint never
    recomputes through inputs the caller has already unpersisted.
    Unconverged labels are WRONG labels, so the bound raises instead of
    returning them. The persisted pair and edge lists register with
    ``caching.deferred``, like every round cache, so they are released
    with the query whether it returns or raises.
    """

    def _round_agg(incoming: DataFrame) -> DataFrame:
        # label = min over ALL incoming labels (self row delivers the
        # node's own); old = the self row's label; improved ⟺ a real
        # neighbor beat it. Every node has exactly one self row, so
        # `old` is never null and every node emits every round.
        return (
            incoming.groupBy(F.col("dst").alias("node"))
            .agg(
                F.min("lbl").alias("label"),
                F.min(F.when(F.col("is_self"), F.col("lbl"))).alias("old"),
            )
            .select(
                "node", "label", (F.col("label") < F.col("old")).alias("improved")
            )
        )

    def _step(prev: DataFrame) -> DataFrame:
        labels = prev.select("node", "label").withColumnRenamed("node", "src")
        return _round_agg(
            edges.join(labels, "src").select("dst", F.col("label").alias("lbl"), "is_self")
        )

    def _settled(rows: list[Row]) -> bool:
        return not rows[0]["n_improved"]  # NULL over an empty edge list

    pairs = deferred(pairs.persist())
    nbr = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).withColumn("is_self", F.lit(False))
    selfe = (
        nbr.select(F.col("src").alias("s"))
        .distinct()
        .select(
            F.col("s").alias("src"),
            F.col("s").alias("dst"),
            F.lit(True).alias("is_self"),
        )
    )
    edges = deferred(nbr.unionAll(selfe).persist())
    # closed form: identity labels ⇒ incoming label = src id
    first = _round_agg(edges.select("dst", F.col("src").alias("lbl"), "is_self"))
    labels, stats = fixpoint(
        first, _step,
        lambda rnd, cur, prev: cur.agg(
            F.sum(F.col("improved").cast("int")).alias("n_improved")
        ),
        max_rounds=max_rounds, checkpoint_every=_CC_CHECKPOINT_EVERY, until=_settled,
    )
    if not _settled(stats[-1]):
        raise RuntimeError(
            "connected-components min-label propagation did not converge "
            f"within {max_rounds} rounds; raise the bound for this corpus"
        )
    return labels.select("node", "label")


_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_peel(cur: DataFrame) -> DataFrame:
    """One peel round: drop nodes of degree < k, then edges touching them.
    The round references its predecessor THREE times (degree + both
    semi-join filters), so unrolled lineage grows 3^rounds."""
    deg = cur.groupBy("u").agg(F.count("*").alias("c"))
    keep = deg.where(F.col("c") >= _KCORE_K).select("u")
    return (
        cur.join(keep, "u", "left_semi")
        .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
        .select("u", "v")
    )


def _kcore_rounds(spark: SparkSession, sf_dir: str) -> list[list[Row]]:
    """Per-round stats rows of the ``_KCORE_ROUNDS`` peel rounds from the
    persisted, deferred doubled edge list."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    base = deferred(
        li.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(li.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .persist()
    )
    _, stats = fixpoint(
        _kcore_peel(base), _kcore_peel,
        lambda rnd, cur, prev: cur.agg(
            F.lit(rnd).cast("long").alias("peel_round"),
            F.countDistinct("u").alias("n_nodes"),
            F.count("*").alias("n_directed_edges"),
        ),
        max_rounds=_KCORE_ROUNDS, checkpoint_every=1,
    )
    return stats


@query(
    "q_kcore_peeling",
    oracle=f"""
WITH li AS MATERIALIZED (
    SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
    FROM lineitem
), e0 AS MATERIALIZED (
    SELECT src AS u, dst AS v FROM li UNION ALL SELECT dst, src FROM li
), k1 AS MATERIALIZED (
    SELECT u FROM (SELECT u, COUNT(*) AS c FROM e0 GROUP BY u) WHERE c >= {_KCORE_K}
), e1 AS MATERIALIZED (
    SELECT u, v FROM e0
    WHERE u IN (SELECT u FROM k1) AND v IN (SELECT u FROM k1)
), k2 AS MATERIALIZED (
    SELECT u FROM (SELECT u, COUNT(*) AS c FROM e1 GROUP BY u) WHERE c >= {_KCORE_K}
), e2 AS MATERIALIZED (
    SELECT u, v FROM e1
    WHERE u IN (SELECT u FROM k2) AND v IN (SELECT u FROM k2)
), k3 AS MATERIALIZED (
    SELECT u FROM (SELECT u, COUNT(*) AS c FROM e2 GROUP BY u) WHERE c >= {_KCORE_K}
), e3 AS MATERIALIZED (
    SELECT u, v FROM e2
    WHERE u IN (SELECT u FROM k3) AND v IN (SELECT u FROM k3)
)
SELECT CAST(1 AS BIGINT) AS peel_round,
       CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes,
       CAST(COUNT(*) AS BIGINT) AS n_directed_edges FROM e1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(COUNT(DISTINCT u) AS BIGINT),
       CAST(COUNT(*) AS BIGINT) FROM e2
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(COUNT(DISTINCT u) AS BIGINT),
       CAST(COUNT(*) AS BIGINT) FROM e3
""",
    tags=("graph", "kcore", "iterative", "peeling"),
)
def q_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core peeling (k = 3, 3 synchronous rounds) over the
    parity-packed supplier↔part co-purchase graph: per round, drop every
    node whose remaining degree is < k, then drop edges touching dropped
    nodes — the densest-subgraph / graph-degeneracy primitive that
    complements the other iterative shapes (PageRank's score
    propagation, BFS's frontier expansion, CC's min-label fixpoint,
    LPA's frequency vote) with the fourth one: ITERATIVE SUBGRAPH
    SHRINKING, where the working set gets monotonically smaller each
    round (per-round keyed join + aggregate, the reference's loop shape —
    reference ALS.py:137-156 — with a filter instead of a solver). At
    100 TB that monotonicity is the point — unlike the other loops,
    round r's cost is bounded by round r−1's survivors.

    Per round: one degree aggregate + two left-semi joins (both keyed on
    a node id). Round r's plan references round r−1 THREE times, so
    :func:`fixpoint` checkpoints every round (unrolled, the first audit
    measured 120 exchanges at 3 rounds), which also makes
    run-to-convergence peeling safe, not just the fixed 3 rounds. Each
    round's stats row is the round's probe. Output is the 3-row
    per-round (nodes, directed edges) shrinkage curve — integer counts,
    exact unrolled DuckDB oracle.
    """
    return local_frame(
        spark,
        [row for rows in _kcore_rounds(spark, sf_dir) for row in rows],
        "peel_round long, n_nodes long, n_directed_edges long",
    )
