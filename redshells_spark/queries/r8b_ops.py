"""Round-8 batch 2: forecasting and graph-structure completions — the
Theta-method forecast (the M3-competition baseline: OLS drift line +
SES on the theta-line, completing the holt/seasonal-naive family),
exact average-precision (PR-AUC) for the classifier-eval family, and
two graph-structure readouts over the shared co-purchase relation:
bounded k-core peeling rounds and the rich-club coefficient ladder.

House determinism rules: all counts/cumulative sums exact int64;
recurrences rounded half-up to 10 decimals per step on BOTH engines
(the holt/markov idiom); per-level rational terms either pure integer
division or one fixed IEEE tree over exact ints.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import types as T

from redshells_spark.operators.observe import pin_count
from redshells_spark.queries._shared import *  # noqa: F401,F403
from redshells_spark.queries.r7c_ops import _EDGES_SQL  # noqa: E402

_DAY_US = 86_400_000_000

_DAILY_SQL = f"""days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t
                FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(count(*) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.v, 0) AS BIGINT) AS v
             FROM days d LEFT JOIN pc USING (t))"""


# ------------------------------------------------- Theta forecast


@q(
    "theta_forecast",
    f"""WITH RECURSIVE {_DAILY_SQL},
       idx AS (SELECT t, v,
                      CAST(row_number() OVER (ORDER BY t ASC) AS BIGINT) AS i
               FROM s),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(t) AS BIGINT) AS st,
                    CAST(sum(v) AS BIGINT) AS sv,
                    CAST(sum(t * v) AS BIGINT) AS stv,
                    CAST(sum(t * t) AS BIGINT) AS stt
             FROM idx),
       ab AS (SELECT n, st, sv,
                     CAST(n * stv - st * sv AS DOUBLE)
                       / CAST(n * stt - st * st AS DOUBLE) AS b
              FROM m),
       ab2 AS (SELECT b,
                      (CAST(sv AS DOUBLE) - b * CAST(st AS DOUBLE))
                        / CAST(n AS DOUBLE) AS a
               FROM ab),
       z AS (SELECT idx.i, idx.t, idx.v,
                    round(2 * CAST(idx.v AS DOUBLE)
                          - (ab2.a + ab2.b * CAST(idx.t AS DOUBLE)), 10) AS z
             FROM idx CROSS JOIN ab2),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
       it(i, l) AS (
         SELECT CAST(1 AS BIGINT), z.z FROM z WHERE z.i = 1
         UNION ALL
         SELECT it.i + 1,
                round(CAST(0.3 AS DOUBLE) * x.z
                      + CAST(0.7 AS DOUBLE) * it.l, 10)
         FROM it JOIN z x ON x.i = it.i + 1
         CROSS JOIN nn WHERE it.i + 1 <= nn.n)
       SELECT z.t, z.v, z.z AS theta_z, it.l AS level,
              round(CAST(0.5 AS DOUBLE)
                    * (it.l + (ab2.a + ab2.b * CAST(z.t + 1 AS DOUBLE))),
                    10) AS fcst_next
       FROM it JOIN z ON z.i = it.i CROSS JOIN ab2
       ORDER BY z.t""",
)
def _theta_forecast(spark, sf_dir):
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000; the
    M3-competition benchmark winner and standard strong baseline) over
    the dense daily purchase series: the theta=2 line z_t = 2*x_t −
    (a + b·t) doubles the curvature around the OLS drift line, SES
    (alpha=0.3) smooths it, and the one-step forecast is the equal-
    weight combination of the SES level and the drift line at t+1.
    The OLS moments are exact int64 (the zipf_law_fit idiom); a and b
    are one fixed IEEE tree over those ints; the SES recurrence is
    rounded half-up to 10 decimals per step on BOTH engines (the holt
    idiom — Python Decimal half-up == DuckDB round), so the table is
    engine-exact. Fact-scale work is one map-combined daily groupBy;
    the sequential solve runs on the collected day-level table
    (time-bounded: ~a month here, ≤ a few thousand rows at any corpus
    scale)."""
    from redshells_spark.operators.markov import _round_half_up as rhu

    s = _daily_purchases(spark, sf_dir).orderBy("t").collect()
    schema = T.StructType(
        [
            T.StructField("t", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("theta_z", T.DoubleType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("fcst_next", T.DoubleType()),
        ]
    )
    if len(s) < 2:
        # the OLS denominator needs >=2 distinct days; mirror the
        # oracle's empty anchor on a degenerate corpus
        return spark.createDataFrame([], schema)
    n = len(s)
    st = sum(int(r["t"]) for r in s)
    sv = sum(int(r["v"]) for r in s)
    stv = sum(int(r["t"]) * int(r["v"]) for r in s)
    stt = sum(int(r["t"]) * int(r["t"]) for r in s)
    b = float(n * stv - st * sv) / float(n * stt - st * st)
    a = (float(sv) - b * float(st)) / float(n)
    rows = []
    level = None
    for r in s:
        t, v = int(r["t"]), int(r["v"])
        z = rhu(2 * float(v) - (a + b * float(t)), 10)
        level = z if level is None else rhu(0.3 * z + 0.7 * level, 10)
        rows.append(
            Row(
                t=t,
                v=v,
                theta_z=z,
                level=level,
                fcst_next=rhu(0.5 * (level + (a + b * float(t + 1))), 10),
            )
        )
    return spark.createDataFrame(rows, schema).orderBy("t")


# --------------------------------------------------- exact PR-AUC


@q(
    "pr_auc_exact",
    """WITH ev AS (SELECT CAST(floor(value * 100 + CAST(0.5 AS DOUBLE))
                         AS BIGINT) AS score_c,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS pos
               FROM events),
       lvl AS (SELECT score_c,
                      CAST(sum(pos) AS BIGINT) AS np,
                      CAST(sum(1 - pos) AS BIGINT) AS nn
               FROM ev GROUP BY 1),
       cum AS (SELECT score_c, np, nn,
                      CAST(sum(np) OVER (ORDER BY score_c DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                      CAST(sum(nn) OVER (ORDER BY score_c DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
               FROM lvl),
       tot AS (SELECT CAST(sum(np) AS BIGINT) AS p,
                      CAST(sum(nn) AS BIGINT) AS ng,
                      CAST(count(*) AS BIGINT) AS n_levels
               FROM lvl),
       terms AS (SELECT CAST(cum.np * cum.tp * 1000000000
                             // (tot.p * (cum.tp + cum.fp)) AS BIGINT)
                          AS term_e9
                 FROM cum CROSS JOIN tot WHERE cum.np > 0)
       SELECT tot.p AS n_pos, tot.ng AS n_neg, tot.n_levels,
              CAST(s.ap_e9 AS BIGINT) AS ap_e9,
              round(CAST(s.ap_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS ap
       FROM (SELECT sum(term_e9) AS ap_e9 FROM terms) s CROSS JOIN tot""",
)
def _pr_auc_exact(spark, sf_dir):
    """Exact average precision (step-wise PR-AUC, the sklearn AP
    definition: AP = Σ_levels ΔR_i · P_i) for the "does event value
    predict a purchase" score, computed entirely on the distinct-score
    LEVEL table: per-level cumulative TP/FP from one window over the
    level relation, each level's ΔTP·TP/(P·(TP+FP)) term an EXACT
    integer floor-division at e9 (numerator ≤ ~4e17, inside int64),
    then one exact integer sum — no per-row float accumulation
    anywhere, so the area is bit-identical across engines and
    partitionings. Completes the eval family beside auc_delong_ci
    (ROC), mcc_threshold_scan, and expected_calibration_error; PR is
    the imbalance-honest curve. Fact-scale work is one map-combined
    groupBy(score level); the window runs over levels only."""
    ev = _t(spark, sf_dir, "events").select(
        F.expr("cast(floor(value * 100 + cast(0.5 as double)) as bigint)").alias(
            "score_c"
        ),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    lvl = ev.groupBy("score_c").agg(
        F.sum("pos").cast("long").alias("np"),
        F.sum(1 - F.col("pos")).cast("long").alias("nn"),
    )
    w = Window.orderBy(F.col("score_c").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = lvl.select(
        "score_c",
        "np",
        F.sum("np").over(w).cast("long").alias("tp"),
        F.sum("nn").over(w).cast("long").alias("fp"),
    )
    tot = lvl.agg(
        F.sum("np").cast("long").alias("p"),
        F.sum("nn").cast("long").alias("ng"),
        F.count(F.lit(1)).cast("long").alias("n_levels"),
    )
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("np") > 0)
        .select(
            F.expr(
                "cast(np * tp * 1000000000 div (p * (tp + fp)) as bigint)"
            ).alias("term_e9")
        )
    )
    ap = terms.agg(F.sum("term_e9").cast("long").alias("ap_e9"))
    return ap.crossJoin(F.broadcast(tot)).select(
        F.col("p").alias("n_pos"),
        F.col("ng").alias("n_neg"),
        "n_levels",
        "ap_e9",
        F.round(F.col("ap_e9").cast("double") / F.lit(1e9), 6).alias("ap"),
    )


# ----------------------------------------------- k-core peel rounds


def _kcore_oracle_sql(k: int = 8, rounds: int = 6) -> str:
    steps = []
    prev = "alive0"
    for r in range(1, rounds + 1):
        steps.append(
            f"""deg{r} AS (SELECT e.src AS node, CAST(count(*) AS BIGINT) AS d
           FROM edges e
           JOIN {prev} a ON a.node = e.src
           JOIN {prev} b ON b.node = e.dst
           GROUP BY 1),
       alive{r} AS (SELECT node FROM deg{r} WHERE d >= {k})"""
        )
        prev = f"alive{r}"
    chain = ",\n       ".join(steps)
    sels = "\n       UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
              (SELECT CAST(count(*) AS BIGINT) FROM alive{r}) AS n_nodes,
              (SELECT CAST(count(*) AS BIGINT) FROM edges e
               JOIN alive{r} a ON a.node = e.src
               JOIN alive{r} b ON b.node = e.dst) AS n_edges2"""
        for r in range(1, rounds + 1)
    )
    return f"""WITH {_EDGES_SQL},
       alive0 AS (SELECT DISTINCT src AS node FROM edges),
       {chain}
       SELECT * FROM ({sels}) ORDER BY round"""


def _k_core_rounds_table(spark, edges, k: int, rounds: int):
    """Shared peel loop of :func:`_k_core_peel_rounds` (factored out so
    the fixpoint short-circuit is testable on hand graphs): → DataFrame
    (round, n_nodes, n_edges2) for rounds 1..``rounds``."""
    cur = edges
    rows: list[tuple[int, int, int]] = []
    prev_nodes: int | None = None
    n_edges = 0
    for r in range(1, rounds + 1):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
        # bounded driver scalars: the ≤ `rounds`-row readout itself
        alive, n_nodes = pin_count(
            deg.filter(F.col("d") >= k).select(F.col("src").alias("node"))
        )
        if prev_nodes is not None and n_nodes == prev_nodes:
            rows.extend((j, n_nodes, n_edges) for j in range(r, rounds + 1))
            break
        cur, n_edges = pin_count(
            cur.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .select("src", "dst")
        )
        rows.append((r, n_nodes, n_edges))
        prev_nodes = n_nodes
    return spark.createDataFrame(
        rows, "round bigint, n_nodes bigint, n_edges2 bigint"
    ).orderBy("round")


@q("k_core_peel_rounds", _kcore_oracle_sql(8, 6))
def _k_core_peel_rounds(spark, sf_dir):
    """Bounded k-core decomposition (k=8): 6 synchronous peeling
    rounds — drop every node whose degree within the surviving
    subgraph is < 8, report surviving nodes and (directed symmetric)
    edges per round. The convergence readout a graph-cleaning pipeline
    checks before trusting core membership: equal consecutive rows =
    fixpoint reached (tests assert rounds 5 and 6 agree on this
    corpus).

    Carries the PEELED SUBGRAPH forward (r8-opt): round r's reported
    edge relation (edges among alive_r) IS round r+1's degree input,
    so each round runs ONE subgraph join pair — eagerly checkpointed,
    so the edge count, the next round's degree groupBy, and the alive
    filter all read the materialized rows instead of re-deriving from
    the full edge relation. The first cut joined the alive set against
    the FULL cached edges twice per round (degrees + edge count): 24
    joins / 121 Exchange nodes in one mega-plan, 19.7s at sf0.1; this
    shape is 12 joins split into 6 bounded plans (guide §2.4 remove
    shuffles outright, §3.3 materialize to truncate a growing
    iterative plan). The alive set is node-proportional, never
    broadcast by hand — AQE picks broadcast when its runtime size
    fits.

    Fixpoint cut-off: peeling only REMOVES nodes (alive_r ⊆
    alive_{r-1} — both endpoints of the degree input were already
    filtered to alive_{r-1}), so |alive_r| = |alive_{r-1}| proves SET
    equality, which makes every remaining round's row identical. The
    per-round counts are single bounded scalars (the readout itself),
    so checking them on the driver costs nothing extra, and converged
    rounds skip their subgraph join outright — on this corpus the k=8
    core converges at round 1 and 5 of 6 joins vanish. Worst case (a
    fresh peel every round) stays the full 6-join budget; at 100x the
    per-round cost is one fact-shaped join."""
    from redshells_spark.queries.text import _copurchase_edges

    return _k_core_rounds_table(
        spark, _copurchase_edges(spark, sf_dir), k=8, rounds=6
    )


# -------------------------------------------- rich-club coefficient


@q(
    "rich_club_coefficient",
    f"""WITH {_EDGES_SQL},
       deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
               FROM edges GROUP BY 1),
       ed AS (SELECT d0.d AS ds, d1.d AS dd
              FROM edges e
              JOIN deg d0 ON d0.node = e.src
              JOIN deg d1 ON d1.node = e.dst),
       ks AS (SELECT unnest([2, 4, 8, 16, 32]) AS k),
       rc AS (SELECT ks.k,
                     (SELECT CAST(count(*) AS BIGINT) FROM deg
                      WHERE deg.d > ks.k) AS n_nodes,
                     (SELECT CAST(count(*) AS BIGINT) FROM ed
                      WHERE ed.ds > ks.k AND ed.dd > ks.k) AS e2
              FROM ks)
       SELECT CAST(k AS BIGINT) AS k, n_nodes, e2 AS n_edges2,
              CAST(e2 * 1000000 // (n_nodes * (n_nodes - 1)) AS BIGINT)
                AS phi_e6
       FROM rc WHERE n_nodes >= 2 ORDER BY k""",
)
def _rich_club_coefficient(spark, sf_dir):
    """Rich-club coefficient ladder (Zhou & Mondragón 2004):
    phi(k) = 2·E_k / (N_k·(N_k−1)) over the subgraph of nodes with
    degree > k, for k in {2,4,8,16,32} — "do the hubs preferentially
    trade with each other?", the hub-interconnection profile that
    complements degree_assortativity's single global r. With the
    directed-symmetric edge count E2 = 2·E_k the ratio is the pure
    integer E2·1e6 div (N·(N−1)) — no float anywhere. One degree
    groupBy + one edge-degree join on the shared cached co-purchase
    relation; the k-ladder is a 5-row broadcast."""
    from redshells_spark.queries.text import _copurchase_deg, _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir)
    # shared cached degree relation (same groupBy graph_modularity
    # uses) — referenced three times below, built once per session/sf
    deg = _copurchase_deg(spark, sf_dir).select(
        F.col("src").alias("node"), F.col("deg").alias("d")
    )
    ed = (
        edges.join(deg.select(F.col("node").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("dd")), "dst")
        .select("ds", "dd")
    )
    ks = spark.createDataFrame([(2,), (4,), (8,), (16,), (32,)], "k long")
    nn = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    e2 = (
        ed.crossJoin(F.broadcast(ks))
        .filter((F.col("ds") > F.col("k")) & (F.col("dd") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges2"))
    )
    return (
        # LEFT join + 0 fill: a k whose rich club has ≥2 nodes but ZERO
        # surviving edges has no e2 group at all — the inner join
        # dropped those rows while the oracle keeps them with
        # n_edges2 = 0 (surfaced by the round-9 full differential at
        # sf0.001; sf0.01+ always has edges at every ladder rung)
        nn.join(e2, "k", "left")
        .na.fill({"n_edges2": 0})
        .filter(F.col("n_nodes") >= 2)
        .select(
            "k",
            "n_nodes",
            F.col("n_edges2").cast("long").alias("n_edges2"),
            F.expr(
                "cast(n_edges2 * 1000000 div (n_nodes * (n_nodes - 1)) as bigint)"
            ).alias("phi_e6"),
        )
        .orderBy("k")
    )
