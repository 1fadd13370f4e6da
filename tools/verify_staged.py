"""Bounded staged DuckDB twins for the oracle-resource graph rows.

VERDICT r11 #2: four queries (clustering_coefficient_copurchase,
itemset3_orders, kcore_copurchase, triangle_count_copurchase) were the
only oracle-paired rows never value-verified above sf0.01 — their
NAIVE single-statement DuckDB twins spill past the box's free disk or
grind unboundedly at 10x. Measured here: that is a property of
DuckDB's plan for the monolithic CTE pipeline, not of the math — the
SAME relations staged into temp tables execute in SECONDS with zero
spill (10x: graph staging 3 s, triangles 7.4 s over 411M wedges,
itemset3 1.5 s).

This tool runs each query's Spark leg (the declared plan, unchanged)
and a STAGED DuckDB twin that materializes the pipeline's
intermediates as temp tables before the final aggregate, then compares
value-exactly with the same normalize/compare as the parity gate.
Every value still comes from DuckDB executing SQL over the raw fixture
parquet — the staging only changes WHERE intermediates materialize, so
a value-exact verdict here carries the same independent-engine weight
as the naive oracle does at sf0.01.

Usage:
    python tools/verify_staged.py /tmp/sf1_synth --json parity_staged_10x.json
    python tools/verify_staged.py /tmp/sf3_synth triangle_count_copurchase
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.check_parity import compare, duck_connection  # noqa: E402


def _ensure_copurchase_base(con: duckdb.DuckDBPyConnection) -> None:
    """Distinct incidence, simple undirected edges, degrees — the base
    every co-purchase staged twin shares."""
    have = {r[0] for r in con.execute("SHOW TABLES").fetchall()}
    if "deg" in have:
        return
    con.execute(
        "CREATE TEMP TABLE items AS "
        "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"
    )
    con.execute(
        "CREATE TEMP TABLE und AS "
        "SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v "
        "FROM items a JOIN items b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    )
    con.execute(
        "CREATE TEMP TABLE deg AS "
        "SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM "
        "(SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und) "
        "GROUP BY node"
    )


def _ensure_copurchase_directed(con: duckdb.DuckDBPyConnection) -> None:
    """Directed distinct edge list + the top-degree anchor set the
    link-prediction twins share (equals the naive oracles' sedges /
    anchors CTEs: und is already the distinct u<v pair set, so its
    two-direction union IS DISTINCT(edges))."""
    _ensure_copurchase_base(con)
    have = {r[0] for r in con.execute("SHOW TABLES").fetchall()}
    if "sedges" in have:
        return
    con.execute(
        "CREATE TEMP TABLE sedges AS "
        "SELECT u AS src, v AS dst FROM und "
        "UNION ALL SELECT v AS src, u AS dst FROM und"
    )
    con.execute(
        "CREATE TEMP TABLE anchors AS "
        "SELECT node AS a, d FROM deg ORDER BY d DESC, node LIMIT 30"
    )


def _ensure_copurchase_graph(con: duckdb.DuckDBPyConnection) -> None:
    """Stage the shared co-purchase graph pipeline: distinct incidence,
    simple undirected edges, degrees, the (degree, id)-oriented edge
    list, and the degree-oriented triangle enumeration. Mirrors the
    naive oracles' CTEs (mlprep/evalops/integrity *_queries.py) table
    by table; materializing each step is what keeps DuckDB's memory
    bounded where the one-statement plan spilled."""
    _ensure_copurchase_base(con)
    have = {r[0] for r in con.execute("SHOW TABLES").fetchall()}
    if "tri" in have:
        return
    con.execute(
        """CREATE TEMP TABLE oriented AS
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END
                   AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END
                   AS dst,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END
                   AS ddeg
        FROM und e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v"""
    )
    con.execute(
        """CREATE TEMP TABLE tri AS
        SELECT w.src AS x, w.a AS y, w.b AS z
        FROM (SELECT o1.src, o1.dst AS a, o2.dst AS b
              FROM oriented o1 JOIN oriented o2
                ON o1.src = o2.src
               AND (o1.ddeg, o1.dst) < (o2.ddeg, o2.dst)) w
        JOIN oriented o3 ON o3.src = w.a AND o3.dst = w.b"""
    )


def staged_triangle_count(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    _ensure_copurchase_graph(con)
    return con.execute(
        """SELECT node AS part_key, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (SELECT x AS node FROM tri
              UNION ALL SELECT y AS node FROM tri
              UNION ALL SELECT z AS node FROM tri)
        GROUP BY node ORDER BY n_triangles DESC, part_key LIMIT 30"""
    ).df()


def staged_clustering_coefficient(
    con: duckdb.DuckDBPyConnection,
) -> pd.DataFrame:
    _ensure_copurchase_graph(con)
    return con.execute(
        """WITH pern AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS t
            FROM (SELECT x AS node FROM tri
                  UNION ALL SELECT y AS node FROM tri
                  UNION ALL SELECT z AS node FROM tri)
            GROUP BY node
        ), nd AS (
            SELECT deg.node, deg.d, COALESCE(pern.t, 0) AS t
            FROM deg LEFT JOIN pern ON deg.node = pern.node
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges,
               CAST(SUM(t) // 3 AS BIGINT) AS n_triangles,
               CAST(ROUND(CAST(SUM(t) AS DOUBLE)
                          / SUM(d * (d - 1)), 6) AS DOUBLE) AS transitivity,
               CAST(ROUND(CAST(SUM(CASE WHEN d >= 2 THEN
                       CAST(ROUND(CAST(2 * t AS DOUBLE) / (d * (d - 1)), 9)
                            AS DECIMAL(18,9)) END) AS DOUBLE)
                          / SUM(CAST(d >= 2 AS BIGINT)), 6) AS DOUBLE)
                   AS avg_local_coef
        FROM nd"""
    ).df()


def staged_itemset3(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    con.execute(
        "CREATE TEMP TABLE IF NOT EXISTS items3 AS "
        "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"
    )
    return con.execute(
        """SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM items3 a
        JOIN items3 b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
        JOIN items3 c ON a.l_orderkey = c.l_orderkey
                     AND b.l_partkey < c.l_partkey
        GROUP BY p1, p2, p3
        ORDER BY support DESC, p1, p2, p3 LIMIT 20"""
    ).df()


def staged_kcore(con: duckdb.DuckDBPyConnection, k: int = 100,
                 rounds: int = 3) -> pd.DataFrame:
    """The bounded peel, one temp table per round (the naive oracle
    re-derives every round inside one recursive statement and spills).
    k/rounds mirror integrity_queries._KCORE_K/_KCORE_ROUNDS."""
    _ensure_copurchase_graph(con)
    con.execute(
        "CREATE TEMP TABLE e_0 AS "
        "SELECT u AS src, v AS dst FROM und "
        "UNION ALL SELECT v AS src, u AS dst FROM und"
    )
    stats = []
    for i in range(1, rounds + 1):
        con.execute(
            f"""CREATE TEMP TABLE e_{i} AS
            WITH keep AS (
                SELECT src FROM e_{i - 1} GROUP BY src
                HAVING COUNT(*) >= {k}
            )
            SELECT e.src, e.dst FROM e_{i - 1} e
            JOIN keep a ON e.src = a.src
            JOIN keep b ON e.dst = b.src"""
        )
        stats.append(
            f"""SELECT CAST({i} AS BIGINT) AS round,
                   CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
                   CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
                   CAST(COALESCE(SUM(DISTINCT src), 0) AS BIGINT)
                       AS node_checksum
            FROM e_{i}"""
        )
    return con.execute(" UNION ALL ".join(stats) + " ORDER BY round").df()


def staged_khop(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    """3-round BFS frontier, one temp table per round (the naive twin
    nests the rounds inside one operator tree and spills; each round
    here is a bounded |frontier edges| join + MIN fold). The naive
    oracle's edges multiset reduces to sedges under MIN(hop)."""
    _ensure_copurchase_directed(con)
    con.execute(
        "CREATE TEMP TABLE kh_d0 AS "
        "SELECT node, CAST(0 AS BIGINT) AS hop FROM "
        "(SELECT DISTINCT src AS node FROM sedges) WHERE node % 100 = 0"
    )
    for i in (1, 2, 3):
        con.execute(
            f"""CREATE TEMP TABLE kh_d{i} AS
            SELECT node, CAST(MIN(hop) AS BIGINT) AS hop FROM (
                SELECT node, hop FROM kh_d{i - 1}
                UNION ALL
                SELECT e.dst AS node, p.hop + 1 AS hop
                FROM sedges e JOIN kh_d{i - 1} p ON e.src = p.node) t
            GROUP BY node"""
        )
    return con.execute(
        "SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes, "
        "CAST(SUM(node) AS BIGINT) AS node_checksum "
        "FROM kh_d3 GROUP BY hop ORDER BY hop"
    ).df()


def staged_cheapest_path(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    """3-round min-plus relaxation over weighted co-purchase edges,
    one temp table per round (mirrors integrity's d0..d3 CTEs; weights
    from the pair-count table, cost duplicates irrelevant under MIN)."""
    _ensure_copurchase_base(con)
    con.execute(
        "CREATE TEMP TABLE cp_pw AS "
        "SELECT a.l_partkey AS u, b.l_partkey AS v, "
        "CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM items a JOIN items b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        "GROUP BY 1, 2"
    )
    con.execute(
        "CREATE TEMP TABLE cp_edges AS "
        "SELECT u AS src, v AS dst, CAST(101 - LEAST(CAST(100 AS BIGINT),"
        " cnt) AS BIGINT) AS cost FROM cp_pw "
        "UNION ALL SELECT v, u, CAST(101 - LEAST(CAST(100 AS BIGINT),"
        " cnt) AS BIGINT) FROM cp_pw"
    )
    con.execute(
        "CREATE TEMP TABLE cp_d0 AS "
        "SELECT node, CAST(0 AS BIGINT) AS dist FROM "
        "(SELECT DISTINCT src AS node FROM cp_edges) WHERE node % 100 = 0"
    )
    for i in (1, 2, 3):
        con.execute(
            f"""CREATE TEMP TABLE cp_d{i} AS
            SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
                SELECT node, dist FROM cp_d{i - 1}
                UNION ALL
                SELECT e.dst AS node, p.dist + e.cost AS dist
                FROM cp_edges e JOIN cp_d{i - 1} p ON e.src = p.node) t
            GROUP BY node"""
        )
    return con.execute(
        "SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes, "
        "CAST(SUM(node) AS BIGINT) AS node_checksum "
        "FROM cp_d3 GROUP BY dist ORDER BY dist"
    ).df()


def staged_reach_2hop(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    _ensure_copurchase_directed(con)
    con.execute(
        "CREATE TEMP TABLE r2_na AS "
        "SELECT an.a, an.d, e.dst AS z FROM anchors an "
        "JOIN sedges e ON e.src = an.a"
    )
    con.execute(
        "CREATE TEMP TABLE r2_two AS "
        "SELECT DISTINCT na.a, e2.dst AS v "
        "FROM r2_na na JOIN sedges e2 ON e2.src = na.z "
        "WHERE e2.dst <> na.a"
    )
    return con.execute(
        """WITH strict2 AS (
            SELECT t.a, CAST(COUNT(*) AS BIGINT) AS n2
            FROM r2_two t
            LEFT JOIN r2_na nb ON nb.a = t.a AND nb.z = t.v
            WHERE nb.z IS NULL
            GROUP BY t.a
        )
        SELECT an.a AS part_key, an.d AS n_1hop,
               COALESCE(s.n2, 0) AS n_2hop_strict,
               an.d + COALESCE(s.n2, 0) AS reach,
               CAST(ROUND(CAST(COALESCE(s.n2, 0) AS DOUBLE)
                          / an.d, 6) AS DOUBLE) AS expansion
        FROM anchors an LEFT JOIN strict2 s ON an.a = s.a
        ORDER BY reach DESC, part_key"""
    ).df()


def staged_adamic_adar(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    _ensure_copurchase_directed(con)
    con.execute(
        "CREATE TEMP TABLE aa_na AS "
        "SELECT an.a, e.dst AS z FROM anchors an "
        "JOIN sedges e ON e.src = an.a"
    )
    con.execute(
        "CREATE TEMP TABLE aa_wedge AS "
        "SELECT na.a, e2.dst AS v, na.z "
        "FROM aa_na na JOIN sedges e2 ON e2.src = na.z "
        "WHERE e2.dst <> na.a"
    )
    return con.execute(
        """WITH cand AS (
            SELECT w.a, w.v, w.z FROM aa_wedge w
            LEFT JOIN aa_na nb ON nb.a = w.a AND nb.z = w.v
            WHERE nb.z IS NULL
        ), aa AS (
            SELECT c.a, c.v, CAST(COUNT(*) AS BIGINT) AS n_common,
                   CAST(SUM(CAST(ROUND(1.0 / LN(d.d), 9)
                                 AS DECIMAL(18,9))) AS DECIMAL(38,9))
                       AS aa_exact
            FROM cand c JOIN deg d ON c.z = d.node
            GROUP BY 1, 2
        )
        SELECT a AS anchor, v AS candidate, n_common,
               CAST(ROUND(CAST(aa_exact AS DOUBLE), 6) AS DOUBLE)
                   AS aa_score
        FROM aa ORDER BY aa_exact DESC, a, v LIMIT 30"""
    ).df()


def staged_label_prop(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    """2 synchronous label-propagation rounds, one (votes, best, state)
    temp-table triple per round — the naive twin re-derives the whole
    vote pipeline per round inside one statement."""
    _ensure_copurchase_directed(con)
    con.execute(
        "CREATE TEMP TABLE lp_nodes AS "
        "SELECT d.node AS node, "
        "CASE WHEN d.node % 3 = 0 THEN 1 ELSE 0 END AS seeded, "
        "CASE WHEN d.node % 3 = 0 THEN p.p_brand END AS seed_label "
        "FROM deg d JOIN part p ON d.node = p.p_partkey"
    )
    con.execute(
        "CREATE TEMP TABLE lp_l0 AS "
        "SELECT node, seeded, seed_label AS label FROM lp_nodes"
    )
    for i in (1, 2):
        con.execute(
            f"""CREATE TEMP TABLE lp_l{i} AS
            WITH v AS (
                SELECT e.dst AS node, l.label,
                       CAST(COUNT(*) AS BIGINT) AS votes
                FROM sedges e JOIN lp_l{i - 1} l ON e.src = l.node
                WHERE l.label IS NOT NULL
                GROUP BY 1, 2
            ), b AS (
                SELECT node, label FROM (
                    SELECT node, label,
                           row_number() OVER (PARTITION BY node
                                ORDER BY votes DESC, label) AS rn
                    FROM v) WHERE rn = 1
            )
            SELECT n.node, n.seeded,
                   CASE WHEN n.seeded = 1 THEN n.seed_label
                        ELSE b.label END AS label
            FROM lp_nodes n LEFT JOIN b ON n.node = b.node"""
        )
    return con.execute(
        "SELECT COALESCE(label, '(unlabeled)') AS label, "
        "CAST(COUNT(*) AS BIGINT) AS n_parts, "
        "CAST(SUM(seeded) AS BIGINT) AS n_seeds "
        "FROM lp_l2 GROUP BY 1 ORDER BY 1"
    ).df()


def staged_pagerank(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    """2 fixed-point power-iteration rounds over the MULTISET edge
    list (parallel co-purchase edges weight the flow — the naive twin
    uses the non-distinct pairs, so the staged twin must too), one
    temp table per round."""
    _ensure_copurchase_base(con)
    con.execute(
        "CREATE TEMP TABLE pg_edges AS "
        "WITH pairs AS (SELECT a.l_partkey AS u, b.l_partkey AS v "
        "FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey < b.l_partkey) "
        "SELECT u AS src, v AS dst FROM pairs "
        "UNION ALL SELECT v, u FROM pairs"
    )
    con.execute(
        "CREATE TEMP TABLE pg_deg AS SELECT src, "
        "CAST(COUNT(*) AS BIGINT) AS outdeg FROM pg_edges GROUP BY src"
    )
    n = con.execute("SELECT COUNT(*) FROM pg_deg").fetchone()[0]
    con.execute(
        f"CREATE TEMP TABLE pg_pr0 AS SELECT src AS node, "
        f"CAST(1000000000000000 // {n} AS BIGINT) AS rank_fp FROM pg_deg"
    )
    for i in (1, 2):
        con.execute(
            f"""CREATE TEMP TABLE pg_pr{i} AS
            SELECT e.dst AS node,
                   CAST((100 - 85) * 1000000000000000 // (100 * {n})
                        + (SUM(p.rank_fp // d.outdeg) * 85) // 100
                        AS BIGINT) AS rank_fp
            FROM pg_edges e
            JOIN pg_pr{i - 1} p ON e.src = p.node
            JOIN pg_deg d ON e.src = d.src
            GROUP BY e.dst"""
        )
    return con.execute(
        "SELECT node AS part_key, rank_fp, "
        "CAST(CAST(rank_fp AS DOUBLE) / 1e15 AS DOUBLE) AS pagerank "
        "FROM pg_pr2 ORDER BY rank_fp DESC, part_key LIMIT 30"
    ).df()


def staged_ppr(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    """2 personalized-pagerank rounds from the min-id seed over the
    DISTINCT edge list, teleport mass re-injected per round."""
    _ensure_copurchase_directed(con)
    con.execute(
        "CREATE TEMP TABLE pp_deg AS SELECT src, "
        "CAST(COUNT(*) AS BIGINT) AS outdeg FROM sedges GROUP BY src"
    )
    seed = con.execute("SELECT MIN(src) FROM sedges").fetchone()[0]
    con.execute(
        f"CREATE TEMP TABLE pp_r0 AS SELECT {seed} AS node, "
        f"CAST(1000000000000000 AS BIGINT) AS rank_fp"
    )
    for i in (1, 2):
        con.execute(
            f"""CREATE TEMP TABLE pp_r{i} AS
            SELECT node, CAST(SUM(rank_fp) AS BIGINT) AS rank_fp FROM (
                SELECT {seed} AS node,
                       CAST(15 * 1000000000000000 // 100 AS BIGINT)
                           AS rank_fp
                UNION ALL
                SELECT e.dst AS node,
                       (r.rank_fp // d.outdeg) * 85 // 100 AS rank_fp
                FROM sedges e
                JOIN pp_r{i - 1} r ON e.src = r.node
                JOIN pp_deg d ON e.src = d.src
            ) GROUP BY node"""
        )
    return con.execute(
        "SELECT node AS part_key, rank_fp, "
        "CAST(CAST(rank_fp AS DOUBLE) / 1e15 AS DOUBLE) AS ppr "
        "FROM pp_r2 ORDER BY rank_fp DESC, part_key LIMIT 30"
    ).df()


def staged_mutual_best_match(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    """The quadratic bitext-mining twin, blocked by va-bucket: the
    one-statement twin's GROUP BY over ~N^2 * dim ordered-pair product
    rows spills past free disk at 30x; per-va top-1 only needs ALL vb
    for each va, so bucketing va partitions the work exactly — each of
    the 16 buckets aggregates 1/16th of the pair space in RAM, best
    rows accumulate into one |anchors|-row table, and the reciprocity
    join runs over that tiny table. Same quantized grid, same
    (dot DESC, vb) tie-break as the naive oracle."""
    con.execute(
        "CREATE TEMP TABLE mb_qd AS "
        "SELECT vec_id, d.d, "
        "CAST(ROUND(CAST(embedding[d.d] AS DOUBLE) * 1000000) AS BIGINT)"
        " AS q FROM embeddings "
        "CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) d "
        "WHERE vec_id % 5 = 0"
    )
    con.execute("CREATE TEMP TABLE mb_best (va BIGINT, vb BIGINT, dot BIGINT)")
    n_buckets = 16
    for b in range(n_buckets):
        con.execute(
            f"""INSERT INTO mb_best
            SELECT va, vb, dot FROM (
                SELECT va, vb, dot,
                       row_number() OVER (PARTITION BY va
                                          ORDER BY dot DESC, vb) AS rn
                FROM (
                    SELECT a.vec_id AS va, b2.vec_id AS vb,
                           CAST(SUM(a.q * b2.q) AS BIGINT) AS dot
                    FROM mb_qd a JOIN mb_qd b2
                      ON a.d = b2.d AND a.vec_id <> b2.vec_id
                    WHERE (a.vec_id // 5) % {n_buckets} = {b}
                    GROUP BY 1, 2)
            ) WHERE rn = 1"""
        )
    return con.execute(
        """SELECT x.va AS vec_a, x.vb AS vec_b, x.dot AS dot_q
        FROM mb_best x JOIN mb_best y ON x.vb = y.va AND y.vb = x.va
        WHERE x.va < x.vb ORDER BY vec_a"""
    ).df()


def staged_temporal_reach(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    """3-round earliest-arrival relaxation over the timestamped
    co-purchase graph, one temp table per round (mirrors horizon's
    r0..r3 CTEs; the naive twin nests the rounds inside one operator
    tree over the t-stamped edge multiset and spills past free disk at
    30x after 460 s). Each round here is one bounded
    |ball| x tedges join with the time predicate + a MIN fold."""
    con.execute(
        "CREATE TEMP TABLE tr_items AS "
        "SELECT DISTINCT l.l_orderkey, l.l_partkey, "
        "date_diff('day', DATE '1970-01-01', "
        "CAST(o.o_orderdate AS DATE)) AS t "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
    )
    con.execute(
        "CREATE TEMP TABLE tr_pairs AS "
        "SELECT a.l_partkey AS u, b.l_partkey AS v, a.t "
        "FROM tr_items a JOIN tr_items b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    )
    con.execute(
        "CREATE TEMP TABLE tr_tedges AS "
        "SELECT DISTINCT u AS src, v AS dst, t FROM tr_pairs "
        "UNION SELECT DISTINCT v AS src, u AS dst, t FROM tr_pairs"
    )
    con.execute(
        "CREATE TEMP TABLE tr_r0 AS "
        "SELECT node, CAST(0 AS BIGINT) AS arrival FROM "
        "(SELECT MIN(src) AS node FROM tr_tedges)"
    )
    for i in (1, 2, 3):
        con.execute(
            f"""CREATE TEMP TABLE tr_r{i} AS
            SELECT node, CAST(MIN(arrival) AS BIGINT) AS arrival FROM (
                SELECT node, arrival FROM tr_r{i - 1}
                UNION ALL
                SELECT e.dst AS node, e.t AS arrival
                FROM tr_tedges e JOIN tr_r{i - 1} p ON e.src = p.node
                WHERE e.t >= p.arrival) t
            GROUP BY node"""
        )
    return con.execute(
        "SELECT node AS part_key, arrival AS arrival_day "
        "FROM tr_r3 ORDER BY arrival, part_key LIMIT 30"
    ).df()


def staged_golden_record(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    """The ER stack (detect + cluster + fuse) staged: the fuzzy-match
    block join materializes once, and the recursive reachability CTE —
    whose frontier product is what spills at 30x — becomes a
    min-label-propagation loop to fixpoint over temp tables (the same
    component labels: min reachable id). Fusion aggregates unchanged."""
    con.execute(
        "CREATE TEMP TABLE gr_vpairs AS "
        "SELECT a.p_partkey AS u, b.p_partkey AS v "
        "FROM part a JOIN part b "
        "ON a.p_brand = b.p_brand AND a.p_size = b.p_size "
        "AND a.p_partkey < b.p_partkey "
        "WHERE levenshtein(a.p_name, b.p_name) <= 5"
    )
    con.execute(
        "CREATE TEMP TABLE gr_e AS SELECT u, v FROM gr_vpairs "
        "UNION ALL SELECT v, u FROM gr_vpairs"
    )
    con.execute(
        "CREATE TEMP TABLE gr_l0 AS "
        "SELECT DISTINCT u AS node, u AS lbl FROM gr_e"
    )
    i = 0
    while True:
        i += 1
        con.execute(
            f"""CREATE TEMP TABLE gr_l{i} AS
            SELECT node, MIN(lbl) AS lbl FROM (
                SELECT node, lbl FROM gr_l{i - 1}
                UNION ALL
                SELECT e.v AS node, l.lbl
                FROM gr_e e JOIN gr_l{i - 1} l ON e.u = l.node) t
            GROUP BY node"""
        )
        changed = con.execute(
            f"SELECT COUNT(*) FROM gr_l{i} a JOIN gr_l{i - 1} b "
            f"USING (node) WHERE a.lbl <> b.lbl"
        ).fetchone()[0]
        if changed == 0 or i > 60:
            break
    con.execute(f"CREATE TEMP TABLE gr_comp AS SELECT node AS p_partkey, "
                f"CAST(lbl AS BIGINT) AS cluster FROM gr_l{i}")
    return con.execute(
        """WITH members AS (
            SELECT c.cluster, p.p_partkey, p.p_name, p.p_type,
                   CAST(ROUND(p.p_retailprice * 100) AS BIGINT) AS cents
            FROM gr_comp c JOIN part p ON c.p_partkey = p.p_partkey
        ), type_votes AS (
            SELECT cluster, p_type, CAST(COUNT(*) AS BIGINT) AS votes
            FROM members GROUP BY 1, 2
        ), fused_type AS (
            SELECT cluster, p_type AS canonical_type FROM (
                SELECT cluster, p_type,
                       row_number() OVER (PARTITION BY cluster
                           ORDER BY votes DESC, p_type) AS rn
                FROM type_votes) WHERE rn = 1
        ), fused_name AS (
            SELECT cluster, p_name AS canonical_name FROM (
                SELECT cluster, p_name,
                       row_number() OVER (PARTITION BY cluster
                           ORDER BY length(p_name) DESC, p_name) AS rn
                FROM members) WHERE rn = 1
        )
        SELECT m.cluster,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               MAX(ft.canonical_type) AS canonical_type,
               MAX(fn.canonical_name) AS canonical_name,
               CAST(MIN(m.cents) AS BIGINT) AS min_cents,
               CAST(MAX(m.cents) AS BIGINT) AS max_cents,
               CAST(MAX(m.cents) - MIN(m.cents) AS BIGINT)
                   AS price_spread_cents
        FROM members m
        JOIN fused_type ft ON m.cluster = ft.cluster
        JOIN fused_name fn ON m.cluster = fn.cluster
        GROUP BY m.cluster
        HAVING COUNT(*) >= 2
        ORDER BY m.cluster"""
    ).df()


STAGED = {
    "triangle_count_copurchase": staged_triangle_count,
    "clustering_coefficient_copurchase": staged_clustering_coefficient,
    "itemset3_orders": staged_itemset3,
    "kcore_copurchase": staged_kcore,
    "khop_copurchase_reach": staged_khop,
    "cheapest_path_copurchase": staged_cheapest_path,
    "reach_2hop_parts": staged_reach_2hop,
    "adamic_adar_linkpred": staged_adamic_adar,
    "label_prop_brands": staged_label_prop,
    "pagerank_copurchase": staged_pagerank,
    "ppr_seed_part": staged_ppr,
    "mutual_best_match": staged_mutual_best_match,
    "golden_record_fusion": staged_golden_record,
    "temporal_reach_parts": staged_temporal_reach,
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*", help="subset (default: all 4)")
    ap.add_argument("--json", dest="json_out", default=None)
    ap.add_argument("--oracle-threads", type=int, default=16)
    ap.add_argument("--oracle-memory", default="24GB")
    ap.add_argument("--temp-dir", default="/tmp/duck_spill")
    args = ap.parse_args(argv)

    from data_engineering_1_spark.plans import registry
    from data_engineering_1_spark.session import get_spark

    spark = get_spark(
        "staged-verify", extra_conf={"spark.driver.maxResultSize": "4g"}
    )
    queries = registry.get_queries()
    todo = args.queries or sorted(STAGED)
    records, failed = [], []

    def _save() -> None:
        if not args.json_out:
            return
        payload = {
            "sf_dir": os.path.realpath(args.sf_dir),
            "method": (
                "staged DuckDB twins: same relations as the naive "
                "declared oracles, intermediates materialized as temp "
                "tables (bounded memory); value-exact compare via the "
                "parity gate's normalize/compare"
            ),
            "oracle_caps": {
                "threads": args.oracle_threads,
                "memory_limit": args.oracle_memory,
            },
            "records": records,
        }
        with open(args.json_out, "w") as fh:
            json.dump(payload, fh, indent=1)

    for name in todo:
        if name not in STAGED:
            print(f"[skip] {name}: no staged twin")
            continue
        # fresh connection per query: temp-table staging must not leak
        # a stale graph between fixtures/queries
        con = duck_connection(
            args.sf_dir,
            threads=args.oracle_threads,
            memory=args.oracle_memory,
            temp_dir=args.temp_dir,
        )
        t0 = time.time()
        sdf = queries[name](spark, args.sf_dir).toPandas()
        spark_sec = round(time.time() - t0, 1)
        t1 = time.time()
        ddf = STAGED[name](con)
        oracle_sec = round(time.time() - t1, 1)
        problems = compare(name, sdf, ddf)
        hard = [p for p in problems if not p.startswith("dtype-diff")]
        verdict = "ok" if not hard else "value_mismatch"
        if hard:
            failed.append(name)
            print(f"[FAIL] {name}")
            for p in problems:
                print(f"       - {p}")
        else:
            print(
                f"[ok]   {name}: {len(sdf)} rows value-exact "
                f"(spark {spark_sec}s, staged oracle {oracle_sec}s)"
            )
        records.append(
            {
                "query": name,
                "verdict": verdict,
                "oracle": "staged-temp-tables",
                "rows": len(sdf),
                "spark_sec": spark_sec,
                "oracle_sec": oracle_sec,
                **({"problems": hard[:5]} if hard else {}),
            }
        )
        _save()  # per-query: a crash mid-run keeps finished verdicts
        con.close()
    if args.json_out:
        print(f"wrote {args.json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
