"""Round-6 corpus-integrity batch (X179-X184) vs independent
pure-Python references — same discipline as test_instrument_queries.py."""

from __future__ import annotations

import collections
import hashlib
import itertools
import math
import re

import numpy as np

from data_engineering_1_spark.io import load_table
from data_engineering_1_spark.plans import registry
from data_engineering_1_spark.plans.integrity_queries import (
    _KCORE_K,
    _KCORE_ROUNDS,
    _MBM_Q,
)


def _q(name, spark, sf_dir):
    return registry.get_queries()[name](spark, sf_dir).toPandas()


def _bridge(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _tokens(text: str) -> list[str]:
    return re.split(r"\s+", text.strip().lower())


def _split_of(doc_id: int) -> str:
    b = _bridge(f"split|{doc_id}") % 10000
    return "test" if b < 1000 else ("val" if b < 2000 else "train")


def _neardup_pairs(docs):
    """MinHash-LSH candidates -> token-set Jaccard >= 0.8, the E7 path."""
    toks = {r.doc_id: set(_tokens(r.text)) for r in docs.itertuples()}
    sh = {
        did: {
            " ".join(t[i : i + 3])
            for t in [_tokens(docs.set_index("doc_id").loc[did].text)]
            for i in range(len(t) - 2)
        }
        for did in toks
    }
    sig = collections.defaultdict(set)
    for did, ss in sh.items():
        if not ss:
            continue
        for band in range(4):
            mins = [
                min(
                    hashlib.md5(f"{band}|{j}|{s}".encode()).hexdigest()
                    for s in ss
                )
                for j in range(2)
            ]
            sig[(band, "|".join(mins))].add(did)
    pairs = set()
    for ids in sig.values():
        for a, b in itertools.combinations(sorted(ids), 2):
            ta, tb = toks[a], toks[b]
            inter = len(ta & tb)
            if round(inter / (len(ta) + len(tb) - inter), 6) >= 0.8:
                pairs.add((a, b))
    return pairs


# ---- X179 split_leakage_audit -----------------------------------------


def test_leakage_audit_matches_union_find(spark, sf_dir):
    out = _q("split_leakage_audit", spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").toPandas()
    pairs = _neardup_pairs(docs)
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a), parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = collections.defaultdict(set)
    for n in parent:
        clusters[find(n)].add(n)
    want = {
        comp: (
            len(members),
            len({_split_of(d) for d in members}),
        )
        for comp, members in clusters.items()
        if len(members) >= 2
    }
    assert len(out) == len(want)
    for r in out.itertuples():
        size, nsp = want[r.component]
        assert int(r.cluster_size) == size
        assert int(r.n_splits_spanned) == nsp
        assert bool(r.leaks) == (nsp > 1)
    # the audit has teeth on this fixture: at least one cluster leaks
    assert out.leaks.any()


# ---- X180 bot_user_audit ----------------------------------------------


def test_bot_audit_matches_pandas(spark, sf_dir):
    out = _q("bot_user_audit", spark, sf_dir).set_index("user_id")
    ev = load_table(spark, sf_dir, "events").toPandas()
    for uid, g in ev.groupby("user_id"):
        n = len(g)
        span_us = int(
            (g.ts.max() - g.ts.min()).total_seconds() * 1_000_000
        )
        ntypes = g.event_type.nunique()
        nerr = int((g.event_type == "error").sum())
        top = int(g.event_type.value_counts().max())
        if n * 3600000000 > max(span_us, 1000000) * 600:
            want = "rate_anomaly"
        elif ntypes == 1 and n >= 20:
            want = "single_type"
        elif 5 * nerr > n:
            want = "error_heavy"
        elif 3 * top > 2 * n:
            want = "type_dominated"
        else:
            want = "ok"
        row = out.loc[uid]
        assert int(row.n_events) == n
        assert int(row.n_types) == ntypes
        assert int(row.n_errors) == nerr
        assert int(row.top_type_n) == top
        assert row.verdict == want, uid
    # rule ladder is non-degenerate: both 'ok' and flagged users exist
    assert (out.verdict == "ok").any() and (out.verdict != "ok").any()


# ---- X181 fano_burstiness_events --------------------------------------


def test_fano_matches_numpy(spark, sf_dir):
    out = _q("fano_burstiness_events", spark, sf_dir).set_index(
        "event_type"
    )
    ev = load_table(spark, sf_dir, "events").toPandas()
    for et, g in ev.groupby("event_type"):
        daily = g.groupby(g.ts.dt.normalize()).size().values.astype(
            np.float64
        )
        fano = daily.var() / daily.mean()  # population variance
        row = out.loc[et]
        assert int(row.n_days) == len(daily)
        assert int(row.n_events) == int(daily.sum())
        assert math.isclose(row.fano, fano, abs_tol=1e-5)
        assert bool(row.bursty) == (fano > 1), et


# ---- X182 post_stratified_spend ---------------------------------------


def test_post_stratified_matches_exact(spark, sf_dir):
    out = _q("post_stratified_spend", spark, sf_dir).iloc[0]
    c = load_table(spark, sf_dir, "customer").toPandas()
    o = load_table(spark, sf_dir, "orders").toPandas()
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["cents"] = (j.o_totalprice * 100).round().astype(np.int64)
    pop = c.c_mktsegment.value_counts()
    naive = j.cents.sum() / len(j) / 100
    terms = 0.0
    for seg, g in j.groupby("c_mktsegment"):
        terms += round(int(pop[seg]) * int(g.cents.sum()) / len(g), 9)
    adj = terms / int(pop.sum()) / 100
    assert int(out.n_segments) == j.c_mktsegment.nunique()
    assert int(out.n_orders) == len(j)
    assert math.isclose(out.naive_mean_spend, round(naive, 6), abs_tol=1e-6)
    assert math.isclose(
        out.post_stratified_mean_spend, round(adj, 6), abs_tol=1e-6
    )


# ---- X183 kcore_copurchase --------------------------------------------


def test_kcore_matches_pure_python_peeling(spark, sf_dir):
    out = _q("kcore_copurchase", spark, sf_dir).set_index("round")
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    adj = collections.defaultdict(set)
    for _, g in li.groupby("l_orderkey"):
        for u, v in itertools.combinations(sorted(set(g.l_partkey)), 2):
            adj[u].add(v)
            adj[v].add(u)
    for rnd in range(1, _KCORE_ROUNDS + 1):
        keep = {n for n, nb in adj.items() if len(nb) >= _KCORE_K}
        adj = {
            n: {m for m in nb if m in keep}
            for n, nb in adj.items()
            if n in keep
        }
        # nodes with all neighbors peeled still count while they have
        # any surviving edge; edge-relation semantics: src appears iff
        # it has >= 1 edge
        nodes = {n for n, nb in adj.items() if nb}
        n_edges = sum(len(nb) for nb in adj.values())
        row = out.loc[rnd]
        assert int(row.n_nodes) == len(nodes), rnd
        assert int(row.n_directed_edges) == n_edges, rnd
        assert int(row.node_checksum) == sum(nodes), rnd
    # peeling actually removes something on this fixture
    first = out.loc[1]
    full_nodes = len(
        {
            u
            for _, g in li.groupby("l_orderkey")
            for u in set(g.l_partkey)
        }
    )
    assert int(first.n_nodes) < full_nodes


def test_kcore_rounds_carry_node_sized_state(spark, sf_dir):
    """r8 state discipline + r9 resource discipline: kcore_peel
    checkpoints only the <= |V|-row survivor NODE set per round, and
    (ADVICE r8) unpersists its internal repartitioned working copy
    before returning — the returned round views join the CALLER's edge
    relation against the checkpointed survivor tables (Scan
    ExistingRDD). Pinned: (a) no persisted RDD leaks across the call,
    (b) rounds read ExistingRDD survivors and no leftover cached
    working copy (InMemoryTableScan) — with no eager |E|-row edge
    checkpoint."""
    from data_engineering_1_spark.operators.graph import kcore_peel

    und = spark.createDataFrame(
        [(i, j) for i in range(1, 8) for j in range(i + 1, 8)],
        "u int, v int",
    )
    edges = und.selectExpr("u as src", "v as dst").unionByName(
        und.selectExpr("v as src", "u as dst")
    )
    def persisted_ids() -> set[int]:
        m = spark.sparkContext._jsc.getPersistentRDDs()  # java.util.Map
        return {int(k) for k in m.keySet().toArray()}

    before = persisted_ids()
    rounds = kcore_peel(edges, k=3, rounds=2)
    # the internal repartitioned copy must be unpersisted on return.
    # localCheckpoint registers one persisted RDD per survivor set (2
    # rounds here) — those are vertex-sized and reclaimed with the
    # returned views; the |E|-row working copy must NOT be among the
    # survivors of the call (pre-fix this set had 2 + 1 new entries).
    assert len(persisted_ids() - before) <= 2
    for e in rounds:
        plan = e._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan  # working copy released
        assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
        # and the view is still correct data: K7 survives k=3 fully
        assert e.count() == 42
    # survivor-set semantics survive an actual peel: on a 7-clique with
    # one pendant node attached, the pendant dies in round 1
    und2 = und.unionByName(
        spark.createDataFrame([(1, 99)], "u int, v int")
    )
    edges2 = und2.selectExpr("u as src", "v as dst").unionByName(
        und2.selectExpr("v as src", "u as dst")
    )
    r1, r2 = kcore_peel(edges2, k=3, rounds=2)
    survivors = {r.src for r in r1.select("src").distinct().collect()}
    assert 99 not in survivors and survivors == set(range(1, 8))


# ---- X184 mutual_best_match -------------------------------------------


def test_mutual_best_match_matches_numpy(spark, sf_dir):
    out = _q("mutual_best_match", spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    emb = emb[emb.vec_id % 5 == 0]
    ids = emb.vec_id.values
    q = np.array(
        [
            [
                int(math.floor(float(v) * _MBM_Q + 0.5))
                if float(v) >= 0
                else -int(math.floor(-float(v) * _MBM_Q + 0.5))
                for v in e
            ]
            for e in emb.embedding
        ],
        dtype=np.int64,
    )
    dots = q @ q.T
    best = {}
    for i, vid in enumerate(ids):
        order = sorted(
            (j for j in range(len(ids)) if j != i),
            key=lambda j: (-dots[i, j], ids[j]),
        )
        best[vid] = (ids[order[0]], int(dots[i, order[0]]))
    want = {
        (a, best[a][0], best[a][1])
        for a in best
        if best[best[a][0]][0] == a and a < best[a][0]
    }
    got = {(r.vec_a, r.vec_b, int(r.dot_q)) for r in out.itertuples()}
    assert got == want
    assert len(got) > 0  # non-degenerate on this fixture
