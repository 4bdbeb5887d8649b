"""J10 connected components vs a single-machine union-find golden."""

from neuroner_spark.fixtures.gen import sameas_df
from neuroner_spark.operators.components import connected_components


def test_connected_components_matches_union_find(spark):
    edges, golden = sameas_df(spark, n_clusters=30)
    edge_rows = edges.collect()
    nodes_in_edges = {r["src"] for r in edge_rows} | {r["dst"] for r in edge_rows}
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert set(got) == nodes_in_edges
    for node, comp in got.items():
        assert comp == golden[node], (node, comp, golden[node])


def test_two_triangles_and_chain(spark):
    rows = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21), (21, 22), (22, 23), (23, 24)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20, 22: 20, 23: 20, 24: 20,
    }


def test_canonical_map_distributed_fallback_matches_unionfind(spark):
    """small_threshold=0 forces the distributed large-star/small-star
    path; its output must equal the driver union-find's exactly."""
    from neuroner_spark.fixtures.gen import alias_df
    from neuroner_spark.plans.kg_pipeline import canonical_map

    aliases = alias_df(spark)
    fast = {(r["entity_id"], r["canonical_id"]) for r in canonical_map(aliases).collect()}
    dist = {
        (r["entity_id"], r["canonical_id"])
        for r in canonical_map(aliases, small_threshold=0).collect()
    }
    assert fast == dist and len(fast) > 0


def test_cc_driver_fast_path_matches_star_loop(spark):
    """r6 small_threshold driver union-find vs the forced distributed
    star loop: identical (node, component) output — including self
    loops (node must still appear) and the min-root invariant."""
    edges, golden = sameas_df(spark, n_clusters=40)
    with_self = edges.union(
        spark.createDataFrame([(999_999, 999_999)], "src long, dst long")
    )
    log_fast, log_dist = [], []
    fast = {
        (r["node"], r["component"])
        for r in connected_components(with_self, iteration_log=log_fast).collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in connected_components(
            with_self, iteration_log=log_dist, small_threshold=0
        ).collect()
    }
    assert fast == dist and (999_999, 999_999) in fast
    # the fast path really ran driver-side, the forced path really looped
    assert len(log_fast) == 1 and log_fast[0].get("mode") == "driver"
    assert len(log_dist) >= 1 and "mode" not in log_dist[0]


def test_cc_releases_what_its_result_does_not_read(spark, new_pinned):
    """The driver fast path frees its edge checkpoint; the star loop
    frees every round's checkpoint but the last, which its result
    still reads along with the edge checkpoint."""
    import random

    nodes = list(range(200))
    random.Random(0).shuffle(nodes)
    chain = spark.createDataFrame(list(zip(nodes, nodes[1:])), "src long, dst long")
    assert {r["component"] for r in connected_components(chain).collect()} == {0}
    assert not new_pinned(0)
    log: list = []
    loop = connected_components(chain, iteration_log=log, small_threshold=0)
    assert {r["component"] for r in loop.collect()} == {0}
    assert len(log) >= 3
    assert len(new_pinned(2)) <= 2


def _merge(spark, prior_rows, edge_rows):
    from neuroner_spark.operators.components import merge_canonical_snapshots

    prior = spark.createDataFrame(
        prior_rows or [], "entity_id long, canonical_id long"
    )
    edges = spark.createDataFrame(edge_rows or [], "src long, dst long")
    out = merge_canonical_snapshots(prior, edges)
    return (
        {r["entity_id"]: r["canonical_id"] for r in out["mapping"].collect()},
        {(r["old_canonical_id"], r["canonical_id"]) for r in out["superseded"].collect()},
    )


def test_merge_canonical_fresh_issue(spark):
    """Empty prior: fresh labels are component minima (canonical_map
    convention); nothing superseded."""
    mapping, superseded = _merge(spark, [], [(10, 11), (20, 21)])
    assert mapping == {10: 10, 11: 10, 20: 20, 21: 20}
    assert superseded == set()


def test_merge_canonical_stability_and_supersede(spark):
    """New evidence merges two issued components -> the OLDER issued id
    wins, the younger is recorded superseded; untouched components keep
    their labels byte-for-byte."""
    prior = [(10, 10), (11, 10), (20, 20), (21, 20), (30, 30)]
    mapping, superseded = _merge(spark, prior, [(11, 21)])
    assert mapping[10] == mapping[11] == mapping[20] == mapping[21] == 10
    assert mapping[30] == 30  # untouched
    assert superseded == {(20, 10)}


def test_merge_canonical_issued_id_beats_lower_newcomer(spark):
    """A brand-new entity with a LOWER id joins an issued component:
    the issued id is KEPT (plain re-derived CC would relabel to 3 —
    exactly the instability this operator exists to prevent)."""
    prior = [(10, 10), (11, 10)]
    mapping, superseded = _merge(spark, prior, [(3, 11)])
    assert mapping == {3: 10, 10: 10, 11: 10}
    assert superseded == set()


def test_merge_canonical_noop_and_fresh_cluster(spark):
    """Empty edges -> mapping == prior, nothing superseded; a disjoint
    new cluster gets a fresh min-entity label alongside."""
    prior = [(10, 10), (11, 10), (20, 20)]
    mapping, superseded = _merge(spark, prior, [])
    assert mapping == {10: 10, 11: 10, 20: 20}
    assert superseded == set()
    mapping2, superseded2 = _merge(spark, prior, [(40, 41)])
    assert mapping2 == {10: 10, 11: 10, 20: 20, 40: 40, 41: 40}
    assert superseded2 == set()


def test_merge_canonical_winner_order_independent(spark):
    """Three issued components merged pairwise in either order end at
    the same labels: the minimum issued id among the connected set."""
    prior = [(10, 10), (20, 20), (30, 30)]
    a1, _ = _merge(spark, prior, [(10, 20)])
    a2, sup_a = _merge(spark, [(k, v) for k, v in a1.items()], [(20, 30)])
    b1, _ = _merge(spark, prior, [(20, 30)])
    b2, sup_b = _merge(spark, [(k, v) for k, v in b1.items()], [(10, 20)])
    assert a2 == b2 == {10: 10, 20: 10, 30: 10}
    # superseded unions also reconcile to the same final winners
    assert {(o, 10) for o, _ in sup_a} <= {(20, 10), (30, 10)}
    assert {(o, 10) for o, _ in sup_b} <= {(20, 10), (30, 10)}


def test_merge_canonical_matches_model_on_random_batches(spark):
    """Property check (seeded): applying random edge batches through
    merge_canonical_snapshots matches an independent Python model of
    the issued-id semantics — components = plain union-find over all
    edges so far; label = min issued id in the component (ids become
    issued the first time a mapping is emitted), else min member."""
    import numpy as np

    from neuroner_spark.operators.components import merge_canonical_snapshots

    rng = np.random.default_rng(7)
    prior_rows: list[tuple[int, int]] = []
    # Python model state
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    issued: set[int] = set()
    all_edges: list[tuple[int, int]] = []
    for batch in range(4):
        k = int(rng.integers(3, 10))
        edges = [
            (int(rng.integers(0, 40)), int(rng.integers(0, 40))) for _ in range(k)
        ]
        all_edges.extend(edges)
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # model labels: min issued id per component, else min member
        comps: dict[int, list[int]] = {}
        for node in parent:
            comps.setdefault(find(node), []).append(node)
        model: dict[int, int] = {}
        labels: dict[int, int] = {}
        for root, members in comps.items():
            iss = [m for m in members if m in issued]
            labels[root] = min(iss) if iss else min(members)
        for node in parent:
            model[node] = labels[find(node)]
        # keep previously-issued labels for nodes untouched this batch
        # (the model above recomputes from ALL edges, which must agree
        # because min-issued is monotone under edge addition)
        out = merge_canonical_snapshots(
            spark.createDataFrame(
                prior_rows or [], "entity_id long, canonical_id long"
            ),
            spark.createDataFrame(edges, "src long, dst long"),
        )
        got = {r["entity_id"]: r["canonical_id"] for r in out["mapping"].collect()}
        assert got == model, (batch, got, model)
        # only canonical VALUES are issued labels (a newcomer key that
        # lost to an older issued id — e.g. 22 -> 23 — must never later
        # win a label purely for being small)
        issued.update(got.values())
        prior_rows = sorted(got.items())


def test_pagerank_matches_numpy_power_iteration(spark):
    """pagerank vs an independent numpy power iteration with the same
    dangling-mass redistribution, on a directed graph WITH a dangling
    node; ranks sum to 1."""
    import numpy as np

    from neuroner_spark.operators.graph_rank import pagerank

    # 0->1, 0->2, 1->2, 2->3, 3 dangling, 4->0 (feeder)
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (4, 0)]
    d, n = 0.85, 5
    M = np.zeros((n, n))
    for s, t in edges:
        M[t, s] = 1.0
    deg = M.sum(axis=0)
    r = np.full(n, 1.0 / n)
    for _ in range(60):
        shares = np.where(deg > 0, r / np.maximum(deg, 1), 0.0)
        inflow = M @ shares
        dangling = r[deg == 0].sum()
        r = (1 - d) / n + d * (inflow + dangling / n)
    log: list = []
    got = {
        row["node"]: row["rank"]
        for row in pagerank(
            spark.createDataFrame(edges, "src long, dst long"),
            max_iter=60, tol=1e-12, iteration_log=log,
        ).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert log and log[-1]["l1_delta"] < 1e-9  # converged, logged


def test_pagerank_releases_rounds_and_static_frames(spark, new_pinned):
    """Persisted and checkpointed rounds alike are freed once the next
    round is materialized, and the static graph frames on return: only
    the returned (checkpointed) last round stays pinned."""
    from neuroner_spark.operators.graph_rank import pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    ranks = pagerank(edges, checkpoint_interval=2, max_iter=6, tol=0)
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9
    assert len(new_pinned(1)) <= 1


def test_pagerank_undirected_symmetry(spark):
    """On an undirected path a-b-c the endpoints tie and the middle
    dominates; early tol exit stops the loop."""
    from neuroner_spark.operators.graph_rank import pagerank

    log: list = []
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"),
            # L1 delta decays geometrically at rate ~d=0.85, so a
            # modest tol demonstrates the early exit within 50 rounds
            undirected=True, max_iter=50, tol=1e-3, iteration_log=log,
        ).collect()
    }
    assert abs(got[1] - got[3]) < 1e-9
    assert got[2] > got[1]
    assert len(log) < 50  # tol exit fired


def test_entity_pagerank_over_store(spark, tmp_path):
    """The store consumer ranks canonical entities through the re-key
    view: after a merge, the retired id never appears."""
    import datetime as dt

    from neuroner_spark.operators.graph_rank import entity_pagerank
    from neuroner_spark.plans.catalog_kg import _aliases
    from neuroner_spark.plans.kg_pipeline import run_incremental_kg

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    pages = spark.createDataFrame(
        [
            ("https://a/1", ts, "the merge sort beats the window and the table scan here", "en"),
            ("https://a/2", ts, "the hash join meets the table scan and the stream there", "en"),
        ],
        "url string, warc_ts timestamp, text string, lang string",
    )
    store = str(tmp_path / "kg")
    run_incremental_kg(spark, pages, _aliases(spark), store, 0)
    run_incremental_kg(
        spark,
        pages.limit(0),
        _aliases(spark),
        store,
        1,
        new_sameas_edges=spark.createDataFrame([(5, 6)], "src long, dst long"),
    )
    ranks = {r["node"]: r["rank"] for r in entity_pagerank(spark, store).collect()}
    assert ranks and 6 not in ranks  # retired id resolved away
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_er_metrics_match_python_model(spark):
    """pairwise_prf and bcubed_prf vs brute-force Python computation on
    a clustering with a split, a merge, and singletons (the classic ER
    error shapes); perfect clustering scores 1.0 everywhere."""
    from itertools import combinations

    from neuroner_spark.operators.er_metrics import bcubed_prf, pairwise_prf

    # gold: {1,2,3}, {4,5}, {6}; pred: splits the first, merges the rest
    gold = [(1, "g1"), (2, "g1"), (3, "g1"), (4, "g2"), (5, "g2"), (6, "g3")]
    pred = [(1, 10), (2, 10), (3, 30), (4, 20), (5, 20), (6, 20)]

    def model_pairwise():
        gl, pl = dict(gold), dict(pred)
        ids = sorted(gl)
        tp = fp = fn = 0
        for a, b in combinations(ids, 2):
            same_p, same_g = pl[a] == pl[b], gl[a] == gl[b]
            tp += same_p and same_g
            fp += same_p and not same_g
            fn += same_g and not same_p
        p = tp / (tp + fp) if tp + fp else 1.0
        r = tp / (tp + fn) if tp + fn else 1.0
        return p, r

    def model_bcubed():
        gl, pl = dict(gold), dict(pred)
        ids = sorted(gl)
        ps, rs = [], []
        for i in ids:
            pc = [j for j in ids if pl[j] == pl[i]]
            gc = [j for j in ids if gl[j] == gl[i]]
            inter = len(set(pc) & set(gc))
            ps.append(inter / len(pc))
            rs.append(inter / len(gc))
        return sum(ps) / len(ps), sum(rs) / len(rs)

    pred_df = spark.createDataFrame(pred, "entity_id long, canonical_id long")
    gold_df = spark.createDataFrame(gold, "entity_id long, label string")
    got_pw = pairwise_prf(pred_df, gold_df)
    mp, mr = model_pairwise()
    assert abs(got_pw["precision"] - mp) < 1e-12 and abs(got_pw["recall"] - mr) < 1e-12
    got_b3 = bcubed_prf(pred_df, gold_df)
    bp, br = model_bcubed()
    assert abs(got_b3["precision"] - bp) < 1e-12 and abs(got_b3["recall"] - br) < 1e-12
    # perfect clustering (labels renamed — label identity is irrelevant)
    perfect = spark.createDataFrame(
        [(i, {"g1": 7, "g2": 8, "g3": 9}[l]) for i, l in gold],
        "entity_id long, canonical_id long",
    )
    for m in (pairwise_prf(perfect, gold_df), bcubed_prf(perfect, gold_df)):
        assert m["precision"] == m["recall"] == m["f1"] == 1.0
    # all-singletons: pairwise precision 1.0 by convention (no predicted
    # pairs), recall 0 on the non-trivial gold
    singles = spark.createDataFrame(
        [(i, i) for i, _ in gold], "entity_id long, canonical_id long"
    )
    s = pairwise_prf(singles, gold_df)
    assert s["precision"] == 1.0 and s["recall"] == 0.0


def test_link_edges_extraction_and_resolution(spark):
    """href extraction: absolute links kept as-is, relative links
    resolved against the source page's scheme://host, pseudo-links and
    fragments dropped, self-links dropped."""
    import datetime as dt

    from neuroner_spark.operators.graph_rank import host_graph, link_edges

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    html = (
        b'<html><body><a href="https://other.example/p1">x</a>'
        b'<a href="/rel/path">r</a>'
        b'<a href="sub">s</a>'
        b'<a href="javascript:void(0)">j</a>'
        b'<a href="mailto:a@b.c">m</a>'
        b'<a href="#frag">f</a>'
        b'<a href="https://me.example/home">self</a></body></html>'
    )
    pages = spark.createDataFrame(
        [("https://me.example/home", ts, html, "t", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    edges = {(r["src"], r["dst"]) for r in link_edges(pages).collect()}
    assert edges == {
        ("https://me.example/home", "https://other.example/p1"),
        ("https://me.example/home", "https://me.example/rel/path"),
        ("https://me.example/home", "https://me.example/sub"),
    }
    # host level: same-host (relative) edges drop, cross-host aggregates
    hg = {(r["src"], r["dst"]): r["n_links"] for r in host_graph(link_edges(pages)).collect()}
    assert hg == {("me.example", "other.example"): 1}


def test_host_pagerank_hub_and_fixture_plumbing(spark):
    """host_pagerank: (a) a manual hub graph ranks the link sink first;
    (b) the linked-pages fixture runs end-to-end with ranks summing to
    1 over the host graph's nodes."""
    import datetime as dt

    from neuroner_spark.fixtures.gen import linked_pages_df
    from neuroner_spark.operators.graph_rank import host_pagerank

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def page(url, *targets):
        body = "".join(f'<a href="{t}">x</a>' for t in targets)
        return (url, ts, f"<html><body>{body}</body></html>".encode(), "t", "en")

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    # a, c, d all link to b; b links back to a only
    pages = spark.createDataFrame(
        [
            page("https://a.x/1", "https://b.x/1"),
            page("https://c.x/1", "https://b.x/1"),
            page("https://d.x/1", "https://b.x/1"),
            page("https://b.x/1", "https://a.x/1"),
        ],
        schema,
    )
    ranks = {r["host"]: r["rank"] for r in host_pagerank(pages, max_iter=15).collect()}
    assert max(ranks, key=ranks.get) == "b.x"
    assert abs(sum(ranks.values()) - 1.0) < 1e-6

    fixture_ranks = host_pagerank(linked_pages_df(spark, 120), max_iter=5, tol=0.0).collect()
    assert len(fixture_ranks) > 1
    assert abs(sum(r["rank"] for r in fixture_ranks) - 1.0) < 1e-6


def test_top_entities_per_component(spark, tmp_path):
    """Component-scoped top-k by PageRank over the triple store: every
    component's rows are rank-descending with positions 1..<=k, no
    retired ids, and each component's top-1 is its max-rank member."""
    import datetime as dt

    from neuroner_spark.operators.graph_rank import (
        entity_pagerank,
        top_entities_per_component,
    )
    from neuroner_spark.plans.catalog_kg import _aliases
    from neuroner_spark.plans.kg_pipeline import run_incremental_kg

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    pages = spark.createDataFrame(
        [
            ("https://a/1", ts, "the merge sort beats the window and the table scan here", "en"),
            ("https://a/2", ts, "the hash join meets the table scan and the stream there", "en"),
        ],
        "url string, warc_ts timestamp, text string, lang string",
    )
    store = str(tmp_path / "kg")
    run_incremental_kg(spark, pages, _aliases(spark), store, 0)
    top = top_entities_per_component(spark, store, k=2, tol=0.0, max_iter=10).collect()
    assert top
    by_comp: dict = {}
    for r in top:
        by_comp.setdefault(r["component"], []).append((r["pos"], r["entity"], r["rank"]))
    ranks = {r["node"]: r["rank"] for r in entity_pagerank(spark, store, tol=0.0, max_iter=10).collect()}
    for comp, rows in by_comp.items():
        rows.sort()
        assert [p for p, _, _ in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 2
        # rank-descending within the component
        vals = [v for _, _, v in rows]
        assert vals == sorted(vals, reverse=True)
        # top-1 matches the global rank table's max over this component
        members = [e for _, e, _ in rows]
        assert ranks[members[0]] == max(ranks[m] for m in members)
