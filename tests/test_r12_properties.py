"""r12 semantics tests: id_linkage_banded (ID2 — the linkage index tier).

The oracle gate (tests/test_queries_oracle.py + tools/check_correctness.py)
pins engine parity; these pin the SEMANTICS the oracle can't see — that
the index tier is a faithful restriction of the exact tier, that clones
can never be missed, and that the K rule bounds candidates.
"""

from __future__ import annotations

import datetime as dt

from ssidentity_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()

_EVENT_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _write_events(spark, tmp_path, rows):
    sf = str(tmp_path)
    spark.createDataFrame(rows, _EVENT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{sf}/events.parquet")
    return sf


def _clone_corpus():
    """Two identical 16-cell profiles + a half-overlap user + a disjoint
    user (the ID1 test corpus)."""
    rows, eid = [], 0
    for u in (10, 11):
        for h in range(16):
            rows.append((eid, dt.datetime(2024, 1, 1, h), u, "t", 1.0, "{}"))
            eid += 1
    for h in range(8):
        rows.append((eid, dt.datetime(2024, 1, 1, h), 12, "t", 1.0, "{}"))
        eid += 1
    for h in (20, 21, 22, 23):
        rows.append((eid, dt.datetime(2024, 1, 1, h), 13, "t", 1.0, "{}"))
        eid += 1
    return rows


def test_banded_linkage_clones_always_found(spark, tmp_path):
    """Identical profiles ⇒ identical 512-bit signatures ⇒ agreement is
    the 512 maximum ⇒ the clone is ALWAYS a candidate, and the exact
    verify then scores it cosine 1.0: the index tier can never miss a
    true duplicate device. The half-overlap user also links (K=20 ≥
    U−1 here, so its candidate set is everyone)."""
    sf = _write_events(spark, tmp_path, _clone_corpus())
    got = {
        r["user_id"]: r.asDict()
        for r in REGISTRY["id_linkage_banded"].fn(spark, sf).collect()
    }
    assert got[10]["match_id"] == 11 and got[11]["match_id"] == 10
    assert got[10]["agreement"] == 512 and got[11]["agreement"] == 512
    assert got[10]["cosine"] == 1.0 and got[10]["dot"] == 16
    assert got[12]["match_id"] == 10 and got[12]["cosine"] < 1.0
    # a user sharing no profile cell with any candidate has no verify
    # row at all — never a zero-cosine fabrication
    assert 13 not in got


def test_banded_linkage_equals_exact_when_k_covers_all(spark, tmp_path):
    """At U ≤ 21 the K = max(20, ceil((U−1)/5)) rule makes every other
    user a candidate, so the index tier must return EXACTLY the exact
    tier's (user → match) map with identical dot/cosine — the 'probe
    loses nothing relative to its claim' degenerate case, and the
    bit-for-bit check that the verify stage is ID1's scoring."""
    sf = _write_events(spark, tmp_path, _clone_corpus())
    banded = {
        r["user_id"]: r.asDict()
        for r in REGISTRY["id_linkage_banded"].fn(spark, sf).collect()
    }
    exact = {
        r["user_id"]: r.asDict()
        for r in REGISTRY["id_behavior_linkage"].fn(spark, sf).collect()
    }
    assert set(banded) == set(exact)
    for u, e in exact.items():
        b = banded[u]
        assert b["match_id"] == e["match_id"]
        assert b["dot"] == e["dot"]
        assert b["shared_cells"] == e["shared_cells"]
        assert b["cosine"] == e["cosine"]  # bit-identical doubles


def test_banded_linkage_k_rule_bounds_candidates(spark, tmp_path):
    """With 30 users in two 15-clone families, K = max(20, ceil(29/5)) =
    20 candidates per user — every output row must still pick a
    same-family clone (agreement 512) over any cross-family user, and
    agreement must stay within [0, 512]. Profiles are 16 cells
    (8 hours × 2 types) so norms are perfect squares and the clone
    cosine is exactly 1.0 even in floats."""
    rows, eid = [], 0
    for fam, hours in ((0, range(0, 8)), (1, range(8, 16))):
        for i in range(15):
            u = 100 + fam * 100 + i
            for h in hours:
                for et in ("t0", "t1"):
                    rows.append(
                        (eid, dt.datetime(2024, 1, 1, h), u, et, 1.0, "{}")
                    )
                    eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = REGISTRY["id_linkage_banded"].fn(spark, sf).collect()
    assert len(got) == 30
    for r in got:
        assert 0 <= r["agreement"] <= 512
        assert r["agreement"] == 512  # a same-family clone always wins
        assert (r["user_id"] < 200) == (r["match_id"] < 200)
        assert r["cosine"] == 1.0


def test_banded_recall_at_gate_scale_meets_the_corner(spark):
    """The r12 acceptance bar (VERDICT r11 ask #1) as a regression test:
    at sf0.001 the index tier must agree with the exact tier for ≥ 90%
    of users (measured: 100% — K ≥ U−1 there), i.e. the shipped
    geometry's recall corner holds on driver data, not just in the
    sweep SCALE.md "r12: linkage index tier" records."""
    sf = "/root/testdata/sf0.001"
    banded = {
        r["user_id"]: r["match_id"]
        for r in REGISTRY["id_linkage_banded"].fn(spark, sf).collect()
    }
    exact = {
        r["user_id"]: r["match_id"]
        for r in REGISTRY["id_behavior_linkage"].fn(spark, sf).collect()
    }
    hits = sum(1 for u, m in exact.items() if banded.get(u) == m)
    assert hits / len(exact) >= 0.9


# ---------------------------------------------------------------------------
# TS8b: windowed ACF (plans/timeseries.py:ts_acf_windowed) — the
# bounded-state hatch as code (VERDICT r11 ask #3)
# ---------------------------------------------------------------------------


def _write_series(spark, tmp_path, rows):
    sf = str(tmp_path)
    spark.createDataFrame(rows, _EVENT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{sf}/events.parquet")
    return sf


def test_acf_windowed_equals_full_when_window_covers(spark, tmp_path):
    """Series shorter than _ACF_WINDOW ⇒ the cut keeps everything and
    the windowed query must return ts_acf's rows BIT-IDENTICALLY (the
    aggregate body is shared code; this pins that the rank filter is
    the only difference)."""
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=7 * i), uid,
         "t", float((i * 13 + uid) % 50) / 4.0, "{}")
        for uid in (1, 2, 3)
        for i in range(30)  # 30 < 48
    ]
    rows = [(uid * 1000 + r[0],) + r[1:] for uid in (0,) for r in rows]
    sf = _write_series(spark, tmp_path, rows)
    full = {
        r["user_id"]: r.asDict()
        for r in REGISTRY["ts_acf"].fn(spark, sf).collect()
    }
    win = {
        r["user_id"]: r.asDict()
        for r in REGISTRY["ts_acf_windowed"].fn(spark, sf).collect()
    }
    assert set(win) == set(full)
    for u in full:
        assert win[u] == full[u]  # bit-identical doubles included


def test_acf_windowed_truncates_to_recent_tail(spark, tmp_path):
    """A 100-event series whose FIRST 52 values are constant 0 and last
    48 alternate ±1: the full-series ACF sees a mixed signal, but the
    windowed query sees exactly the alternating tail — lag-1 ACF must
    be strongly negative and n_events exactly 48 (the cut keeps the
    most RECENT events, not the first)."""
    rows = []
    for i in range(100):
        v = 0.0 if i < 52 else (1.0 if i % 2 == 0 else -1.0)
        rows.append(
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), 7, "t",
             v, "{}")
        )
    sf = _write_series(spark, tmp_path, rows)
    got = REGISTRY["ts_acf_windowed"].fn(spark, sf).collect()[0]
    assert got["n_events"] == 48
    # pure alternating series: acf_lag1 ≈ -1, acf_lag2 ≈ +1
    assert got["acf_lag1"] < -0.9
    assert got["acf_lag2"] > 0.9


def test_acf_windowed_hot_key_bounded_state(spark, tmp_path):
    """The 100 TB claim: a single 10⁵-row key streams through the
    spillable rank sort, and only 48 rows reach the aggregate — the
    full-series collect_list never materializes. Must complete and
    report n_events == 48 with the ACF of the recent tail only."""
    n = 100_000
    base = dt.datetime(2024, 1, 1)
    df = spark.range(n).selectExpr(
        "id AS event_id",
        f"timestamp'{base}' + make_interval(0,0,0,0,0,0,id) AS ts",
        "CAST(42 AS LONG) AS user_id",
        "'t' AS event_type",
        # deterministic pseudo-noise; the tail is what the query sees
        "CAST((id * 13 % 97) AS DOUBLE) / 4.0 AS value",
        "'{}' AS props",
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    got = REGISTRY["ts_acf_windowed"].fn(spark, sf).collect()
    assert len(got) == 1
    assert got[0]["n_events"] == 48
    # cross-check the mean against the directly-computed tail
    tail = [((n - 48 + i) * 13 % 97) / 4.0 for i in range(48)]
    assert abs(got[0]["mean_value"] - sum(tail) / 48) < 1e-9


# ---------------------------------------------------------------------------
# grouped two-phase id assigner (rowids.assign_global_ids group_cols=) —
# the machinery behind pipe_quality_fusion's single-pass triple ranking
# ---------------------------------------------------------------------------


def test_grouped_assigner_per_group_contiguous_ranks(spark):
    """N independent rankings in one pass: within each group ids are
    0-based, contiguous, and ordered by the order key — identical to
    running the ungrouped assigner once per group."""
    import pyspark.sql.functions as F

    from ssidentity_spark.operators.rowids import assign_global_ids

    df = spark.range(300).select(
        (F.col("id") % 3).cast("int").alias("g"),
        # a value whose order differs per group, with duplicates across
        # groups but unique (g, v, id)
        ((F.col("id") * 37) % 101).cast("double").alias("v"),
        F.col("id").alias("tb"),
    )
    out = assign_global_ids(
        df,
        ["v", "tb"],
        "r",
        bucket=F.col("g").cast("long") * 1000 + F.floor(F.col("v") / 10),
        group_cols=["g"],
    ).collect()
    by_g = {}
    for row in out:
        by_g.setdefault(row["g"], []).append(row)
    assert set(by_g) == {0, 1, 2}
    for g, rows in by_g.items():
        rows.sort(key=lambda x: (x["v"], x["tb"]))
        assert [x["r"] for x in rows] == list(range(len(rows))), g


def test_grouped_assigner_requires_explicit_bucket(spark):
    import pytest

    from ssidentity_spark.operators.rowids import assign_global_ids

    df = spark.range(10).selectExpr("id % 2 AS g", "id AS v")
    with pytest.raises(ValueError, match="bucket"):
        assign_global_ids(df, ["v"], group_cols=["g"])


# ---------------------------------------------------------------------------
# r12 mid-round additions: ID3 clusters, G5 assortativity, TS10 Holt
# ---------------------------------------------------------------------------


def test_linkage_clusters_transitive_chain(spark, tmp_path):
    """A≈B and B≈C must land in ONE cluster even though A and C are less
    similar to each other than to B (the closure is the point); the
    disjoint user stays a singleton; cluster_id is the min member and
    sizes are consistent."""
    rows, eid = [], 0
    # A(20) and C(22) share nothing with each other; B(21) overlaps both
    for h in range(8):
        rows.append((eid, dt.datetime(2024, 1, 1, h), 20, "t", 1.0, "{}")); eid += 1
    for h in range(16):
        rows.append((eid, dt.datetime(2024, 1, 1, h), 21, "t", 1.0, "{}")); eid += 1
    for h in range(8, 16):
        rows.append((eid, dt.datetime(2024, 1, 1, h), 22, "t", 1.0, "{}")); eid += 1
    # disjoint singleton on its own event type
    for h in (20, 21):
        rows.append((eid, dt.datetime(2024, 1, 1, h), 23, "x", 1.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = {r["user_id"]: r for r in REGISTRY["id_linkage_clusters"].fn(spark, sf).collect()}
    assert out[20]["cluster_id"] == out[21]["cluster_id"] == out[22]["cluster_id"] == 20
    assert out[20]["cluster_size"] == 3
    assert out[23]["cluster_id"] == 23 and out[23]["cluster_size"] == 1


def test_linkage_clusters_clones_cluster_together(spark, tmp_path):
    """Identical profiles are mutual top-1 by construction — clones can
    never end up in different clusters."""
    sf = _write_events(spark, tmp_path, _clone_corpus())
    out = {r["user_id"]: r for r in REGISTRY["id_linkage_clusters"].fn(spark, sf).collect()}
    assert out[10]["cluster_id"] == out[11]["cluster_id"]


def test_assortativity_is_minus_one_on_a_star(spark, tmp_path):
    """A pure hub-and-spoke transition graph has degree assortativity
    exactly -1 (every edge joins the max-degree hub to a degree-1 leaf
    — the Newman-coefficient boundary case)."""
    rows, eid = [], 0
    hub, leaves = 1, (2, 3, 4)
    t = dt.datetime(2024, 1, 1, 0, 0, 0)
    seq = []
    for leaf in leaves:
        seq += [hub, leaf]
    for u in seq:
        rows.append((eid, t, u, "t", 1.0, "{}"))
        t += dt.timedelta(minutes=1)
        eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = REGISTRY["graph_degree_assortativity"].fn(spark, sf).collect()
    assert len(got) == 1
    assert got[0]["n_vertices"] == 4
    assert abs(got[0]["assortativity"] - (-1.0)) < 1e-9


def test_holt_constant_series_is_a_fixpoint(spark, tmp_path):
    """On a constant series the recursion is exactly stationary: level
    = the constant, trend = 0, forecast = the constant (bit-exact — no
    tolerance needed; every step is l'=c, b'=0 in exact arithmetic)."""
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), 7, "t", 42.5, "{}")
        for i in range(20)
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = REGISTRY["ts_holt_linear"].fn(spark, sf).collect()
    assert len(got) == 1
    assert got[0]["level"] == 42.5
    assert got[0]["trend"] == 0.0
    assert got[0]["forecast_next"] == 42.5


def test_holt_learns_a_linear_trend(spark, tmp_path):
    """On an exactly linear series x_t = 10 + 0.25·t the state converges
    geometrically to (x_t, slope): after 200 points trend ≈ 0.25 and the
    forecast extrapolates ABOVE the last observation — the property that
    distinguishes Holt from the lagging EMA."""
    n = 200
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), 9, "t",
         10.0 + 0.25 * i, "{}")
        for i in range(n)
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = REGISTRY["ts_holt_linear"].fn(spark, sf).collect()[0]
    last = 10.0 + 0.25 * (n - 1)
    assert abs(got["trend"] - 0.25) < 1e-6
    assert abs(got["level"] - last) < 1e-3
    assert got["forecast_next"] > last


def test_classifier_eval_perfect_separation(spark, tmp_path):
    """Two perfectly separable languages: the confusion matrix is purely
    diagonal (cell_rate 1.0), counts conserve the corpus, and every
    margin is positive (the winner beats the runner-up)."""
    rows = []
    for i in range(6):
        rows.append((i, "alpha beta alpha beta alpha", "aa", "s", 27))
    for i in range(6, 10):
        rows.append((i, "gamma delta gamma delta gamma", "bb", "s", 29))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = REGISTRY["text_classifier_eval"].fn(spark, sf).collect()
    cells = {(r["true_lang"], r["pred_lang"]): r for r in out}
    assert set(cells) == {("aa", "aa"), ("bb", "bb")}
    assert cells[("aa", "aa")]["n"] == 6 and cells[("aa", "aa")]["cell_rate"] == 1.0
    assert cells[("bb", "bb")]["n"] == 4
    assert all(r["avg_margin"] > 0 for r in out)


def test_classifier_eval_counts_conserve_and_match_classifier(spark):
    """On the real sf0.001 corpus: cell counts sum to the document
    count, and the diagonal mass equals text_nb_classifier's is_correct
    count — the eval is an exact rollup of the classifier's verdicts."""
    sf = "/root/testdata/sf0.001"
    ev = REGISTRY["text_classifier_eval"].fn(spark, sf).collect()
    nb = REGISTRY["text_nb_classifier"].fn(spark, sf).collect()
    assert sum(r["n"] for r in ev) == len(nb)
    diag = sum(r["n"] for r in ev if r["true_lang"] == r["pred_lang"])
    assert diag == sum(1 for r in nb if r["is_correct"])


def test_bfs_hops_on_a_path_graph(spark, tmp_path):
    """A 1-D embedding chain (nearest neighbors = adjacent points) makes
    the mutual-kNN graph a path; the max-degree tie-break seeds at the
    smallest interior vertex and hop counts are exact graph distances."""
    import pyspark.sql.functions as F

    # 2-D points on a line: mutual 1-NN..8-NN of a chain connect nearby
    # indices; with K=8 and 12 points the graph is dense enough to be
    # connected but distances still vary
    rows = [(i, [float(i * 10), 0.0, 1.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    out = {r["vec_id"]: r["hops"] for r in
           REGISTRY["graph_bfs_hops"].fn(spark, sf).collect()}
    assert out, "no vertices reached"
    seeds = [v for v, h in out.items() if h == 0]
    assert len(seeds) == 1
    # triangle inequality on the output: hop levels are contiguous
    levels = sorted(set(out.values()))
    assert levels == list(range(len(levels)))


def test_bfs_hops_gate_scale_distribution(spark):
    """sf0.001: exactly one seed, contiguous hop levels, and real depth
    (radius >= 3 — the measured distribution is 1/8/43/177/244/27)."""
    out = [r["hops"] for r in
           REGISTRY["graph_bfs_hops"].fn(spark, "/root/testdata/sf0.001").collect()]
    assert out.count(0) == 1
    assert max(out) >= 3
    assert sorted(set(out)) == list(range(max(out) + 1))


def test_block_topk_past_broadcast_budget_equals_broadcast(spark, monkeypatch):
    """The block operator's size switch, pinned on both sides: past
    BROADCAST_BYTES of corpus matrix it splits both sides into hash
    blocks and merges each (query block, corpus block) pair's partial
    top-K lists, and with many query blocks against one broadcast matrix
    the mutual check moves to a merge task. On both the float (6-dp
    cosine kNN, mutual and not) and the integer (profile linkage) path
    every variant gives the rows of the single broadcast block."""
    from pyspark.sql import functions as F

    from ssidentity_spark.io import load_table
    from ssidentity_spark.operators import blocktopk as B
    from ssidentity_spark.operators import iterate as loop
    from ssidentity_spark.plans import analytics as A
    from ssidentity_spark.plans.similarity import _norm_vec

    sf = "/root/testdata/sf0.001"
    corpus = _norm_vec(load_table(spark, sf, "embeddings")).select(
        F.col("vec_id").alias("id"), "v"
    )
    prof = A.behavior_profiles(load_table(spark, sf, "events")).persist()
    runs = {
        "knn": lambda: B.block_topk(corpus, 8, mutual=True),
        "queries": lambda: B.block_topk(corpus, 5, corpus.filter("id < 40")),
        "linkage": lambda: A._profile_topk(prof, 1),
        "mutual_linkage": lambda: A._profile_topk(prof, 2, mutual=True),
    }
    bcast = {k: sorted(map(tuple, run().collect())) for k, run in runs.items()}
    assert all(bcast.values())
    monkeypatch.setattr(B, "_BLOCK_CELLS", 20_000)  # many query blocks
    for k, run in runs.items():
        assert sorted(map(tuple, run().collect())) == bcast[k], k
    # past the budget: 200 of the 500 64-dim vectors, or 7 of the 15
    # users' 120-cell profiles, a block
    pairs = []
    monkeypatch.setattr(B, "_block_pairs", lambda *a, f=B._block_pairs: pairs.append(a) or f(*a))
    for budget, names in (
        (200 * 64 * 8, ("knn", "queries")),
        (7 * 120 * 8, ("linkage", "mutual_linkage")),
    ):
        monkeypatch.setattr(loop, "BROADCAST_BYTES", budget)
        for k in names:
            assert sorted(map(tuple, runs[k]().collect())) == bcast[k], (budget, k)
    assert len(pairs) == 4
    prof.unpersist()


def test_cell_pair_width_clamps_to_input(spark):
    """Tiny inputs do not pin a conf-width task wave in the LSH plane
    fan-out (ADVICE r12): width scales with rows/2000, floors at 1, caps
    at the session conf."""
    from ssidentity_spark.plans.analytics import _cell_pair_width

    assert _cell_pair_width(100, 200) == 1
    assert _cell_pair_width(2_000, 200) == 1
    assert _cell_pair_width(20_000, 200) == 10
    assert _cell_pair_width(200_000, 32) == 32
    assert _cell_pair_width(10_000_000, 200) == 200
