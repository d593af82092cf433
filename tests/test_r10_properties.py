"""r10 semantics on controlled corpora: event-sequence pattern matching
(W7) and MMR diversified retrieval (U5e). The driver-gate hash rows pin
Spark ≡ DuckDB on the real tables; these pin the SEMANTICS."""

from __future__ import annotations

import datetime as dt
import math

import ssidentity_spark.plans  # noqa: F401  (populates REGISTRY)
from ssidentity_spark.registry import REGISTRY


# ---------------------------------------------------------------------------
# W7: event-sequence pattern matching
# ---------------------------------------------------------------------------


def _w7(spark, tmp_path, sequences):
    """sequences: {user_id: "scvp..."} using type initials -> query rows."""
    type_of = {"c": "click", "e": "error", "p": "purchase", "s": "signup", "v": "view"}
    rows = [
        (u * 10000 + i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), u, type_of[ch], 1.0, "{}")
        for u, s in sequences.items()
        for i, ch in enumerate(s)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = REGISTRY["w7_event_pattern"].fn(spark, sf)
    return {r["user_id"]: r.asDict() for r in out.collect()}


def test_w7_counts_non_overlapping_episodes(spark, tmp_path):
    """'scvp sp' -> two episodes; the scan does not reuse consumed
    events (non-overlapping MATCH_RECOGNIZE semantics)."""
    got = _w7(spark, tmp_path, {1: "scvpsp"})[1]
    assert got["n_matches"] == 2
    assert got["longest_match"] == 4  # 'scvp'
    assert got["n_browse_steps"] == 2  # 'cv' inside the first episode


def test_w7_error_breaks_the_episode(spark, tmp_path):
    """An error between signup and purchase kills the match; a second
    signup re-arms it."""
    got = _w7(spark, tmp_path, {1: "scep", 2: "scespv" + "p"})
    assert got[1]["n_matches"] == 0
    # 'scespvp': first 's' dies at 'e'; second 's' -> 'spvp'? the regex
    # consumes s, then p is next non-browse char -> match 'sp', then
    # 'vp' has no signup -> exactly one episode
    assert got[2]["n_matches"] == 1
    assert got[2]["longest_match"] == 2


def test_w7_greedy_browse_run_matches_first_purchase(spark, tmp_path):
    """'s cvcv p ... p' matches up to the FIRST purchase (the [cv]*
    class excludes p, so there is no longest-match ambiguity between
    regex engines)."""
    got = _w7(spark, tmp_path, {1: "scvcvpcp"})[1]
    assert got["n_matches"] == 1
    assert got["longest_match"] == 6  # 'scvcvp'
    assert got["n_browse_steps"] == 4


def test_w7_ordering_is_by_time_not_arrival(spark, tmp_path):
    """Events are sequenced by (ts, event_id) — reversing insertion
    order must not change the matched string."""
    type_of = {"s": "signup", "p": "purchase"}
    rows = [
        (10, dt.datetime(2024, 1, 1, 0, 1), 7, "purchase", 1.0, "{}"),
        (9, dt.datetime(2024, 1, 1, 0, 0), 7, "signup", 1.0, "{}"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    got = {r["user_id"]: r.asDict() for r in REGISTRY["w7_event_pattern"].fn(spark, sf).collect()}
    assert got[7]["n_matches"] == 1  # 'sp', because ts orders s first


# ---------------------------------------------------------------------------
# U5e: MMR diversified retrieval
# ---------------------------------------------------------------------------


def _embed(spark, tmp_path, vecs):
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    out = REGISTRY["sim_mmr_diversify"].fn(spark, sf)
    return {
        (r["query_id"], r["rnk"]): r["vec_id"] for r in out.collect()
    }


def _rot(deg):
    a = math.radians(deg)
    return [math.cos(a), math.sin(a)]


def test_mmr_prefers_the_diverse_cluster_over_the_redundant_twin(
    spark, tmp_path
):
    """Query at 0 deg; near-dup pair A1(19 deg)/A2(20 deg) and a lone
    B(-20 deg) with equal-ish relevance. Plain top-3 would return
    [A1, A2, B]; MMR must interleave: after picking A1, A2's
    max-sim-to-selected ~cos(1 deg) crushes its score below B's
    (~cos(39 deg) penalty), so the order is [A1, B, A2]."""
    vecs = {0: _rot(0)}
    # 9 low-relevance duds so the query set (vec_id < 10) is populated
    for i in range(1, 10):
        vecs[i] = _rot(80 + i)
    vecs[10] = _rot(19)  # A1: best rel
    vecs[11] = _rot(20)  # A2: near-dup of A1
    vecs[12] = _rot(-20)  # B: diverse, same-ish rel
    got = _embed(spark, tmp_path, vecs)
    assert got[(0, 1)] == 10  # A1 by pure relevance
    assert got[(0, 2)] == 12  # B beats the redundant twin
    assert got[(0, 3)] == 11  # the twin only then


def test_mmr_rank_one_is_pure_relevance_argmax(spark, tmp_path):
    """With no selected set, rank 1 is exactly the top-1 of the exact
    tier (ties broken by vec_id)."""
    vecs = {0: _rot(0)}
    for i in range(1, 10):
        vecs[i] = _rot(85 + i)
    vecs[20] = _rot(5)
    vecs[21] = _rot(45)
    vecs[22] = _rot(70)
    got = _embed(spark, tmp_path, vecs)
    assert got[(0, 1)] == 20


def test_mmr_selects_k_distinct_candidates_per_query(spark, tmp_path):
    from ssidentity_spark.plans.similarity import _MMR_K, N_QUERIES

    vecs = {i: _rot(3 * i + 1) for i in range(N_QUERIES + 8)}
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    rows = REGISTRY["sim_mmr_diversify"].fn(spark, sf).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["vec_id"])
    for q, picks in per_q.items():
        assert len(picks) == _MMR_K
        assert len(set(picks)) == _MMR_K  # never re-selects
        assert q not in picks  # self excluded from the pool


# ---------------------------------------------------------------------------
# W7 streaming twin: O(1)-state DFA episode matching (streaming/pattern.py)
# ---------------------------------------------------------------------------


def _run_pattern_stream(spark, tmp_path, src, name):
    from ssidentity_spark.streaming.pattern import pattern_stream

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out = str(tmp_path / f"{name}_out")
    ck = str(tmp_path / f"{name}_ck")
    q = (
        pattern_stream(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    snaps = spark.read.parquet(out).collect()
    final = {}
    for r in snaps:  # last snapshot per key = max n_events (monotone)
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r.asDict()
    return final


def test_w7_stream_twin_matches_batch_on_the_corpus(spark, tmp_path):
    """Stream == batch on the real sf0.001 events table: the DFA fold and
    the regex scan produce identical episode totals for every user."""
    from ssidentity_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "ev_src")
    load_table(spark, sf, "events").coalesce(1).write.parquet(src)
    got = _run_pattern_stream(spark, tmp_path, src, "w7s")
    want = {
        r["user_id"]: r.asDict()
        for r in REGISTRY["w7_event_pattern"].fn(spark, sf).collect()
    }
    assert set(got) == set(want)
    for u, w in want.items():
        g = got[u]
        for col in ("n_events", "n_matches", "longest_match", "n_browse_steps"):
            assert g[col] == w[col], (u, col, g, w)


def test_w7_stream_carries_episodes_across_micro_batches(spark, tmp_path):
    """An episode OPEN at a batch boundary ('sc' in batch 1, 'vp' in
    batch 2) must complete — the armed/cur_len state is the carry the
    history-free DFA needs."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    base = dt.datetime(2024, 3, 1, 12, 0, 0)

    def _rows(seq, start):
        type_of = {"c": "click", "e": "error", "p": "purchase", "s": "signup", "v": "view"}
        return [
            (start + i, base + dt.timedelta(minutes=start + i), 5, type_of[ch], 1.0, "{}")
            for i, ch in enumerate(seq)
        ]

    src = str(tmp_path / "xb_src")
    spark.createDataFrame(_rows("sc", 0), schema).coalesce(1).write.parquet(src)
    got1 = _run_pattern_stream(spark, tmp_path, src, "xb")
    assert got1[5]["n_matches"] == 0  # still armed, nothing emitted yet
    spark.createDataFrame(_rows("vp", 10), schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got2 = _run_pattern_stream(spark, tmp_path, src, "xb")  # same checkpoint
    assert got2[5]["n_matches"] == 1
    assert got2[5]["longest_match"] == 4  # s c v p spanning the boundary
    assert got2[5]["n_browse_steps"] == 2


# ---------------------------------------------------------------------------
# TS5-to-be: SAX symbolization (plans/timeseries.py:ts_sax_symbols)
# ---------------------------------------------------------------------------


def _sax(spark, tmp_path, series):
    rows = [
        (u * 100000 + i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), u, "t", float(v), "{}")
        for u, vals in series.items()
        for i, v in enumerate(vals)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = REGISTRY["ts_sax_symbols"].fn(spark, sf)
    return {r["user_id"]: r.asDict() for r in out.collect()}


def test_sax_monotone_series_spells_ascending_symbols(spark, tmp_path):
    """A strictly increasing series: PAA means rise, so the word walks
    the alphabet — quartile breakpoints put 1/4 of windows in each
    symbol class."""
    from ssidentity_spark.plans.timeseries import _SAX_W

    vals = [float(i) for i in range(8 * _SAX_W)]  # 8 full windows
    got = _sax(spark, tmp_path, {1: vals})[1]
    assert got["n_windows"] == 8
    assert got["sax_word"] == "aabbccdd"


def test_sax_constant_series_is_all_a(spark, tmp_path):
    """Constant series: every PAA mean equals every quartile, and the
    strict > comparison maps everything to 'a' — no accidental symbol
    spread from ties."""
    got = _sax(spark, tmp_path, {2: [7.0] * 40})[2]
    assert got["sax_word"] == "a" * got["n_windows"]


def test_sax_partial_last_window_is_its_own_mean(spark, tmp_path):
    """A trailing partial window averages its OWN count (sum/count, not
    sum/W) — a high-valued 2-event tail must still spell 'd'."""
    from ssidentity_spark.plans.timeseries import _SAX_W

    vals = [1.0] * (3 * _SAX_W) + [100.0, 100.0]
    got = _sax(spark, tmp_path, {3: vals})[3]
    assert got["n_windows"] == 4
    assert got["sax_word"].endswith("d")


# ---------------------------------------------------------------------------
# X27-to-be: seeded Laplace noisy counts (plans/pipeline.py:pipe_dp_counts)
# ---------------------------------------------------------------------------


def test_dp_counts_mechanism_invariants(spark, tmp_path):
    import math

    rows = REGISTRY["pipe_dp_counts"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 50  # (lang, source) grain is populated
    n_small = 0
    for r in rows:
        # the release is exactly the clamped half-up rounding of the
        # noisy count — recomputed independently here
        want = max(int(math.floor(r["n_true"] + r["noise"] + 0.5)), 0)
        assert r["n_released"] == want
        assert r["n_released"] >= 0
        if abs(r["noise"]) <= math.log(2.0):
            n_small += 1
    # Laplace(b=1/eps): P(|noise| <= b ln 2) = 1/2 — the seeded draws
    # must look like the distribution they claim (binomial 3-sigma band)
    frac = n_small / len(rows)
    assert 0.3 < frac < 0.7, frac


def test_dp_counts_draw_is_reproducible_and_key_seeded(spark, tmp_path):
    a = {
        (r["lang"], r["source"]): r["noise"]
        for r in REGISTRY["pipe_dp_counts"].fn(spark, "/root/testdata/sf0.001").collect()
    }
    b = {
        (r["lang"], r["source"]): r["noise"]
        for r in REGISTRY["pipe_dp_counts"].fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert a == b  # same seed -> same release (reproducible pipeline)
    assert len(set(a.values())) > len(a) // 2  # draws differ across keys


# ---------------------------------------------------------------------------
# W4 streaming twin: native session windows (streaming/sessions.py)
# ---------------------------------------------------------------------------


def _run_session_stream(spark, tmp_path, src, name):
    from ssidentity_spark.streaming.sessions import session_stream

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out = str(tmp_path / f"{name}_out")
    ck = str(tmp_path / f"{name}_ck")
    q = (
        session_stream(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out).collect()


def _batch_sessions(spark, sf):
    from ssidentity_spark.io import load_table
    from ssidentity_spark.plans.analytics import _event_sessions

    from pyspark.sql import functions as F

    return {
        (r["user_id"], r["start"]): r["n"]
        for r in _event_sessions(load_table(spark, sf, "events"))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start"), F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_session_stream_matches_batch_on_the_corpus(spark, tmp_path):
    """Closed streaming sessions == batch sessions on the real sf0.001
    events: chunk 2 carries one far-future flusher event, so the
    watermark closes every real session; keys are (user, session start)
    — the native session_window's start equals the batch session's first
    event time, and the 30min+1us gap makes the two gap rules coincide."""
    import datetime as _dt

    from ssidentity_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "sess_src")
    ev = load_table(spark, sf, "events")
    ev.coalesce(1).write.parquet(src)
    got1 = _run_session_stream(spark, tmp_path, src, "sess")
    # nothing can close before the watermark moves: first run is empty
    # or a strict subset
    flusher = spark.createDataFrame(
        [(
            10**9,
            _dt.datetime(2030, 1, 1),
            999999,
            "view",
            1.0,
            "{}",
        )],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    flusher.coalesce(1).write.mode("append").parquet(src)
    got2 = _run_session_stream(spark, tmp_path, src, "sess")  # same ck
    emitted = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in got1 + got2
        if r["user_id"] != 999999
    }
    want = _batch_sessions(spark, sf)
    assert emitted == want
    assert len(want) > 20  # the corpus has real session structure


def test_session_stream_gap_boundary_matches_batch_strict_rule(
    spark, tmp_path
):
    """Events exactly 30:00.000000 apart stay in ONE session (the batch
    rule is strictly-greater); 30:00.000001 apart split — Spark's
    session-window merge is end-INCLUSIVE, so gap = 30 minutes
    reproduces the batch strict-> comparison exactly (this test is what
    pinned the inclusivity: a 1-microsecond gap padding merged the
    30:00.000001 pair, so half-open end semantics would be wrong)."""
    import datetime as _dt

    base = _dt.datetime(2024, 6, 1, 12, 0, 0)
    us = _dt.timedelta(microseconds=1)
    gap30 = _dt.timedelta(minutes=30)
    rows = [
        # user 1: exact-30min chain -> one session of 3
        (1, base, 1), (2, base + gap30, 1), (3, base + 2 * gap30, 1),
        # user 2: 30min + 1us -> two sessions
        (4, base, 2), (5, base + gap30 + us, 2),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(tmp_path / "gb_src")
    spark.createDataFrame(
        [(e, t, u, "view", 1.0, "{}") for e, t, u in rows], schema
    ).coalesce(1).write.parquet(src)
    _run_session_stream(spark, tmp_path, src, "gb")
    flusher = spark.createDataFrame(
        [(99, _dt.datetime(2030, 1, 1), 9, "view", 1.0, "{}")], schema
    )
    flusher.coalesce(1).write.mode("append").parquet(src)
    got = _run_session_stream(spark, tmp_path, src, "gb")
    by_user = {}
    for r in got:
        if r["user_id"] in (1, 2):
            by_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(by_user[1]) == [3]  # exact-30min gaps merge
    assert sorted(by_user[2]) == [1, 1]  # one microsecond more splits


def test_w7_stream_folds_cross_batch_disorder_within_watermark(spark, tmp_path):
    """ADVICE r10: a late event the watermark still admits must FOLD IN
    EVENT-TIME ORDER, not be dropped by a replay guard. Batch 1 delivers
    s@0min and p@15min; batch 2 delivers c@12min (admitted: watermark
    after batch 1 is 15-10=5min, and 12 > 5). The correct episode is
    s-c-p (longest 3, one browse step) — exactly what the batch query
    computes on the union."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    base = dt.datetime(2024, 3, 1, 12, 0, 0)

    def _row(eid, minute, etype):
        return (eid, base + dt.timedelta(minutes=minute), 9, etype, 1.0, "{}")

    src = str(tmp_path / "dis_src")
    spark.createDataFrame(
        [_row(1, 0, "signup"), (2, base + dt.timedelta(minutes=15), 9, "purchase", 1.0, "{}")],
        schema,
    ).coalesce(1).write.parquet(src)
    _run_pattern_stream(spark, tmp_path, src, "dis")
    spark.createDataFrame([_row(3, 12, "click")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = _run_pattern_stream(spark, tmp_path, src, "dis")  # same checkpoint
    assert got[9]["n_events"] == 3
    assert got[9]["n_matches"] == 1
    assert got[9]["longest_match"] == 3  # s c p — the late c folded in order
    assert got[9]["n_browse_steps"] == 1


def test_w7_stream_skips_empty_event_type_like_batch(spark, tmp_path):
    """An empty event_type is a ZERO-WIDTH character in the batch twin's
    per-key string (substring('',1,1) contributes nothing): the stream
    must skip it — not count it and not kill an episode with it, also
    across a batch boundary (pattern_stream filters such rows out before
    the fold)."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    base = dt.datetime(2024, 3, 2, 12, 0, 0)

    def _row(eid, minute, etype):
        return (eid, base + dt.timedelta(minutes=minute), 11, etype, 1.0, "{}")

    src = str(tmp_path / "em_src")
    # batch 1: s, '' , p — all pending (watermark 0); state crosses the
    # boundary with the empty-type row in the middle
    spark.createDataFrame(
        [_row(1, 0, "signup"), _row(2, 1, ""), _row(3, 2, "purchase")], schema
    ).coalesce(1).write.parquet(src)
    _run_pattern_stream(spark, tmp_path, src, "em")
    spark.createDataFrame([_row(4, 30, "signup")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = _run_pattern_stream(spark, tmp_path, src, "em")  # same checkpoint
    # batch twin on the union: 's' + '' + 'p' + 's' encodes to 'sps' —
    # one match of length 2, three counted events
    assert got[11]["n_events"] == 3  # the empty-type row never counts
    assert got[11]["n_matches"] == 1
    assert got[11]["longest_match"] == 2  # s then p, nothing between


def test_w7_stream_skips_null_event_type_like_batch(spark, tmp_path):
    """A null event_type is skipped by the batch twin (substring(NULL, 1, 1)
    is null and array_join drops it): user 11 = signup, NULL, purchase is
    one match over two events, and user 12 = NULL alone counts nothing,
    so the stream emits no snapshot for it."""
    from ssidentity_spark.plans.analytics import w7_event_pattern

    t0 = dt.datetime(2024, 3, 2, 12, 0, 0)
    rows = [
        (eid, t0 + dt.timedelta(minutes=eid), uid, etype, 1.0, "{}")
        for eid, uid, etype in ((1, 11, "signup"), (2, 11, None), (3, 11, "purchase"), (4, 12, None))
    ]
    src, sf = str(tmp_path / "nl_src"), str(tmp_path / "nl_sf")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    spark.read.parquet(src).write.parquet(sf + "/events.parquet")
    got = _run_pattern_stream(spark, tmp_path, src, "nl")
    want = {r["user_id"]: r.asDict() for r in w7_event_pattern(spark, sf).collect()}
    assert got[11] == want[11] == {
        "user_id": 11, "n_events": 2, "n_matches": 1,
        "longest_match": 2, "n_browse_steps": 0,
    }
    assert 12 not in got and want[12]["n_events"] == 0


# ---------------------------------------------------------------------------
# X28: order-statistic winsorization (plans/pipeline.py:pipe_winsorize)
# ---------------------------------------------------------------------------


def _winsorize(spark, tmp_path, values_by_type):
    import ssidentity_spark.plans  # noqa: F401
    from ssidentity_spark.registry import REGISTRY

    rows = [
        (t_i * 1000000 + i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
         1, t, float(v), "{}")
        for t_i, (t, vals) in enumerate(values_by_type.items())
        for i, v in enumerate(vals)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = REGISTRY["pipe_winsorize"].fn(spark, sf)
    return {r["event_type"]: r.asDict() for r in out.collect()}


def test_winsorize_clamps_planted_outliers_at_rank_fences(spark, tmp_path):
    """n=200 → rank ceil(200/100)=2 from each end: fences are the 2nd
    smallest/largest values, the two planted ±1000 outliers clamp to
    them, and both means equal their closed forms exactly (all sums are
    decimal-exact, one division)."""
    vals = [-1000.0] + [float(i) for i in range(1, 199)] + [1000.0]
    got = _winsorize(spark, tmp_path, {"a": vals})["a"]
    assert got["n_events"] == 200
    assert got["fence_lo"] == 1.0 and got["fence_hi"] == 198.0
    assert got["n_clamped_low"] == 1 and got["n_clamped_high"] == 1
    assert got["mean_before"] == 19701 / 200  # -1000 + sum(1..198) + 1000
    assert got["mean_after"] == 19900 / 200  # outliers -> 1.0 / 198.0


def test_winsorize_small_group_degenerates_to_identity(spark, tmp_path):
    """n<100 → rank 1: fences ARE min/max, nothing clamps (strict
    inequality), mean_after == mean_before even with wild outliers —
    the guard against tiny groups inventing a clamp."""
    vals = [-500.0, 500.0] + [10.0] * 48
    got = _winsorize(spark, tmp_path, {"b": vals})["b"]
    assert got["fence_lo"] == -500.0 and got["fence_hi"] == 500.0
    assert got["n_clamped_low"] == 0 and got["n_clamped_high"] == 0
    assert got["mean_after"] == got["mean_before"]


# ---------------------------------------------------------------------------
# ID1: behavioral identity linkage (plans/analytics.py:id_behavior_linkage)
# ---------------------------------------------------------------------------


def _linkage(spark, tmp_path, events):
    sf = str(tmp_path)
    spark.createDataFrame(
        events,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = REGISTRY["id_behavior_linkage"].fn(spark, sf)
    return {r["user_id"]: r.asDict() for r in out.collect()}


def test_linkage_clones_pick_each_other_with_exact_cosine_one(spark, tmp_path):
    """Two users with IDENTICAL 16-cell unit profiles: mutual top-1 with
    cosine exactly 1.0 (16 cells of count 1 → dot 16, norms sqrt(16)
    each — a perfect square, so even the float path is exact). A third
    user overlapping only half the cells scores lower and must not win;
    a fourth user active only in cells nobody shares has no candidate
    row at all (the sparse cell join generates nothing for it)."""
    rows = []
    eid = 0
    for u in (10, 11):  # clones: hours 0..15, one event each
        for h in range(16):
            rows.append((eid, dt.datetime(2024, 1, 1, h), u, "t", 1.0, "{}"))
            eid += 1
    for h in range(8):  # half-overlap user
        rows.append((eid, dt.datetime(2024, 1, 1, h), 12, "t", 1.0, "{}"))
        eid += 1
    for h in (20, 21, 22, 23):  # disjoint user
        rows.append((eid, dt.datetime(2024, 1, 1, h), 13, "t", 1.0, "{}"))
        eid += 1
    got = _linkage(spark, tmp_path, rows)
    assert got[10]["match_id"] == 11 and got[11]["match_id"] == 10
    assert got[10]["cosine"] == 1.0 and got[11]["cosine"] == 1.0
    assert got[10]["dot"] == 16 and got[10]["shared_cells"] == 16
    # the half-overlap user links to a clone (smaller id on the tie)
    assert got[12]["match_id"] == 10 and got[12]["shared_cells"] == 8
    assert got[12]["cosine"] < 1.0
    # no shared cell anywhere -> no row (never a zero-cosine fabrication)
    assert 13 not in got


def test_linkage_weights_beat_membership(spark, tmp_path):
    """Cosine must rank by count SHAPE, not cell membership: user 20's
    profile (9,1) should link to 21 (8,2) over 22 (1,9) even though all
    three share both cells — the integer dot products decide."""
    rows = []
    eid = 0
    for u, (c0, c1) in {20: (9, 1), 21: (8, 2), 22: (1, 9)}.items():
        for i in range(c0):
            rows.append((eid, dt.datetime(2024, 1, 1, 3, i), u, "t", 1.0, "{}"))
            eid += 1
        for i in range(c1):
            rows.append((eid, dt.datetime(2024, 1, 1, 9, i), u, "t", 1.0, "{}"))
            eid += 1
    got = _linkage(spark, tmp_path, rows)
    assert got[20]["match_id"] == 21
    assert got[21]["match_id"] == 20


def test_linkage_lsh_recall_catches_identical_profiles_always(spark, tmp_path):
    """E4's floor invariant: identical profiles produce identical
    signatures, so clone pairs are ALWAYS candidates — with only clones
    (plus a disjoint user who has no exact match at all) recall@1 must
    be exactly 1.0."""
    rows = []
    eid = 0
    for u in (30, 31):  # clones
        for h in range(16):
            rows.append((eid, dt.datetime(2024, 1, 1, h), u, "t", 1.0, "{}"))
            eid += 1
    for h in (20, 21):  # disjoint: excluded from the exact tier
        rows.append((eid, dt.datetime(2024, 1, 1, h), 32, "t", 1.0, "{}"))
        eid += 1
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    got = REGISTRY["id_linkage_lsh_recall_eval"].fn(spark, sf).collect()[0]
    assert got["n_users"] == 2  # only the clones have an exact match
    assert got["n_recalled"] == 2
    assert got["recall_at_1"] == 1.0
