"""The shared loop primitives (operators/iterate.py): the durability policy
of ``materialize`` and the round, stop and stats contract of ``iterate``."""

from __future__ import annotations

import contextlib

from pyspark.sql import functions as F

from ssidentity_spark.operators import iterate as loop
from ssidentity_spark.operators.iterate import iterate, materialize


@contextlib.contextmanager
def _checkpoint_dir(spark, path):
    """A session checkpoint directory for one block. Spark has no public
    unset, so the previous value is put back through the context's
    setter: a directory left behind would make every later
    ``materialize`` in the session reliable."""
    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    sc.setCheckpointDir(str(path))
    try:
        yield path
    finally:
        opt = sc._jvm.scala.Option
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            opt.apply(before) if before else opt.empty()
        )
    assert sc.getCheckpointDir() == before


def _checkpointed_rdd(df):
    return df._jdf.queryExecution().analyzed().rdd()


def test_materialize_is_local_without_a_checkpoint_dir(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    out = materialize(spark.range(5))
    rdd = _checkpointed_rdd(out)
    assert rdd.isCheckpointed() and rdd.getCheckpointFile().isEmpty()
    assert sorted(r.id for r in out.collect()) == list(range(5))


def test_materialize_is_reliable_with_a_checkpoint_dir(spark, tmp_path):
    with _checkpoint_dir(spark, tmp_path / "ckpt") as path:
        out = materialize(spark.range(5))
        rdd = _checkpointed_rdd(out)
        assert rdd.isCheckpointed() and rdd.getCheckpointFile().isDefined()
        assert str(path) in rdd.getCheckpointFile().get()
        assert any(path.rglob("part-*"))
        assert sorted(r.id for r in out.collect()) == list(range(5))


def _countdown(spark):
    """x in 0..4, each round x -> max(x - 1, 0): the fixpoint (all zero)
    is reached in round 4."""
    state = spark.range(5).select(F.col("id").alias("x"))
    seen = []

    def step(df, m):
        seen.append(dict(m))
        return df.select(F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))

    return state, step, seen


def test_iterate_stops_at_the_fixpoint_and_fills_stats(spark):
    state, step, seen = _countdown(spark)
    stats = {}
    out = iterate(
        step,
        state,
        10,
        metrics={"pos": F.count_if(F.col("x") > 0)},
        done=lambda m, _prev: m["pos"] == 0,
        init={"pos": 4},
        stats=stats,
    )
    assert [r.x for r in out.collect()] == [0] * 5
    assert stats["iterations"] == 4 and stats["converged"] is True
    assert stats["rows"] == [5, 5, 5, 5] and len(stats["seconds"]) == 4
    # each step sees the previous round's observed values, init first
    assert seen == [{"pos": 4}] + [{"rows": 5, "pos": p} for p in (3, 2, 1)]


def test_iterate_respects_the_round_cap(spark):
    state, step, _ = _countdown(spark)
    stats = {}
    out = iterate(
        step,
        state,
        2,
        metrics={"pos": F.count_if(F.col("x") > 0)},
        done=lambda m, _prev: m["pos"] == 0,
        stats=stats,
    )
    assert sorted(r.x for r in out.collect()) == [0, 0, 0, 1, 2]
    assert stats["iterations"] == 2 and stats["converged"] is False


def _jobs(spark, group, fn) -> int:
    """The number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_a_round_launches_no_job_besides_its_checkpoint(spark):
    """The fixpoint test reads the round's Observation: a narrow round is
    exactly one job (its checkpoint), the stop decision included."""
    state, step, _ = _countdown(spark)
    stats = {}
    n = _jobs(
        spark,
        "test-iterate-jobs",
        lambda: iterate(
            step,
            state,
            10,
            metrics={"pos": F.count_if(F.col("x") > 0)},
            done=lambda m, _prev: m["pos"] == 0,
            stats=stats,
        ),
    )
    assert stats["iterations"] == 4
    assert n == 4


def _pagerank_jobs(spark, tag):
    """The jobs of ``pagerank`` on a 20-vertex graph at 2 and 3 rounds."""
    from ssidentity_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 20}", 1.0) for i in range(20)]
        + [(f"n{i}", f"n{(i + 1) % 20}", 1.0) for i in range(20)],
        "src string, dst string, w double",
    )
    return tuple(
        _jobs(spark, f"test-pagerank-{tag}-{it}", lambda it=it: pagerank(e, iters=it))
        for it in (2, 3)
    )


def test_a_pagerank_round_launches_at_most_two_jobs(spark, monkeypatch):
    """On the Spark rounds, one more round costs the rank broadcast and
    the checkpoint: the cached edge and state sides sit at the session
    shuffle width, so the state join never re-shuffles them."""
    monkeypatch.setattr(loop, "BROADCAST_BYTES", 0)
    n2, n3 = _pagerank_jobs(spark, "spark")
    assert n3 - n2 <= 2


def test_in_memory_pagerank_rounds_launch_no_job(spark):
    """Within the driver budget the rounds run in numpy: one more round
    launches no Spark job."""
    n2, n3 = _pagerank_jobs(spark, "in-memory")
    assert n3 == n2


def test_a_connected_components_round_launches_at_most_seven_jobs(spark):
    """Paths of 4 and 8 edges reach the fixpoint in 4 and 5 rounds; the
    extra round costs at most 7 jobs (a HashMin round launched 5, a
    large/small-star round 16)."""
    from ssidentity_spark.operators.graph import connected_components

    jobs, rounds = [], []
    for n in (4, 8):
        e = spark.createDataFrame(
            [(f"p{i}", f"p{i + 1}") for i in range(n)], "mac_a string, mac_b string"
        )
        stats = {}
        jobs.append(
            _jobs(spark, f"test-cc-{n}", lambda: connected_components(e, stats=stats))
        )
        rounds.append(stats["iterations"])
    assert rounds == [4, 5]
    assert jobs[1] - jobs[0] <= 7


def test_a_kcore_peel_round_broadcasts_alive_once(spark):
    """A peel round over a checkpointed alive set: one broadcast of the
    alive set and the round's checkpoint, and the edges it keeps are
    exactly those with both ends alive."""
    from ssidentity_spark.plans.graph import _alive_edges

    edges = [(u, v) for u in range(12) for v in range(12) if u != v and (u + v) % 3]
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = spark.createDataFrame(edges, "u long, v long").repartition(width, "u").cache()
    sym.count()  # the loop's edge cache, filled before its first round
    alive = materialize(spark.range(10).select(F.col("id").alias("u")))
    out = []
    n = _jobs(
        spark,
        "test-kcore-peel",
        lambda: out.append(materialize(_alive_edges(sym, alive))),
    )
    assert n == 2
    assert sorted(map(tuple, out[0].collect())) == [
        (u, v) for u, v in edges if u < 10 and v < 10
    ]
    sym.unpersist()


def test_pagerank_ranks_equal_under_reliable_checkpoints(spark, tmp_path, monkeypatch):
    """The durability policy changes where round state is written, never
    the ranks (the Spark rounds, which write round state)."""
    from ssidentity_spark.operators.graph import pagerank

    monkeypatch.setattr(loop, "BROADCAST_BYTES", 0)

    e = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 1.0), ("c", "d", 3.0)],
        "src string, dst string, w double",
    )
    local = {r.node: r.rank for r in pagerank(e, iters=4).collect()}
    with _checkpoint_dir(spark, tmp_path / "ckpt") as path:
        reliable = {r.node: r.rank for r in pagerank(e, iters=4).collect()}
        assert any(path.rglob("part-*"))
    assert reliable == local
