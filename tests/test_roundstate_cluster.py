"""The 100 TB recovery story depends on the fixpoint runtime taking the
RELIABLE-checkpoint branch on a cluster master (the local branch is
localCheckpoint-only), and on its release ordering: a round's parent
drops only once the child is filled. Pure unit tests — the master
string is mocked, no Spark session is started."""

from __future__ import annotations

import pytest

from mapreduce_sssp_spark.graph.fixpoint import RoundState, converge, cut, hold

CLUSTER = "spark://host:7077"


class FakeContext:
    def __init__(self, master: str, log: list[str]):
        self.master = master
        self.log = log
        self.ckpt_dir = None

    def getCheckpointDir(self):
        return self.ckpt_dir

    def setCheckpointDir(self, path):
        self.log.append("setCheckpointDir")
        self.ckpt_dir = path


class FakeSpark:
    def __init__(self, master: str):
        self.log: list[str] = []
        self.sparkContext = FakeContext(master, self.log)


class FakeDF:
    """Records every call, on itself and in the session-wide log."""

    def __init__(self, spark: FakeSpark, name: str = "df", n: int = 0):
        self.sparkSession = spark
        self.name = name
        self.n = n
        self.calls: list[str] = []

    def _record(self, call: str):
        self.calls.append(call)
        self.sparkSession.log.append(f"{self.name}.{call}")
        return self

    def persist(self, *_a):
        return self._record("persist")

    def unpersist(self, *_a):
        return self._record("unpersist")

    def checkpoint(self, *_a):
        return self._record("checkpoint")

    def localCheckpoint(self, eager=True):
        return self._record(f"localCheckpoint(eager={eager})")

    def count(self):
        self._record("count")
        return self.n


@pytest.fixture(autouse=True)
def _ckpt_dir(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", str(tmp_path))


def _run(spark: FakeSpark, counts: list[int], every: int, test=None):
    """converge from s0 over fake rounds s1, s2, ... whose counts are
    ``counts``."""
    rounds = iter(enumerate(counts, 1))

    def step(_state, _n):
        i, n = next(rounds)
        return FakeDF(spark, f"s{i}", n)

    return converge(
        "fake", FakeDF(spark, "s0"), step, test,
        every=every, max_rounds=len(counts),
    )


def test_cluster_branch_uses_reliable_checkpoints():
    spark = FakeSpark(CLUSTER)
    rs = RoundState(spark, every=2)
    df = FakeDF(spark)
    assert hold(df) is df and df.calls == ["persist"]

    df2 = FakeDF(spark)
    cut(df2)
    assert df2.calls == ["checkpoint"]

    # advance: persist each round, reliable checkpoint on the cadence
    # (materialize from cache, then drop the pre-checkpoint copy).
    df3 = FakeDF(spark)
    rs.advance(df3, rnd=1)
    assert df3.calls == ["persist"]
    df4 = FakeDF(spark)
    rs.advance(df4, rnd=2)
    assert df4.calls == ["persist", "checkpoint", "unpersist"]


def test_local_branch_uses_local_checkpoints():
    spark = FakeSpark("local[4]")
    rs = RoundState(spark, every=2)
    df = FakeDF(spark)
    hold(df)
    assert df.calls == ["localCheckpoint(eager=False)"]
    df2 = FakeDF(spark)
    cut(df2)
    assert df2.calls == ["localCheckpoint(eager=True)"]
    df3 = FakeDF(spark)
    rs.advance(df3, rnd=2)
    assert df3.calls == ["localCheckpoint(eager=False)"]


def test_cut_branches_on_master():
    local = FakeDF(FakeSpark("local[*]"))
    cut(local)
    assert local.calls == ["localCheckpoint(eager=True)"]
    cluster = FakeDF(FakeSpark("k8s://https://api:6443"))
    cut(cluster)
    assert cluster.calls == ["checkpoint"]


def test_parent_released_after_child_count_off_cadence():
    spark = FakeSpark(CLUSTER)
    _run(spark, [1, 0], every=5, test=lambda df: df)
    assert spark.log == [
        "s1.persist", "s1.count", "s0.unpersist",
        "s2.persist", "s2.count", "s1.unpersist",
    ]


def test_parent_released_right_after_checkpoint_on_cadence():
    spark = FakeSpark(CLUSTER)
    out = _run(spark, [1, 0], every=2, test=lambda df: df)
    assert out.name == "s2"
    # round 2 is a cadence round: the eager reliable checkpoint fills
    # s2, so s1 drops before the convergence count, not after it.
    assert spark.log == [
        "s1.persist", "s1.count", "s0.unpersist",
        "s2.persist", "setCheckpointDir", "s2.checkpoint", "s2.unpersist",
        "s1.unpersist", "s2.count",
    ]


def test_checkpoint_dir_set_only_by_cluster_checkpoint():
    spark = FakeSpark(CLUSTER)
    _run(spark, [3, 2, 1, 0], every=3, test=lambda df: df)
    assert spark.log.count("setCheckpointDir") == 1
    assert spark.log.index("setCheckpointDir") == spark.log.index("s3.persist") + 1

    local = FakeSpark("local[4]")
    _run(local, [3, 2, 1, 0], every=1, test=lambda df: df)
    cut(FakeDF(local))
    assert "setCheckpointDir" not in local.log
    assert local.sparkContext.getCheckpointDir() is None


def test_fixed_rounds_never_stop_early_and_never_warn(recwarn):
    spark = FakeSpark("local[4]")
    out = _run(spark, [7, 7, 7], every=5)
    assert out.name == "s3"
    assert not [w for w in recwarn if w.category is RuntimeWarning]


def test_test_first_counts_the_start_state_and_feeds_the_step():
    spark = FakeSpark("local[4]")
    seen = []

    def step(state, n):
        seen.append(n)
        return FakeDF(spark, "s1", 0)

    out = converge(
        "peel", FakeDF(spark, "s0", 4), step, lambda df: df,
        every=3, max_rounds=5, test_first=True,
    )
    assert out.name == "s1" and seen == [4]
    assert spark.log[0] == "s0.count"
