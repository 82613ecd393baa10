import time

from perfbench.trace import DRIVER, Tracer, job_group, layer_of_group


class FakeContext:
    """Records the job-group local properties a tracer sets."""

    def __init__(self):
        self.props = {}
        self.groups_seen = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = description
        self.groups_seen.append(group)


def test_nested_spans_self_time_and_group_restore():
    sc = FakeContext()
    sc.setLocalProperty("spark.jobGroup.id", "outer")
    tracer = Tracer(sc)

    def leaf():
        assert sc.getLocalProperty("spark.jobGroup.id") == job_group("lake", "merge")
        time.sleep(0.05)

    merge = tracer._wrap("lake", "merge", leaf)

    def parent():
        time.sleep(0.02)
        merge()
        assert sc.getLocalProperty("spark.jobGroup.id") == job_group("engine", "stream")

    stream = tracer._wrap("engine", "stream", parent)
    t0 = time.perf_counter()
    stream()
    wall = time.perf_counter() - t0 + 0.01
    assert sc.getLocalProperty("spark.jobGroup.id") == "outer"

    rows = tracer.summary(wall)
    assert rows["engine"]["calls"] == 1 and rows["lake"]["calls"] == 1
    assert rows["lake"]["self_s"] >= 0.05
    assert 0.02 <= rows["engine"]["self_s"] < rows["engine"]["wall_s"]
    total = sum(r["self_s"] for r in rows.values())
    assert abs(total - wall) < 1e-9
    assert rows[DRIVER]["self_s"] >= 0.01


def test_recursion_into_same_layer_counts_wall_once():
    tracer = Tracer(FakeContext())
    inner = tracer._wrap("lake", "read_state", lambda: time.sleep(0.02))
    outer = tracer._wrap("lake", "merge", inner)
    outer()
    row = tracer.summary(1.0)["lake"]
    assert row["calls"] == 2
    assert abs(row["wall_s"] - row["self_s"]) < 1e-9


def test_layer_of_group():
    assert layer_of_group(job_group("operators.compaction", "compact")) == "operators.compaction"
    assert layer_of_group("3f1c-stream-run-id") == DRIVER
    assert layer_of_group(None) == DRIVER
