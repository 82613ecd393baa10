"""Property-based check of the LWW election kernel (hypothesis).

The reference's core invariant — the max-LSN event per key determines
the final row, regardless of arrival order (SURVEY §4
single-writer-per-partition; ChangeEventQueue FIFO) — must hold for
ARBITRARY event sequences, not just generator-shaped ones. Hypothesis
drives random op sequences over a small key space through the election
(``compaction.compact``, with and without tombstone retention) and a
pure-Python fold; they must agree exactly.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from debezium_spark.operators.compaction import compact

_SCHEMA = "repo string, path string, lsn bigint, op string, content string"

_events = st.lists(
    st.tuples(
        st.integers(0, 2),  # repo index
        st.integers(0, 2),  # path index
        st.sampled_from(["c", "u", "d"]),
        st.integers(0, 999),  # content token
    ),
    min_size=1,
    max_size=30,
)


def _result_map(df):
    return {
        (r["repo"], r["path"]): (
            r["_lsn"],
            "d" if r["_deleted"] else r["content"],
        )
        for r in df.collect()
    }


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_events)
def test_lww_kernels_match_python_fold_on_arbitrary_logs(spark, evs):
    rows = []
    expected = {}
    for lsn, (ri, pi, op, tok) in enumerate(evs, start=1):
        key = (f"r{ri}", f"p{pi}")
        content = None if op == "d" else f"v{tok}"
        rows.append((key[0], key[1], lsn, op, content))
        expected[key] = (lsn, "d" if op == "d" else content)
    # arrival order reversed: the winner comes from LSN, never position
    df = spark.createDataFrame(rows[::-1], _SCHEMA)
    assert _result_map(compact(df, retain_tombstones=True)) == expected
    live = {
        (r["repo"], r["path"]): (r["_lsn"], r["content"])
        for r in compact(df).collect()
    }
    assert live == {k: v for k, v in expected.items() if v[1] != "d"}
