from perfbench.gate import Expected, compare

STATE = {
    ("org/project-0000", "src/a.py"): ("c0", "py", "h0"),
    ("org/project-0000", "src/b.go"): ("c1", "go", "h1"),
    ("org/project-0001", "src/c.rs"): ("c2", "rs", "h2"),
}
OFFSETS = {0: 120, 1: 98}


def test_identical_state_passes():
    assert compare(dict(STATE), dict(OFFSETS), Expected(STATE, OFFSETS)) == []


def test_single_flipped_row_is_flagged():
    actual = dict(STATE)
    actual[("org/project-0000", "src/b.go")] = ("c1", "go", "hX")
    problems = compare(actual, dict(OFFSETS), Expected(STATE, OFFSETS))
    assert len(problems) == 1
    assert "src/b.go" in problems[0]


def test_missing_and_extra_keys_are_flagged():
    actual = dict(STATE)
    del actual[("org/project-0001", "src/c.rs")]
    actual[("org/project-0002", "src/d.md")] = ("c3", "md", "h3")
    problems = compare(actual, dict(OFFSETS), Expected(STATE, OFFSETS))
    assert any("missing" in p for p in problems)
    assert any("unexpected" in p for p in problems)


def test_offsets_must_match_log_max_lsn():
    problems = compare(dict(STATE), {0: 120, 1: 96}, Expected(STATE, OFFSETS))
    assert problems and "offsets" in problems[0]


def test_snapshot_only_partition_commits_lsn_zero():
    assert compare(dict(STATE), {0: 120, 1: 98, 2: 0}, Expected(STATE, OFFSETS)) == []
