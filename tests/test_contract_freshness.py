"""``CONTRACT_LOCAL.json`` certifies the catalog (124 entries against
their DuckDB oracles) at the commit it names in ``git_head``. Once the
package changes after that commit the record certifies code that no
longer runs, so it must be regenerated with ``tools/check_contract.py
--json CONTRACT_LOCAL.json <sf0.01 dir>``."""

from __future__ import annotations

import json
import os
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True
    )


def test_contract_record_is_at_the_package_head():
    try:
        inside = _git("rev-parse", "--is-inside-work-tree")
    except FileNotFoundError:
        pytest.skip("git is not installed")
    if inside.returncode != 0 or inside.stdout.strip() != "true":
        pytest.skip("not a git checkout")
    with open(os.path.join(REPO, "CONTRACT_LOCAL.json")) as fh:
        record = json.load(fh)
    head = record["git_head"]
    diff = _git("diff", "--name-only", head, "HEAD", "--", "debezium_spark/")
    assert diff.returncode == 0, (
        f"CONTRACT_LOCAL.json names git_head {head!r}, which this checkout "
        f"cannot resolve: {diff.stderr.strip()}"
    )
    assert not diff.stdout.strip(), (
        f"debezium_spark/ changed after the contract run at {head}; "
        "regenerate CONTRACT_LOCAL.json and EVIDENCE.md:\n" + diff.stdout
    )
    assert record["fail"] == 0 and record["pass"] == record["entries"]
