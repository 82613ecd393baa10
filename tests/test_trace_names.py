"""Every name the perfbench tracer wraps exists where it looks it up.

``perfbench/trace.py`` patches the attributes listed in its ``LAYERS``
only on a traced run (``--trace 1``); a renamed or deleted one breaks
that run and nothing else. Spark-free: imports only."""

from __future__ import annotations

from perfbench.trace import LAYERS


def test_every_traced_name_is_defined_on_its_owner():
    missing = [
        (layer, getattr(owner, "__name__", owner), name)
        for layer, pairs in LAYERS.items()
        for owner, name in pairs
        if name not in vars(owner)
    ]
    assert not missing
