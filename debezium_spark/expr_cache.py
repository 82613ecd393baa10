"""Once-built Column expressions for the per-batch plan.

Every ``F.*`` call, ``alias`` and ``cast`` is a Py4J round trip, and the
apply rebuilds the same expressions every batch: their shape depends on
the input schema, the key columns, the lake schema, ``partitions`` and
retention, none of which change between batches. :func:`built_once`
memoizes such a builder on its (hashable) arguments, so a batch pays
only for the expressions whose inputs changed.

A Column is an unresolved expression tree: it binds to a plan only when
a DataFrame uses it, so one Column serves any number of DataFrames. It
lives in the driver JVM, so the cache is dropped whenever the Py4J
gateway changes (a session started after the previous JVM exited).
"""

from __future__ import annotations

import functools
import json

from pyspark import SparkContext


def built_once(builder):
    """Memoize ``builder(*args)`` per argument tuple and JVM gateway.
    Arguments must be hashable and must be ALL the builder reads."""
    cache: dict = {}
    gateway = [None]

    @functools.wraps(builder)
    def get(*args):
        jvm = SparkContext._jvm
        if gateway[0] is not jvm:
            cache.clear()
            gateway[0] = jvm
        try:
            return cache[args]
        except KeyError:
            out = cache[args] = builder(*args)
            return out

    return get


def columns_key(columns: list[dict]) -> str:
    """Hashable form of a table schema's column list, every field of
    every column included; builders read the columns back with
    ``json.loads``."""
    return json.dumps(columns, sort_keys=True)
