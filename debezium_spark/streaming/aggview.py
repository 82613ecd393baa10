"""Incrementally-maintained aggregate view over a lake's change feed.

The engine-level counterpart of the ``cdc_incremental_agg`` catalog
query: a Materialize- / Flink-retract-style materialized view that a
downstream consumer keeps current by folding the lake's committed NET
changes (:meth:`LakeTable.table_changes`) as signed deltas — +after
into the row's new group, −before out of its old group — instead of
re-aggregating the table. Debezium's own consumers build exactly such
views from the emitted topic (SURVEY §2.4, the "derived sink table"
pattern; reference consumers are external, so the reference has no
in-engine analogue — this is the Spark-native realization).

Scale posture: one ``refresh()`` reads only the buckets the manifest
diff says were rewritten (metadata-only pruning in ``table_changes``),
shuffles the DELTA rows once on the group key, and merges them into a
state table whose size is O(#groups), not O(table). At 10^10 rows the
view maintenance cost rides the change rate, never the accumulated
corpus — the property that makes the retract plan the only viable one
at that scale.

Exactly-once: the applied lake version is the fence. It is committed
in the same atomic ``os.replace`` as the state pointer, so a crash
anywhere in ``refresh()`` leaves the previous (version, state) pair
intact and the next refresh re-folds the same feed idempotently (the
fold is a pure function of the two endpoint manifests — NET diff, so
re-delivery cannot double-count).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debezium_spark.lake import LakeTable

_STATE_SCHEMA = "g string, live_rows bigint, agg_bytes bigint"


class _View:
    """What both views share: the pointer file that commits a state
    directory together with the applied lake version, and the field-id
    pinning of the configured columns."""

    def __init__(
        self,
        spark: SparkSession,
        lake: LakeTable,
        root: str,
        group_col: str = "lang",
        measure_col: str = "content",
    ):
        self.spark = spark
        self.lake = lake
        self.root = root
        self.group_col = group_col
        self.measure_col = measure_col
        os.makedirs(root, exist_ok=True)

    # -- commit plumbing ------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.root, "VIEW_POINTER.json")

    def _pointer(self) -> dict:
        try:
            with open(self._pointer_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"applied_version": 0, "state": None}

    def applied_version(self) -> int:
        return self._pointer()["applied_version"]

    def _commit(self, version: int, rel: str, fids: list[int]) -> None:
        """Point the view at the state directory ``rel``, folded through
        lake ``version``: the pointer's atomic ``os.replace`` is the
        commit point; the previous state directory is removed after."""
        tmp = tempfile.NamedTemporaryFile(
            "w", dir=self.root, suffix=".json.tmp", delete=False
        )
        with tmp as f:
            json.dump(
                {"applied_version": version, "state": rel, "field_ids": fids},
                f,
            )
        prev = self._pointer()["state"]
        os.replace(tmp.name, self._pointer_path())
        if prev and prev != rel:
            shutil.rmtree(os.path.join(self.root, prev), ignore_errors=True)

    # -- column identity ------------------------------------------------

    def _resolved_cols(self) -> tuple[str, str, list[int]]:
        """(group_name, measure_name, [group_fid, measure_fid]) in the
        lake's CURRENT schema. Field ids pinned at first refresh; a
        fresh view resolves the configured names."""
        schema = self.lake.table_schema()
        fids = self._pointer().get("field_ids")
        if fids:
            by_id = {c["field_id"]: c["name"] for c in schema.columns}
            try:
                return by_id[fids[0]], by_id[fids[1]], fids
            except KeyError as e:
                raise ValueError(
                    f"view column (field id {e}) dropped from the lake"
                ) from None
        fids = [
            schema.col(self.group_col)["field_id"],
            schema.col(self.measure_col)["field_id"],
        ]
        return self.group_col, self.measure_col, fids


class MaterializedAggView(_View):
    """Per-group ``(live_rows, agg_bytes)`` over a :class:`LakeTable`.

    ``group_col`` names a logical column whose value buckets rows
    (NULL groups as its own bucket); the measure is
    ``length(measure_col)`` in bytes (0 for NULL) — e.g. bytes of
    ``content`` per ``lang``, the corpus-composition view an ingest
    operator watches. The configured names are resolved ONCE against
    the lake schema and pinned by FIELD ID in the view pointer
    (Iceberg column identity): a schema-change rename between
    refreshes re-resolves to the column's current logical name —
    which is the name ``table_changes`` emits — so the view keeps
    folding the same column, not whatever now happens to wear the
    old name.
    """

    def state(self) -> DataFrame:
        """Current view contents ``(g, live_rows, agg_bytes)``."""
        p = self._pointer()
        if p["state"] is None:
            return self.spark.createDataFrame([], _STATE_SCHEMA)
        return self.spark.read.parquet(os.path.join(self.root, p["state"]))

    # -- the fold -------------------------------------------------------

    def _deltas(self, feed: DataFrame, g: str, m: str) -> DataFrame:
        size = lambda side: F.coalesce(  # noqa: E731
            F.length(F.col(f"{side}.{m}")).cast("long"), F.lit(0)
        )
        after = F.when(
            F.col("after").isNotNull(),
            F.struct(
                F.col(f"after.{g}").cast("string").alias("g"),
                F.lit(1).cast("long").alias("dc"),
                size("after").alias("dv"),
            ),
        )
        before = F.when(
            F.col("before").isNotNull(),
            F.struct(
                F.col(f"before.{g}").cast("string").alias("g"),
                F.lit(-1).cast("long").alias("dc"),
                (-size("before")).alias("dv"),
            ),
        )
        return (
            feed.select(F.explode(F.array(after, before)).alias("x"))
            .filter(F.col("x").isNotNull())
            .select("x.*")
            .groupBy("g")
            .agg(
                F.sum("dc").alias("live_rows"),
                F.sum("dv").alias("agg_bytes"),
            )
        )

    def refresh(self) -> dict:
        """Fold all lake commits since the last refresh into the view.

        Returns ``{"skipped": True}`` when already current. One call =
        one delta aggregation (a shuffle of the changed rows only) +
        one O(#groups) state merge, committed atomically with the new
        fence.
        """
        cur = self.lake.current_version()
        applied = self.applied_version()
        if cur == applied:
            return {"skipped": True, "applied_version": applied}

        g, m, fids = self._resolved_cols()
        feed = self.lake.table_changes(applied, cur)
        merged = (
            self.state()
            .unionByName(self._deltas(feed, g, m))
            .groupBy("g")
            .agg(
                F.sum("live_rows").alias("live_rows"),
                F.sum("agg_bytes").alias("agg_bytes"),
            )
            # a group retracted to zero live rows leaves the view —
            # exact integer telescoping guarantees its byte sum is 0
            .filter(F.col("live_rows") > 0)
        )
        rel = f"state_v{cur}"
        out = os.path.join(self.root, rel)
        merged.coalesce(1).write.mode("overwrite").parquet(out)
        self._commit(cur, rel, fids)
        return {
            "skipped": False,
            "applied_version": cur,
            "from_version": applied,
        }

    # -- verification ---------------------------------------------------

    def recompute(self) -> DataFrame:
        """The full-scan answer the view must equal — tests/ops use
        this to audit a refresh; production never needs it."""
        g, m, _ = self._resolved_cols()
        return (
            self.lake.read_state()
            .groupBy(F.col(g).cast("string").alias("g"))
            .agg(
                F.count("*").alias("live_rows"),
                F.sum(
                    F.coalesce(F.length(F.col(m)).cast("long"), F.lit(0))
                ).alias("agg_bytes"),
            )
        )


# internal stand-in for a NULL group value: joins and retraction
# matching need a non-null key (SQL NULL never equals NULL). \x00
# cannot appear in parquet string data written by this engine's
# sources, so the sentinel cannot collide — and because that is a
# claim about DATA, not code, _gcol enforces it: any group value
# starting with \x00 fails the refresh loudly instead of silently
# conflating with the NULL group.
_NULLG = "\x00null"


def _gcol(col: Column) -> Column:
    s = col.cast("string")
    return (
        F.when(
            s.startswith("\x00"),
            F.raise_error(
                F.lit(
                    "group value starts with \\x00 and would collide "
                    "with the NULL-group sentinel"
                )
            ),
        )
        .when(s.isNotNull(), s)
        .otherwise(F.lit(_NULLG))
    )


def _gout(col: Column) -> Column:
    return F.when(col == _NULLG, F.lit(None)).otherwise(col)


class MaterializedTopKView(_View):
    """Incrementally-maintained per-group TOP-K — the non-linear
    sibling of :class:`MaterializedAggView`.

    MIN/MAX/TOP-K cannot be folded from signed deltas alone: deleting
    a group's current maximum needs the runner-up, which a scalar
    state no longer holds. The scale-correct design (Materialize's
    hierarchical-reduction idea collapsed to one tier) keeps a BOUNDED
    per-group buffer of the top ``k + slack`` rows plus a
    delta-maintained live count; a refresh folds additions and
    retractions into the buffer, and only when deletions drain a
    group's buffer below ``k`` while its live count says more rows
    exist does it re-read that ONE group from the table — a targeted
    filtered scan, amortized away by ``slack``. Maintenance cost rides
    the change rate; the recompute path is the bounded exception,
    never the rule.

    Rows rank by ``(length(measure_col) DESC, repo, path)`` — e.g.
    largest files per language, deterministic total order. State: one
    row per group ``(g, live, topk: array<struct<v,repo,path>>, fr)``,
    array stored rank-ordered. Fencing/commit semantics are identical
    to :class:`MaterializedAggView` (atomic pointer replace, NET-diff
    idempotent re-fold); columns are pinned by FIELD ID exactly like
    the sibling view, so a schema rename between refreshes keeps
    folding the same column.

    ``fr`` is the group's COMPLETENESS FRONTIER: the rank key (stored
    as ``(nv=-v, repo, path)`` so smaller = better) of the best row
    ever truncated from the buffer. Invariant maintained by every
    fold: *the buffer holds exactly the live rows strictly better
    than fr* (``fr`` NULL = the buffer holds every live row). Adds
    at-or-below the frontier are therefore REJECTED from the buffer —
    counted in ``live`` only — because admitting them could not be
    distinguished from the truncated rows between them and the
    buffer's tail, and surfacing one later would poison the top-k
    (a small add entering an unsaturated buffer while larger
    truncated rows exist). Under the invariant the buffer is always
    the group's true top-``|buffer|``, so ``size < min(k, live)`` is a
    *sufficient* rebuild trigger, and a rebuild re-establishes the
    frontier from the full scan.
    """

    _FR_T = "struct<nv: bigint, repo: string, path: string>"
    _STATE = (
        "g string, live bigint, "
        "topk array<struct<v: bigint, repo: string, path: string>>, "
        f"fr {_FR_T}"
    )

    def __init__(
        self,
        spark: SparkSession,
        lake: LakeTable,
        root: str,
        k: int = 3,
        slack: int = 3,
        group_col: str = "lang",
        measure_col: str = "content",
    ):
        super().__init__(spark, lake, root, group_col, measure_col)
        self.k = int(k)
        self.slack = int(slack)

    def _buffer(self) -> DataFrame:
        p = self._pointer()
        if p["state"] is None:
            return self.spark.createDataFrame([], self._STATE)
        df = self.spark.read.parquet(os.path.join(self.root, p["state"]))
        if "fr" not in df.columns:  # state written before frontiers
            df = df.withColumn("fr", F.lit(None).cast(self._FR_T))
        return df

    def topk(self) -> DataFrame:
        """Current answer: ``(g, rank, v, repo, path)``, rank 1..k."""
        b = self._buffer().select(
            "g", F.posexplode("topk").alias("i", "e")
        )
        return b.filter(F.col("i") < self.k).select(
            _gout(F.col("g")).alias("g"),
            (F.col("i") + 1).alias("rank"),
            F.col("e.v").alias("v"),
            F.col("e.repo").alias("repo"),
            F.col("e.path").alias("path"),
        )

    # -- the fold -------------------------------------------------------

    def _rank_window(self):
        return Window.partitionBy("g").orderBy(
            F.col("v").desc(), "repo", "path"
        )

    def _collect_ranked(self, df: DataFrame) -> DataFrame:
        """(g, v, repo, path) rows -> (g, topk array, fr_trunc) with
        the array rank-ordered and capped at k + slack. The natural
        struct order of (-v, repo, path) makes array_sort the ranking.
        ``fr_trunc`` is the rank key of the BEST row truncated by the
        cap (the (cap+1)-th row) or NULL when nothing was dropped —
        the new completeness frontier when truncation occurs."""
        cap = self.k + self.slack
        ranked = df.withColumn(
            "__r", F.row_number().over(self._rank_window())
        ).filter(F.col("__r") <= cap + 1)
        allc = F.array_sort(
            F.collect_list(
                F.struct((-F.col("v")).alias("nv"), "repo", "path", "v")
            )
        )
        spill = F.element_at(F.col("__all"), cap + 1)
        return (
            ranked.groupBy("g")
            .agg(allc.alias("__all"))
            .select(
                "g",
                F.transform(
                    F.slice(F.col("__all"), 1, cap),
                    lambda x: F.struct(
                        x["v"].alias("v"),
                        x["repo"].alias("repo"),
                        x["path"].alias("path"),
                    ),
                ).alias("topk"),
                F.when(
                    F.size("__all") == cap + 1,
                    F.struct(
                        spill["nv"].alias("nv"),
                        spill["repo"].alias("repo"),
                        spill["path"].alias("path"),
                    ),
                ).alias("fr_trunc"),
            )
        )

    def refresh(self) -> dict:
        cur = self.lake.current_version()
        applied = self.applied_version()
        if cur == applied:
            return {"skipped": True, "applied_version": applied}
        g, m, fids = self._resolved_cols()
        feed = self.lake.table_changes(applied, cur)
        size = lambda side: F.coalesce(  # noqa: E731
            F.length(F.col(f"{side}.{m}")).cast("long"), F.lit(0)
        )
        mk = lambda side, dc: F.when(  # noqa: E731
            F.col(side).isNotNull(),
            F.struct(
                _gcol(F.col(f"{side}.{g}")).alias("g"),
                size(side).alias("v"),
                F.col("repo"),
                F.col("path"),
                F.lit(dc).cast("long").alias("dc"),
            ),
        )
        deltas = (
            feed.select(
                F.explode(F.array(mk("after", 1), mk("before", -1))).alias(
                    "x"
                )
            )
            .filter(F.col("x").isNotNull())
            .select("x.*")
        )
        deltas.persist()

        buf = self._buffer()
        live = (
            buf.select("g", "live")
            .unionByName(deltas.groupBy("g").agg(F.sum("dc").alias("live")))
            .groupBy("g")
            .agg(F.sum("live").alias("live"))
            .filter(F.col("live") > 0)
        )
        old = buf.select("g", F.explode("topk").alias("e")).select(
            "g", "e.v", "e.repo", "e.path"
        )
        frontiers = buf.select("g", "fr")
        # frontier gate: an add at-or-below the group's frontier must
        # NOT enter the buffer — truncated rows better than it are not
        # buffered, so admitting it could later surface it as a false
        # top-k member (the buffer-poisoning class). It still counts
        # in `live` (the delta agg above saw every dc).
        addkey = F.struct(
            (-F.col("v")).alias("nv"),
            F.col("repo").alias("repo"),
            F.col("path").alias("path"),
        )
        adds = (
            deltas.filter(F.col("dc") == 1)
            .select("g", "v", "repo", "path")
            .join(frontiers, "g", "left")
            .filter(F.col("fr").isNull() | (addkey < F.col("fr")))
            .select("g", "v", "repo", "path")
        )
        # a retraction removes the key from the OLD buffer only; the
        # paired addition of an update re-inserts it (possibly in the
        # same group — pruning the union instead would delete the
        # fresh row too). NET diff => at most one add per key, and a
        # 'c' key cannot already sit in the buffer, so no dup risk.
        rets = deltas.filter(F.col("dc") == -1).select("g", "repo", "path")
        merged = self._collect_ranked(
            old.join(rets, ["g", "repo", "path"], "left_anti").unionByName(
                adds
            )
        )
        # new frontier: the best row truncated THIS fold if any (it is
        # always better than the old frontier — everything in the fold
        # was), else the old one; reset to NULL (complete) when the
        # buffer provably holds every live row again.
        nsize = F.coalesce(F.size("topk"), F.lit(0))
        state = (
            live.join(merged, "g", "left")
            .join(frontiers, "g", "left")
            .select(
                "g",
                "live",
                "topk",
                F.when(
                    nsize == F.col("live"),
                    F.lit(None).cast(self._FR_T),
                )
                .otherwise(F.coalesce("fr_trunc", "fr"))
                .alias("fr"),
            )
        )
        state.persist()

        # underflow: the buffer holds fewer than min(k, live) rows ->
        # deletions consumed the slack. Under the frontier invariant
        # the buffer is always the group's true top-size(buffer), so
        # this check is SUFFICIENT: re-read exactly those groups.
        under = [
            r["g"]
            for r in state.filter(
                F.coalesce(F.size("topk"), F.lit(0))
                < F.least(F.lit(self.k), F.col("live"))
            ).collect()
        ]
        if under:
            rebuilt = self._collect_ranked(
                self.lake.read_state()
                .withColumn("g", _gcol(F.col(g)))
                .filter(F.col("g").isin(under))
                .select(
                    "g",
                    F.coalesce(
                        F.length(F.col(m)).cast("long"), F.lit(0)
                    ).alias("v"),
                    "repo",
                    "path",
                )
            ).withColumnsRenamed({"topk": "topk2", "fr_trunc": "fr2"})
            state = state.join(rebuilt, "g", "left").select(
                "g",
                "live",
                F.when(F.col("g").isin(under), F.col("topk2"))
                .otherwise(F.col("topk"))
                .alias("topk"),
                F.when(F.col("g").isin(under), F.col("fr2"))
                .otherwise(F.col("fr"))
                .alias("fr"),
            )

        rel = f"state_v{cur}"
        state.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.root, rel)
        )
        deltas.unpersist()
        self._commit(cur, rel, fids)
        return {
            "skipped": False,
            "applied_version": cur,
            "from_version": applied,
            "underflow_groups": len(under),
        }

    def recompute(self) -> DataFrame:
        """Full-scan top-k per group (audit twin of :meth:`topk`)."""
        g, m, _ = self._resolved_cols()
        return (
            self.lake.read_state()
            .select(
                _gcol(F.col(g)).alias("g"),
                F.coalesce(F.length(F.col(m)).cast("long"), F.lit(0)).alias(
                    "v"
                ),
                "repo",
                "path",
            )
            .withColumn("rank", F.row_number().over(self._rank_window()))
            .filter(F.col("rank") <= self.k)
            .select(_gout(F.col("g")).alias("g"), "rank", "v", "repo", "path")
        )
