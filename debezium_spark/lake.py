"""Bucketed lake table with manifest commits — the MERGE INTO sink.

Stands in for an Iceberg table (Iceberg jars aren't in this sandbox;
the layout below is deliberately Iceberg-shaped so the production path
is a drop-in ``MERGE INTO``):

- base files live under ``data/v{N}/bucket={b}/``, hash-bucketed on the
  key ``(repo, path)`` — the analogue of Iceberg's bucket partition
  transform. A merge (:meth:`LakeTable.merge`, a merge-as-compaction
  of state and change rows) only writes **touched buckets**; untouched
  buckets are carried forward by reference in the manifest, so merge
  cost scales with the change set, not the table.
- **merge-on-read deltas** (Iceberg v2 delete files / Delta deletion
  vectors): a bucket that a batch changes sparsely is not rewritten.
  The batch's elected rows of all such buckets go into ONE delta file,
  ``data/v{N}/delta/``, and each of those buckets' manifest entries
  lists it under ``deltas``; reads combine a bucket's base with its
  deltas (:func:`~debezium_spark.operators.compaction.elect_sources`).
  A bucket is folded back into a new base (copy-on-write) when a batch
  is dense in it or once the table holds ``MAX_DELTAS`` delta files.
- a numbered JSON manifest per commit under ``_commits/`` records the
  live file set, the field-id table schema (see
  :mod:`debezium_spark.schema_evolution`), cumulative per-partition
  offsets, and ``last_batch_id``. Commit = write-temp + atomic rename —
  the analogue of an Iceberg snapshot commit. ``_expiry.json`` records
  the oldest version that snapshot expiry retained.
- **fencing**: batch ids are monotone; re-delivery of an
  already-committed batch (``foreachBatch`` crash-replay) is detected
  against ``last_batch_id`` and skipped — this upgrades the reference's
  at-least-once offset flush (``embedded/EmbeddedEngine.java:815-905``)
  to exactly-once table effect.
- per-batch lineage rows under ``_lineage/`` (events applied, max LSN
  per source partition — the analogue of Debezium's
  SnapshotMeter/StreamingMeter JMX metrics,
  ``pipeline/meters/StreamingMeter.java:30-66``), written just before
  the batch's manifest and reported once the manifest commits.
"""

from __future__ import annotations

import functools
import json
import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.operators.compaction import compact, elect_sources
from debezium_spark.schema_evolution import TableSchema


def _bucket_expr(n_buckets: int) -> str:
    """A key's bucket (existing lakes are partitioned by exactly this)."""
    return f"CAST(pmod(xxhash64(repo, path), {n_buckets}) AS INT)"


def _change_projection(columns: list[dict], n_buckets: int) -> list[str]:
    """``op``, ``lsn``, every physical column cast to its table type,
    and the key's ``bucket``: the merge's view of a batch's changes."""
    return [
        "op",
        "lsn",
        *[
            f"CAST({_ident(c['physical'])} AS {c['type']}) AS {_ident(c['physical'])}"
            for c in columns
        ],
        f"{_bucket_expr(n_buckets)} AS bucket",
    ]


def _state_projection(
    file_cols: tuple[tuple[str, str], ...],
    columns: list[dict],
    logical: bool,
    with_sys: bool,
    retain_tombstones: bool,
) -> tuple[str, str | None, list[str]]:
    """How :meth:`LakeTable.read_state` reads files whose physical
    columns are ``file_cols`` (``(physical, type)`` pairs of the schema
    that wrote them) as the table schema ``columns``:
    ``(read DDL, row filter or None, projection)``.

    The read DDL is the files' physical schema plus the system columns;
    a file written by a non-retaining merge has no ``_deleted`` column
    and reads it as NULL, which counts as live."""
    present = {p for p, _ in file_cols}
    read_ddl = ", ".join(
        [f"{_ident(p)} {t}" for p, t in file_cols]
        + ["`_lsn` bigint", "`_deleted` boolean"]
    )
    dead = "coalesce(_deleted, false)"
    project = []
    for c in columns:
        name = _ident(c["name"] if logical else c["physical"])
        if c["physical"] in present:
            project.append(f"CAST({_ident(c['physical'])} AS {c['type']}) AS {name}")
        else:
            # file predates the column: Iceberg initial-default
            # semantics — project the column's default (NULL when
            # none). Rows written AFTER the add with an explicit NULL
            # take the branch above and stay NULL.
            project.append(f"CAST({_literal(c.get('default'))} AS {c['type']}) AS {name}")
    if with_sys:
        project.append("_lsn")
        if retain_tombstones:
            project.append(f"{dead} AS _deleted")
    # consumer-facing reads never see tombstones; a NON-retaining lake
    # drops them even from merge reads (retention switched off ⇒ they
    # are just garbage)
    keep = None if with_sys and retain_tombstones else f"NOT {dead}"
    return read_ddl, keep, project


def _merged_output(
    columns: list[dict], logical: bool, with_sys: bool, retain_tombstones: bool
) -> tuple[str | None, list[str]]:
    """How :meth:`LakeTable.read_state` presents the election of a
    merge-on-read bucket (physical columns, ``_lsn`` and, under
    retention, ``_deleted``): ``(row filter or None, projection)``,
    the same contract as :func:`_state_projection`."""
    project = [
        f"{_ident(c['physical'])} AS {_ident(c['name'] if logical else c['physical'])}"
        for c in columns
    ]
    if with_sys:
        project.append("_lsn")
        if retain_tombstones:
            project.append("_deleted")
    keep = "NOT _deleted" if retain_tombstones and not with_sys else None
    return keep, project


# Merge-on-read fold rule, from a sweep on the 4-core benchmark host
# (see CHANGES.md). A bucket in which a batch changes at least
# FOLD_MIN_KEYS keys is rewritten (copy-on-write); a sparser one gets
# the batch's delta file. Once the table holds MAX_DELTAS delta files,
# the next merge rewrites every bucket that lists one. Either constant
# at 0 is pure copy-on-write.
FOLD_MIN_KEYS = 8
MAX_DELTAS = 8


def _fold_plan(
    files: dict, keys_in: dict[int, int], truncate: bool
) -> tuple[list[int], list[int]]:
    """Split a batch's touched buckets (``keys_in``: changed keys per
    bucket) into ``(rewrite, delta)`` under the fold rule. A TRUNCATE
    rewrites every live bucket; a bucket with no base file is always
    written as a base."""
    if truncate:
        return sorted(set(keys_in) | {int(b) for b in files}), []
    listed = {d["path"] for e in files.values() for d in e.get("deltas", ())}
    if len(listed) >= MAX_DELTAS:
        folded = {int(b) for b, e in files.items() if e.get("deltas")}
        return sorted(set(keys_in) | folded), []
    rewrite = sorted(
        b for b, n in keys_in.items() if n >= FOLD_MIN_KEYS or str(b) not in files
    )
    return rewrite, sorted(set(keys_in) - set(rewrite))


def _is_data_dir(name: str) -> bool:
    """A bucket's base directory or a batch's delta directory."""
    return name.startswith("bucket=") or name == "delta"


def _ident(name: str) -> str:
    """A SQL identifier: backtick-quoted, embedded backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def _literal(value) -> str:
    """A SQL literal for a JSON scalar (a column default): ``NULL``, a
    boolean, a number (a float as a DOUBLE, like ``F.lit``) or a string
    quoted with ``\\`` and ``'`` escaped."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"{value!r}D" if math.isfinite(value) else f"CAST('{value}' AS DOUBLE)"
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bucket_in(buckets: list[int]) -> str:
    """A ``bucket IN (...)`` row filter (SQL text: one round trip)."""
    return f"bucket IN ({', '.join(map(str, buckets))})"


def _by_bucket(values: dict[int, int], default: str) -> str:
    """SQL text mapping a row's ``bucket`` to ``values[bucket]`` and
    every other bucket to ``default``: one branch per distinct value."""
    groups: dict[int, list[int]] = {}
    for b, v in sorted(values.items()):
        groups.setdefault(v, []).append(b)
    branches = " ".join(f"WHEN {_bucket_in(bs)} THEN {v}" for v, bs in groups.items())
    return f"CASE {branches} ELSE {default} END" if branches else default


def _union(parts: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, parts)


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this manifest version first (optimistic
    concurrency, Iceberg ``CommitFailedException`` analogue)."""


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 32,
        retain_tombstones: bool = False,
    ):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        # retain_tombstones=True keeps deletes as hidden tombstone rows
        # (key + _lsn + _deleted=true, values NULL) instead of removing
        # state — the Kafka-log-compaction design. With tombstones a
        # late LOWER-LSN event of a deleted key still has a row to lose
        # the LSN-guard against, so the merge becomes order-tolerant
        # across batches for deletes too (without them, a delete
        # consumed before a lower-LSN event of the same key is
        # resurrected by it). Consumer reads filter tombstones; only
        # with_sys readers (the merge itself) see them.
        self.retain_tombstones = retain_tombstones
        self._manifest_cache: dict[int, dict] = {}

    # -- layout helpers ------------------------------------------------
    @property
    def _commits_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    @property
    def _lineage_dir(self) -> str:
        return os.path.join(self.root, "_lineage")

    @property
    def _expiry_path(self) -> str:
        return os.path.join(self.root, "_expiry.json")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._commits_dir, f"{version:08d}.json")

    # -- lifecycle -----------------------------------------------------
    def create(self, schema: TableSchema | None = None) -> dict:
        os.makedirs(self._commits_dir, exist_ok=True)
        os.makedirs(self._lineage_dir, exist_ok=True)
        schema = schema or TableSchema()
        manifest = {
            "version": 0,
            "batch_id": None,
            "last_batch_id": -1,
            "last_batch_ids": {},
            "files": {},
            "n_buckets": self.n_buckets,
            "schema": schema.columns,
            "schema_version": schema.version,
            "offsets": {},
            "metrics": {},
            "ts": time.time(),
        }
        self._write_manifest(manifest)
        return manifest

    def exists(self) -> bool:
        return os.path.isdir(self._commits_dir) and bool(os.listdir(self._commits_dir))

    def current_version(self) -> int:
        names = [n for n in os.listdir(self._commits_dir) if n.endswith(".json")]
        if not names:
            raise FileNotFoundError(f"no commits in {self._commits_dir}")
        return max(int(n.split(".")[0]) for n in names)

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v not in self._manifest_cache:
            with open(self._manifest_path(v)) as f:
                self._manifest_cache[v] = json.load(f)
        man = self._manifest_cache[v]
        if version is None and "n_buckets" in man:
            # the LATEST manifest's bucket spec is authoritative — a
            # client opening with a stale constructor width would
            # misroute keys (missing-bucket reads → duplicate inserts).
            # The constructor value only seeds create()/pre-spec lakes.
            self.n_buckets = int(man["n_buckets"])
        return man

    def _write_manifest(self, manifest: dict) -> None:
        """Atomic EXCLUSIVE commit — Iceberg's optimistic concurrency:
        ``link(tmp, final)`` both publishes atomically and fails with
        ``FileExistsError`` if another writer committed this version
        first (plain ``rename`` overwrites silently — a split-brain
        second driver would erase a committed merge). The loser must
        re-read the table and retry its commit against the new head;
        the single-writer engine never hits this."""
        v = manifest["version"]
        tmp = os.path.join(self._commits_dir, f".tmp.{v}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        final = self._manifest_path(v)
        try:
            os.link(tmp, final)  # atomic + exclusive
        except FileExistsError:
            os.unlink(tmp)
            raise ConcurrentCommitError(
                f"version {v} was committed by another writer; re-read "
                "the table head and retry"
            ) from None
        os.unlink(tmp)
        self._manifest_cache[v] = manifest

    def table_schema(self, version: int | None = None) -> TableSchema:
        m = self.manifest(version)
        return TableSchema(m["schema"], m["schema_version"])

    # -- read ----------------------------------------------------------
    def _bucket_col(self):
        return F.expr(_bucket_expr(self.n_buckets))

    def read_state(
        self,
        buckets: list[int] | None = None,
        logical: bool = True,
        with_sys: bool = False,
        version: int | None = None,
    ) -> DataFrame:
        """Table state. ``logical=True`` projects physical file
        columns to logical names/types (field-id rename + widen at read,
        Iceberg-style); ``logical=False`` keeps physical names (used by
        merge so rewritten files stay in physical space). ``with_sys``
        includes the hidden ``_lsn`` column (the LSN that wrote each
        row — the merge guard).

        A bucket with no deltas is a plain scan of its base file. A
        bucket that lists deltas is read merge-on-read: its base and
        its deltas' rows are combined by
        :func:`~debezium_spark.operators.compaction.elect_sources`, which
        equals applying the deltas one by one, in commit order, with
        the merge's rule (a row is dropped when a later delta deletes
        its key at a higher LSN; the highest LSN wins, ties going to
        the earlier source; a delete is kept as a tombstone only in a
        retaining lake).

        ``version`` pins a historical manifest — TIME TRAVEL, the
        Iceberg ``VERSION AS OF`` read: every commit's manifest is an
        immutable snapshot whose file entries point at the exact data
        files that were live then (untouched buckets keep their older
        ``data/v{k}`` paths and deltas), so a pinned read reproduces the
        table as of that commit. Raises ``FileNotFoundError`` if the
        version has been expired (:meth:`expire_snapshots`), even when
        its manifest and files survive as sources of retained versions."""
        if version is not None and version < self._retained_from():
            raise FileNotFoundError(f"version {version} has been expired")
        man = self.manifest(version)
        schema = self.table_schema(version)
        entries = {
            int(b): e
            for b, e in man["files"].items()
            if buckets is None or int(b) in buckets
        }
        sys_cols = [("_lsn", "bigint")] if with_sys else []
        if with_sys and self.retain_tombstones:
            sys_cols.append(("_deleted", "boolean"))
        if not entries:
            ddl = ", ".join(
                [
                    f"{_ident(c['name' if logical else 'physical'])} {c['type']}"
                    for c in schema.columns
                ]
                + [f"{_ident(n)} {t}" for n, t in sys_cols]
            )
            return self.spark.createDataFrame([], ddl)
        plain = [e for e in entries.values() if not e.get("deltas")]
        merged = {b: e for b, e in entries.items() if e.get("deltas")}
        parts = []
        if plain:
            parts.extend(
                self._scan(plain, schema.columns, logical, with_sys, self.retain_tombstones)
            )
        if merged:
            parts.append(self._read_merged(merged, schema.columns, logical, with_sys))
        return _union(parts)

    def _scan(
        self,
        entries: list[dict],
        columns: list[dict],
        logical: bool,
        with_sys: bool,
        retain_tombstones: bool,
    ) -> list[DataFrame]:
        """The base files of ``entries`` as the table schema ``columns``:
        one scan per physical file schema, every file read with the
        schema of the manifest that wrote it, so no footer is
        inferred."""
        parts = []
        for file_cols, paths in self._by_writer_schema(entries).items():
            read_ddl, keep, project = _state_projection(
                file_cols, columns, logical, with_sys, retain_tombstones
            )
            df = self.spark.read.schema(read_ddl).parquet(*paths)
            if keep is not None:
                df = df.filter(keep)
            parts.append(df.selectExpr(*project))
        return parts

    def _read_merged(
        self, entries: dict[int, dict], columns: list[dict], logical: bool, with_sys: bool
    ) -> DataFrame:
        """Buckets that list deltas: their base files and the rows of
        their deltas, combined by :func:`elect_sources` (merge-on-read).
        Sources are ordered by the version that wrote them: a bucket's
        base predates every delta it lists. The deltas are read in one
        scan per writer schema, whose rows carry the ``_version`` that
        wrote them.

        A source's deletes stand as tombstones only if its merge
        retained them, and only until a merge that did not retain them
        touched the bucket: copy-on-write under such a merge drops every
        tombstone of the buckets it rewrites."""

        def retained(version: int) -> bool:
            return self.manifest(version)["retain_tombstones"]

        cleared = {
            b: max(
                (d["version"] for d in e["deltas"] if not retained(d["version"])),
                default=0,
            )
            for b, e in entries.items()
        }
        bases = []
        for kept in (True, False):
            group = [e for b, e in entries.items() if (cleared[b] == 0) is kept]
            if group:
                bases.extend(
                    df.selectExpr("*", "0 AS _src", f"{_literal(kept)} AS _tombstones")
                    for df in self._scan(group, columns, False, True, True)
                )
        listed = {
            d["path"]: d["version"] for e in entries.values() for d in e["deltas"]
        }
        # a bucket lists exactly the deltas that hold its rows and were
        # written after its base, so a delta row counts iff its
        # _version is above its bucket's base version
        after_base = "_version > " + _by_bucket(
            {b: e["version"] for b, e in entries.items()}, "NULL"
        )
        # a delta always holds its deletes (they must drop earlier
        # rows); they are tombstones only as said above
        not_retained = sorted({v for v in listed.values() if not retained(v)})
        tombstones = (
            f"_version NOT IN ({', '.join(map(str, not_retained))}) AND "
            f"_version > {_by_bucket({b: c for b, c in cleared.items() if c}, '0')}"
            if not_retained
            else "true"
        )
        deltas = []
        by_schema = self._by_writer_schema(
            {"path": p, "version": v} for p, v in sorted(listed.items())
        )
        for file_cols, paths in by_schema.items():
            read_ddl, _, project = _state_projection(
                file_cols, columns, False, True, True
            )
            deltas.append(
                self.spark.read.schema(read_ddl + ", `bucket` int, `_version` int")
                .parquet(*paths)
                .filter(after_base)
                .selectExpr(
                    *project, "_version AS _src", f"{tombstones} AS _tombstones"
                )
            )
        keep, project = _merged_output(
            columns, logical, with_sys, self.retain_tombstones
        )
        won = elect_sources(_union(bases + deltas), self.retain_tombstones)
        if keep is not None:
            won = won.filter(keep)
        return won.selectExpr(*project)

    def _by_writer_schema(self, files) -> dict[tuple, list[str]]:
        """The paths of ``files`` (``path``/``version`` entries: bases or
        deltas) grouped by the ``(physical, type)`` columns of the
        schema whose commit wrote them."""
        groups: dict[tuple, list[str]] = {}
        for f in files:
            written = self.manifest(f["version"])["schema"]
            groups.setdefault(
                tuple((c["physical"], c["type"]) for c in written), []
            ).append(os.path.join(self.root, f["path"]))
        return groups

    def _on_disk(self) -> list[int]:
        return sorted(
            int(n.split(".")[0])
            for n in os.listdir(self._commits_dir)
            if n.endswith(".json")
        )

    def versions(self) -> list[int]:
        """The readable commit versions, ascending: every manifest on
        disk that :meth:`expire_snapshots` has not expired."""
        floor = self._retained_from()
        return [v for v in self._on_disk() if v >= floor]

    def _retained_from(self) -> int:
        """The oldest version the last :meth:`expire_snapshots`
        retained; 0 before any expiry."""
        try:
            with open(self._expiry_path) as f:
                return int(json.load(f)["retained_from"])
        except FileNotFoundError:
            return 0

    def version_as_of(self, ts: float) -> int:
        """``TIMESTAMP AS OF``: the latest commit whose manifest
        timestamp is at or before ``ts`` (every commit records its
        wall-clock ``ts`` at manifest write). O(retained versions)
        cached metadata reads, no data access. Raises ``ValueError``
        when ``ts`` predates the earliest retained commit (earlier
        history may have been expired)."""
        best = None
        for v in self.versions():
            if self.manifest(v)["ts"] <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"no retained commit at or before ts={ts} "
                f"(earliest retained: {self.versions()[:1]})"
            )
        return best

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg-style snapshot expiry (``expireSnapshots`` +
        orphan-file removal): retain the newest ``keep_last`` commits,
        record the oldest of them in ``_expiry.json`` beside
        ``_commits/``, delete every base or delta directory no retained
        manifest references, then drop the expired manifest JSONs.
        Reads of a version below the record raise, whether or not its
        files survive.

        Without this, the merge grows storage with every
        commit forever — at a 100 TB table with per-minute batches
        that is the difference between ~1× and ~1440× daily storage.

        Correctness under crash at any point:

        * the record is written (atomically) before anything is
          deleted, so no read of an expired version can reach a
          half-deleted file set;
        * base and delta dirs are deleted only if NO retained manifest
          references them, so retained reads (current + time travel
          within the window) never lose a file;
        * manifest JSONs are kept while EITHER retained or still
          referenced as a file-schema source by a retained manifest's
          entries (untouched buckets keep old ``data/v{k}`` paths whose
          schema lives in manifest ``k``);
        * a crash mid-expiry leaves only already-unreferenced garbage,
          which the next expiry removes — it can never orphan a
          retained version.

        Driver-side file ops are O(versions + buckets) local renames/
        unlinks — metadata scale, no data pass. Returns counts.
        """
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        retained = set(self.versions()[-keep_last:])
        tmp = self._expiry_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"retained_from": min(retained)}, f)
        os.replace(tmp, self._expiry_path)
        # manifests needed as schema sources by retained file entries
        needed = set(retained)
        referenced_dirs: set[str] = set()
        for v in retained:
            for e in self.manifest(v)["files"].values():
                for f in (e, *e.get("deltas", ())):
                    needed.add(int(f["version"]))
                    referenced_dirs.add(f["path"])

        removed_dirs = 0
        data_root = os.path.join(self.root, "data")
        if os.path.isdir(data_root):
            for vdir in sorted(os.listdir(data_root)):
                vpath = os.path.join(data_root, vdir)
                if not os.path.isdir(vpath):
                    continue
                for bdir in sorted(os.listdir(vpath)):
                    if (
                        _is_data_dir(bdir)
                        and f"data/{vdir}/{bdir}" not in referenced_dirs
                    ):
                        shutil.rmtree(os.path.join(vpath, bdir))
                        removed_dirs += 1
                # once no bucket or delta dir survives, drop the whole
                # version dir (removes Hadoop _SUCCESS/.crc markers too)
                if not any(map(_is_data_dir, os.listdir(vpath))):
                    shutil.rmtree(vpath)

        removed_manifests = 0
        for v in self._on_disk():
            if v not in needed:
                os.unlink(self._manifest_path(v))
                self._manifest_cache.pop(v, None)
                removed_manifests += 1
        return {
            "retained": sorted(retained),
            "removed_data_dirs": removed_dirs,
            "removed_manifests": removed_manifests,
        }

    def purge_tombstones(self, below_lsn: int) -> dict:
        """Drop retained delete tombstones with ``_lsn < below_lsn`` —
        Kafka's ``delete.retention.ms`` compaction analogue. Safe once
        every consumer/redelivery frontier has passed ``below_lsn``:
        an event older than that can no longer arrive, so the
        tombstone has nothing left to guard. One commit rewriting only
        the buckets that actually hold purgeable tombstones (their
        deltas folded into the new base).
        """
        if not self.retain_tombstones:
            raise ValueError("lake does not retain tombstones")
        man = self.manifest()
        state = self.read_state(logical=False, with_sys=True)
        dead = f"_deleted AND _lsn < {_literal(below_lsn)}"
        touched = [
            r["bucket"]
            for r in state.filter(dead)
            .withColumn("bucket", self._bucket_col())
            .select("bucket")
            .distinct()
            .collect()
        ]
        if not touched:
            return {"purged_buckets": [], "version": man["version"]}
        keep = self.read_state(
            buckets=touched, logical=False, with_sys=True
        ).filter(f"NOT ({dead})")
        files = dict(man["files"])
        self._write_buckets(keep, man["version"] + 1, touched, files)
        manifest = self._commit(
            man, {"tombstone_purge_below": below_lsn}, files=files
        )
        return {"purged_buckets": sorted(touched), "version": manifest["version"]}

    def rebucket(self, new_n_buckets: int) -> dict:
        """Partition-spec evolution: rewrite the table under a new
        bucket count — Iceberg's spec evolution + rewrite in one fenced
        commit. A fixed bucket width cannot follow table growth (32
        buckets at 100 TB is ~3 TB per bucket: COW rewrites and
        in-bucket joins stop fitting an executor), so the width must
        scale with the table; the new spec lands in the manifest and
        every later open adopts it from there (the manifest, not the
        client constructor, is authoritative — see :meth:`manifest`).

        One full shuffle of the table by the new bucket key, written
        bucket-partitioned; retained tombstones ride along. Crash-safe
        like any commit: the manifest rename is the commit point, and
        a half-written ``data/v{N}`` without its manifest is orphan
        garbage the next :meth:`expire_snapshots` removes.
        """
        if new_n_buckets < 1:
            raise ValueError(f"bad bucket count {new_n_buckets}")
        man = self.manifest()
        old_n = self.n_buckets
        if new_n_buckets == old_n:
            return {"version": man["version"], "n_buckets": old_n}
        state = self.read_state(logical=False, with_sys=True)
        files: dict = {}
        self.n_buckets = new_n_buckets
        try:
            self._write_buckets(
                state, man["version"] + 1, list(range(new_n_buckets)), files
            )
        except Exception:
            self.n_buckets = old_n
            raise
        manifest = self._commit(
            man, {"rebucket_from": old_n, "rebucket_to": new_n_buckets}, files=files
        )
        return {"version": manifest["version"], "n_buckets": new_n_buckets}

    def table_changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Incremental read of the committed NET changes between two
        versions — the Delta CDF / Iceberg incremental-scan analogue,
        computed on read from the bucket manifests (no stored change
        files). Downstream consumers poll this instead of
        re-diffing full table snapshots; it is the stream the
        reference engine itself would publish onward (SURVEY §2.4 —
        Debezium's emitted topic, re-derived here from any two lake
        commits).

        Scale: bucket pruning is METADATA-ONLY — a bucket is read (in
        both versions) iff its file entry (base or deltas) differs
        between the two manifests, so at 100 TB with sparse batches
        the scan touches only changed buckets, never the table. Within those buckets
        the diff joins the two pinned reads per key and keeps rows
        whose guarding ``_lsn`` changed: carried-over neighbours of a
        rewritten bucket (same key, same ``_lsn``) are filtered out,
        so one hot key's rewrite does not spam the feed with its
        bucket-mates.

        Semantics: NET diff of endpoint states (intermediate churn
        between the two versions collapses; chain consecutive
        ``(v, v+1)`` calls for per-commit granularity). Rows come out
        Debezium-flavoured: key columns, ``op`` c/u/d,
        ``before``/``after`` structs in the ``v_to`` LOGICAL schema —
        schema evolution between the versions aligns by field id
        (physical names are rename-stable; columns added after
        ``v_from`` read NULL in ``before``) — plus the pre/post guard
        LSNs. Retained delete tombstones count as absence, so a
        delete is reported exactly once and never as a live row.

        Raises ``FileNotFoundError`` if either manifest has been
        expired (:meth:`expire_snapshots`).
        """
        if v_to is None:
            v_to = self.current_version()
        if not 0 <= v_from <= v_to:
            raise ValueError(f"bad version range {v_from}..{v_to}")
        m_from, m_to = self.manifest(v_from), self.manifest(v_to)
        touched = sorted(
            int(b)
            for b in set(m_from["files"]) | set(m_to["files"])
            if m_from["files"].get(b) != m_to["files"].get(b)
        )
        schema = self.table_schema(v_to)
        non_key = [
            c for c in schema.columns if c["name"] not in ("repo", "path")
        ]

        def _side(version: int, tag: str) -> DataFrame:
            df = self.read_state(
                buckets=touched,
                logical=False,
                with_sys=True,
                version=version,
            )
            if "_deleted" in df.columns:
                df = df.filter("NOT coalesce(_deleted, false)")
            img = ", ".join(
                f"CAST({_ident(c['physical']) if c['physical'] in df.columns else 'NULL'}"
                f" AS {c['type']}) AS {_ident(c['name'])}"
                for c in non_key
            )
            return df.selectExpr(
                "repo", "path", f"struct({img}) AS _{tag}_img", f"_lsn AS _{tag}_lsn"
            )

        j = _side(v_from, "o").join(
            _side(v_to, "n"), ["repo", "path"], "full_outer"
        )
        return j.filter(
            "_o_lsn IS NULL OR _n_lsn IS NULL OR _o_lsn != _n_lsn"
        ).selectExpr(
            "repo",
            "path",
            "CASE WHEN _o_lsn IS NULL THEN 'c' WHEN _n_lsn IS NULL THEN 'd' "
            "ELSE 'u' END AS op",
            "CASE WHEN _o_lsn IS NOT NULL THEN _o_img END AS `before`",
            "CASE WHEN _n_lsn IS NOT NULL THEN _n_img END AS `after`",
            "_o_lsn AS lsn_pre",
            "_n_lsn AS lsn_post",
        )

    # -- merge (the MERGE INTO analogue) --------------------------------
    def merge(
        self,
        changes: DataFrame,
        batch_id: int,
        frontier_fn=None,
        phase: str = "stream",
        truncate_lsn: int | None = None,
    ) -> dict:
        """Apply a batch of change rows — LSN-guarded MERGE, computed as
        a merge-as-compaction over the buckets the batch touches.

        ``changes`` columns: ``op``, ``lsn`` + the **physical** schema
        columns, any number of rows per key; ``op == 'd'`` deletes the
        key, anything else upserts. The table effect is

            MERGE INTO t USING (newest change per key) c ON (repo, path)
              WHEN MATCHED AND op='d' AND c.lsn > t._lsn THEN DELETE
              WHEN MATCHED AND c.lsn > t._lsn THEN UPDATE SET *
              WHEN NOT MATCHED AND op<>'d' THEN INSERT *

        One ≤n_buckets-row job finds the touched buckets and the keys
        the batch changes in each, then the fold rule splits them:

        - a bucket in which the batch changes at least ``FOLD_MIN_KEYS``
          keys, or that has no base file yet, is rewritten
          (copy-on-write): its state (base + deltas) is read, unioned
          with the change rows, and :func:`compact` elects one winner
          per key;
        - every other touched bucket is left as it is: the batch's rows
          for them are elected alone (deletes kept as ``_deleted``
          rows, whatever the retention) and written once, as one delta
          file sorted by bucket (rows carry ``bucket`` and the
          ``_version`` that wrote them), which each of their manifest
          entries appends to its ``deltas``. No state is read;
        - once the table holds ``MAX_DELTAS`` delta files, the merge
          rewrites every bucket that lists one, with the batch's own.

        Untouched buckets are carried forward by reference. Reads see
        the same table either way (:meth:`read_state`).

        ``truncate_lsn``: a TRUNCATE event at that LSN was seen in the
        batch (data/Envelope.java:319 — no image; table effect = delete
        every row written below it). State rows with
        ``_lsn < truncate_lsn`` are wiped; the caller pre-filters change
        rows to ``lsn > truncate_lsn``. Every live bucket is rewritten.

        ``frontier_fn`` (the engine's offset/lineage callback) returns
        ``(offsets, lineage_rows, n_events, counters)``; it is called
        once the bucket-discovery job has run — that job materializes
        the observed metrics it reads.

        Exactly-once is belt-and-braces: (1) monotone ``batch_id``
        fencing skips whole re-delivered batches; (2) the per-row LSN
        guard (state keeps the hidden ``_lsn`` of the event that wrote
        each row) makes any stale or duplicated event a no-op, so even
        out-of-order batch delivery converges to the same final state.
        """
        man = self.manifest()
        if batch_id <= self.last_batch_id(phase):
            return {"skipped": True, "version": man["version"], "batch_id": batch_id}

        schema = self.table_schema()
        new_version = man["version"] + 1
        changes = changes.selectExpr(*_change_projection(schema.columns, self.n_buckets))
        # Persist the change rows ONCE: one ≤n_buckets-row job yields the
        # touched buckets and the changed-key count (buckets partition
        # keys, so per-bucket distinct counts sum exactly), and the
        # cached rows feed the election without re-running the upstream
        # scan and transforms.
        changes.persist()
        rows = (
            changes.groupBy("bucket")
            .agg(F.expr("count(DISTINCT repo, path) AS keys"))
            .collect()
        )
        keys_in = {r["bucket"]: r["keys"] for r in rows}
        metrics = {"phase": phase}
        offsets, lineage_rows = {}, None
        if frontier_fn is not None:
            offsets, lineage_rows, n_events, counters = frontier_fn()
            metrics.update(events=n_events, **counters)
        metrics["changes"] = int(sum(keys_in.values()))
        files = dict(man["files"])
        rewrite, delta = _fold_plan(files, keys_in, truncate_lsn is not None)
        if rewrite:
            cow = changes if not delta else changes.filter(_bucket_in(rewrite))
            old = self.read_state(buckets=rewrite, logical=False, with_sys=True)
            if truncate_lsn is not None:
                old = old.filter(f"_lsn > {truncate_lsn}")
            self._write_buckets(
                compact(cow.drop("bucket"), old, self.retain_tombstones),
                new_version,
                rewrite,
                files,
            )
        if delta:
            # after the rewrite: its overwrite clears data/v{N}
            sparse = changes if not rewrite else changes.filter(_bucket_in(delta))
            (
                compact(sparse.drop("bucket"), None, retain_tombstones=True)
                .selectExpr(
                    "*",
                    f"{_bucket_expr(self.n_buckets)} AS bucket",
                    f"{new_version} AS _version",
                )
                .coalesce(1)
                .sortWithinPartitions("bucket")
                .write.mode("overwrite")
                .parquet(os.path.join(self.root, f"data/v{new_version}/delta"))
            )
            ref = {"path": f"data/v{new_version}/delta", "version": new_version}
            for b in delta:
                e = files[str(b)]
                files[str(b)] = {**e, "deltas": [*e.get("deltas", ()), ref]}
        changes.unpersist()

        # lineage first: until the manifest commits it, :meth:`lineage`
        # hides the file, and a rerun of the batch rewrites it
        if lineage_rows:
            self._append_lineage(batch_id, lineage_rows, phase)
        self._commit(
            man, metrics, files=files, offsets=offsets, batch_id=batch_id, phase=phase
        )
        return {"skipped": False, "version": new_version, "batch_id": batch_id}

    def _write_buckets(
        self, state: DataFrame, version: int, buckets: list[int], files: dict
    ) -> None:
        """Write ``state`` (physical and system columns) as the base
        files of ``buckets`` under ``data/v{version}``, one shuffle
        partition per bucket, and point ``files`` (a manifest's file
        map) at them. A bucket that gets no rows leaves ``files``."""
        out_dir = os.path.join(self.root, f"data/v{version}")
        (
            state.withColumn("bucket", self._bucket_col())
            .repartition(len(buckets), "bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
        written = {
            int(n.split("=")[1]) for n in os.listdir(out_dir) if n.startswith("bucket=")
        }
        for b in buckets:
            if b in written:
                files[str(b)] = {"path": f"data/v{version}/bucket={b}", "version": version}
            else:
                files.pop(str(b), None)

    def _commit(
        self,
        man: dict,
        metrics: dict,
        files: dict | None = None,
        schema: TableSchema | None = None,
        offsets: dict | None = None,
        batch_id: int | None = None,
        phase: str | None = None,
    ) -> dict:
        """Commit the version after ``man`` (the head it was planned
        on) and return its manifest. What is not given carries
        forward; ``offsets`` raise the per-partition offsets they name.
        A batch commit (``batch_id``) advances the global fence and
        ``phase``'s; any other commit records ``batch_id: None`` and
        carries every fence forward."""
        fences = man.get("last_batch_ids", {})
        last = int(man["last_batch_id"])
        if batch_id is not None:
            fences, last = {**fences, phase: batch_id}, max(last, batch_id)
        new_offsets = dict(man["offsets"])
        for k, v in (offsets or {}).items():
            new_offsets[str(k)] = max(int(v), int(new_offsets.get(str(k), -1)))
        schema = schema or TableSchema(man["schema"], man["schema_version"])
        manifest = {
            "version": man["version"] + 1,
            "batch_id": batch_id,
            "last_batch_id": last,
            "last_batch_ids": fences,
            "files": man["files"] if files is None else files,
            "n_buckets": self.n_buckets,
            "schema": schema.columns,
            "schema_version": schema.version,
            "offsets": new_offsets,
            "metrics": metrics,
            "retain_tombstones": self.retain_tombstones,
            "ts": time.time(),
        }
        self._write_manifest(manifest)
        return manifest

    # perfbench/trace.py looks this name up; re-point the trace, then delete
    merge_full = merge

    # -- schema evolution ------------------------------------------------
    def apply_schema_change(self, change: dict) -> dict:
        """Commit a schema-only change (add / rename / widen) — no data
        rewrite, field-ids keep old files readable (Iceberg semantics;
        reference: schema-history replay,
        ``relational/history/SchemaHistory.java:34-101``)."""
        man = self.manifest()
        return self._commit(
            man,
            {"schema_change": change["change_type"]},
            schema=self.table_schema().apply_change(change),
        )

    # -- offsets / lineage -------------------------------------------------
    def committed_offsets(self) -> dict[int, int]:
        return {int(k): int(v) for k, v in self.manifest()["offsets"].items()}

    def last_batch_id(self, phase: str | None = None) -> int:
        """Highest committed batch id — per phase (snapshot / stream /
        incremental keep independent monotone fences so an interleaved
        incremental snapshot cannot fence out later stream batches), or
        the global max when ``phase`` is None."""
        m = self.manifest()
        if phase is not None:
            return int(m.get("last_batch_ids", {}).get(phase, -1))
        ids = [int(v) for v in m.get("last_batch_ids", {}).values()]
        ids.append(int(m["last_batch_id"]))
        return max(ids)

    def _append_lineage(
        self, batch_id: int, rows: list[dict], phase: str = "stream"
    ) -> None:
        path = os.path.join(
            self._lineage_dir, f"{phase}_{batch_id:08d}.json"
        )
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(tmp, path)

    def lineage(self) -> list[dict]:
        """Lineage rows of the committed batches. A batch's file is
        written just before its manifest, so a file whose batch id is
        past its phase's committed fence belongs to a batch that
        crashed before its commit; it is not reported, and the batch's
        rerun rewrites it."""
        fences = self.manifest().get("last_batch_ids", {})
        rows = []
        for n in sorted(os.listdir(self._lineage_dir)):
            if not n.endswith(".json"):
                continue
            phase, batch_id = n[: -len(".json")].rsplit("_", 1)
            if int(batch_id) > int(fences.get(phase, -1)):
                continue
            with open(os.path.join(self._lineage_dir, n)) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
        return rows
