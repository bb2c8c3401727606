"""Minimal transactional table: versioned manifests with atomic commits.

``write_compacted``'s directory-rename swap has a documented flaw: POSIX
cannot exchange two directories atomically, so a reader can observe a
brief window where the path is absent. The reference solved the analogous
race with optimistic concurrency (``WATCH name._Z … MULTI … EXEC``,
``goforget/redis_utils.go:143-191``); the table-format world solves it
with a commit log (Delta/Iceberg). Neither ships in this environment, so
this module implements the minimal honest version of the same protocol:

- Data for version N lives in its own immutable directory
  (``<root>/data/v{N:08d}-<token>/``). Files are never modified or
  renamed after the write completes.
- A version becomes visible by creating ``<root>/_versions/v{N:08d}.json``
  — a single *file*, created atomically via ``os.link`` from a staged
  temp file. ``link`` fails with EEXIST if another writer claimed the
  same version first: that IS the optimistic-concurrency check (the
  filesystem analogue of a conditional PUT / Delta's commit protocol).
- Readers list ``_versions``, take the highest manifest, and read the
  data directory it names. Every manifest they can see is complete, and
  committed data directories are immutable — there is **no moment where
  the table is unreadable**, the property the rename swap lacked.
- Old versions stay readable (time travel over the retained window)
  until ``vacuum`` reclaims them.

On an object store, replace the ``os.link`` publish with the store's
conditional-put; nothing else changes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from forgettable_spark.functions.cache import local_frame

_MANIFEST_RE = re.compile(r"^v(\d{8})\.json$")

#: Sentinel for "blind append — no read-modify-write dependency". Distinct
#: from ``None``, which means "I read the table and it was empty".
_BLIND = object()


class CommitConflictError(RuntimeError):
    """Another writer committed this version first — re-read and retry
    (last-writer-wins is NOT silently applied, unlike the reference's
    swallowed WatchError, ``pyforget/distribution.py:64-74``)."""


class ManifestTable:
    """A parquet table whose visible state is an atomically-published
    manifest pointer. See module docstring for the protocol."""

    def __init__(self, root: str) -> None:
        self.root = root
        self._versions_dir = os.path.join(root, "_versions")
        self._data_dir = os.path.join(root, "data")

    # -- read side ---------------------------------------------------------

    def versions(self) -> list[int]:
        if not os.path.isdir(self._versions_dir):
            return []
        out = []
        for name in os.listdir(self._versions_dir):
            m = _MANIFEST_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int) -> dict:
        with open(os.path.join(self._versions_dir, f"v{version:08d}.json")) as f:
            return json.load(f)

    @staticmethod
    def _segments(manifest: dict) -> list[dict]:
        """A version's ordered segment list (oldest → newest). Pre-delta
        manifests carry only ``data_path`` — one full segment."""
        return manifest.get("segments") or [
            {"data_path": manifest["data_path"], "groups": None}
        ]

    def segment_count(self, version: int | None = None) -> int:
        if version is None:
            version = self.current_version()
        if version is None:
            return 0
        return len(self._segments(self.manifest(version)))

    def _resolve(self, spark: SparkSession, manifest: dict) -> DataFrame:
        """Latest-wins resolution of a segmented version: each state group
        ((key) or (key, shard)) is served by the NEWEST segment that wrote
        it; base rows of groups later deltas claimed are masked.

        Scale shape: the claim map is one row per (group, owner-segment) —
        bounded by touched groups per delta × chain length, kilobytes at
        any table size — so every mask is a broadcast semi/anti join
        against each segment's scan. The big base segment is read ONCE
        with a broadcast anti join; no shuffle of table data, no window.
        """
        segs = self._segments(manifest)
        if len(segs) == 1:
            return spark.read.parquet(segs[0]["data_path"])
        key_col = manifest.get("delta_key_col", "distribution")
        shard_col = manifest.get("delta_shard_col", "bin")
        n_shards = manifest.get("delta_n_shards")

        def shard():
            return F.pmod(F.xxhash64(shard_col), F.lit(n_shards)).cast("int")

        claimed: dict[tuple, int] = {}
        for i, seg in enumerate(segs):
            for g in seg["groups"] or []:
                claimed[tuple(g)] = i
        # The claim map always carries the key as its STRING rendering and
        # the segments join on a string-cast shadow column: the manifest
        # round-trips groups through JSON (which would coerce a BIGINT key
        # to int anyway), and a non-string key_col (commit_delta is
        # key-agnostic) would otherwise make the claim map's hardcoded
        # STRING schema reject the committed version at read time. The
        # string rendering is injective for the string/int keys the state
        # tables use, so the masking semantics are unchanged.
        if n_shards:
            keys = ["_gk", "_shard"]
            rows = [(str(k), int(sh), i) for (k, sh), i in claimed.items()]
        else:
            keys = ["_gk"]
            rows = [(str(k), i) for (k,), i in claimed.items()]
        owners = local_frame(
            spark,
            rows,
            T.StructType(
                [T.StructField("_gk", T.StringType())]
                + [T.StructField(k, T.IntegerType()) for k in keys[1:] + ["_owner"]]
            ),
        )
        parts = []
        for i, seg in enumerate(segs):
            df = spark.read.parquet(seg["data_path"]).withColumn(
                "_gk", F.col(key_col).cast("string")
            )
            if n_shards:
                df = df.withColumn("_shard", shard())
            if seg["groups"] is None:
                mask = owners.filter(F.col("_owner") > i).select(*keys)
                df = df.join(F.broadcast(mask), keys, "left_anti")
            else:
                own = owners.filter(F.col("_owner") == i).select(*keys)
                df = df.join(F.broadcast(own), keys, "left_semi")
            df = df.drop("_gk")
            if n_shards:
                df = df.drop("_shard")
            parts.append(df)
        return reduce(lambda a, b: a.unionByName(b), parts)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the table at the current (or an explicit retained) version.
        Segmented versions (from :meth:`commit_delta`) resolve latest-wins
        per state group; single-segment versions are a plain scan."""
        if version is None:
            version = self.current_version()
        if version is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        return self._resolve(spark, self.manifest(version))

    def read_pinned(self, spark: SparkSession) -> tuple[DataFrame, int]:
        """Read the current version and return ``(df, version)`` so the
        version can be passed back as ``commit(base_version=...)`` — the
        read half of a read-modify-write cycle (WATCH analogue,
        ``goforget/redis_utils.go:143-191``). An empty table raises
        FileNotFoundError like :meth:`read`; callers compacting a
        possibly-empty table should catch it and commit with
        ``base_version=None`` ("I observed the table empty")."""
        version = self.current_version()
        if version is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        return self._resolve(spark, self.manifest(version)), version

    # -- write side --------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        partition_col: str | None = "distribution",
        base_version: int | None | object = _BLIND,
    ) -> int:
        """Write ``df`` as the next version; returns the version number.

        ``base_version`` closes the read-modify-write race (the WATCH half
        of the reference's ``WATCH … MULTI … EXEC``,
        ``goforget/redis_utils.go:143-191``):

        - an ``int`` — "my df was derived from version N" (from
          :meth:`read_pinned`). The commit claims exactly ``N + 1``; if any
          other writer published since, the claim loses and the increments
          are NOT silently dropped.
        - ``None`` — "I observed the table empty". Claims version 1.
        - omitted (``_BLIND``) — blind append with no read dependency
          (e.g. the very first publish of independently-built data). Claims
          ``current + 1``; only an exact same-number race conflicts.

        Raises :class:`CommitConflictError` if a concurrent writer claimed
        the version first (the staged data directory is cleaned up; the
        caller re-reads via :meth:`read_pinned` and retries — optimistic
        concurrency). The atomic arbiter is the ``os.link`` on the claimed
        manifest name; the pre-write check below only fast-fails before
        paying for the parquet write.
        """
        if base_version is _BLIND:
            version = (self.current_version() or 0) + 1
        else:
            if base_version is not None and not isinstance(base_version, int):
                raise TypeError(f"base_version must be int or None, got {base_version!r}")
            version = (base_version or 0) + 1
            current = self.current_version()
            if current != base_version:
                raise CommitConflictError(
                    f"stale read of {self.root}: expected version "
                    f"{base_version}, table is now at {current} — re-read and retry"
                )
        token = uuid.uuid4().hex[:8]
        data_path = os.path.join(self._data_dir, f"v{version:08d}-{token}")
        out = df.repartition(partition_col) if partition_col else df
        out.write.mode("overwrite").parquet(data_path)
        manifest = {
            "version": version,
            "data_path": data_path,
            "segments": [{"data_path": data_path, "groups": None}],
            "committed_at_unix": int(time.time()),
        }
        return self._publish_manifest(version, manifest, data_path)

    def _publish_manifest(self, version: int, manifest: dict, new_data_path: str) -> int:
        """Atomically publish ``manifest`` as version ``version`` via the
        ``os.link`` create-if-absent arbiter; on a lost race, clean up
        ONLY the newly staged data directory (shared older segments stay)."""
        os.makedirs(self._versions_dir, exist_ok=True)
        token = uuid.uuid4().hex[:8]
        staged = os.path.join(self._versions_dir, f".staged-{token}.json")
        with open(staged, "w") as f:
            json.dump(manifest, f)
        final = os.path.join(self._versions_dir, f"v{version:08d}.json")
        try:
            os.link(staged, final)  # atomic create-if-absent: the commit point
        except FileExistsError:
            shutil.rmtree(new_data_path, ignore_errors=True)
            raise CommitConflictError(
                f"version {version} of {self.root} was committed concurrently"
            ) from None
        finally:
            os.unlink(staged)
        return version

    def commit_delta(
        self,
        df: DataFrame,
        groups: list[tuple],
        base_version: int,
        n_shards: int | None = None,
        key_col: str = "distribution",
        shard_col: str = "bin",
        partition_col: str | None = "distribution",
    ) -> int:
        """Commit ``df`` as a DELTA SEGMENT on top of ``base_version``:
        per-version I/O is O(batch), not O(table).

        ``df`` must carry the FULL new content of every state group it
        touches — ``groups`` (each ``(key,)`` or ``(key, shard)`` with
        ``n_shards``) lists exactly those groups, and readers serve each
        group from the newest segment that claimed it (latest-wins; see
        :meth:`_resolve`). This is the log-structured shape of a Delta/
        Iceberg MERGE with deletion-vector-style masking: the baseline is
        never rewritten per commit; :func:`fold_segments` (or any full
        :meth:`commit`) periodically compacts the chain back to one
        segment. The reference's write-back has the same asymmetry — it
        rewrites only the touched distribution's ZSET, never the whole
        keyspace (``goforget/redis_utils.go:163-181``).

        The whole chain must share one grouping: mixing ``n_shards``
        values (or key/shard columns) across a chain raises ValueError —
        re-anchor with a full :meth:`commit` first.
        """
        if not isinstance(base_version, int):
            raise TypeError("commit_delta requires a pinned integer base_version")
        base_manifest = self.manifest(base_version)
        if len(self._segments(base_manifest)) > 1:
            same = (
                base_manifest.get("delta_n_shards") == n_shards
                and base_manifest.get("delta_key_col", "distribution") == key_col
                and base_manifest.get("delta_shard_col", "bin") == shard_col
            )
            if not same:
                raise ValueError(
                    f"delta grouping mismatch on {self.root}: chain uses "
                    f"(key={base_manifest.get('delta_key_col')}, shard_col="
                    f"{base_manifest.get('delta_shard_col')}, n_shards="
                    f"{base_manifest.get('delta_n_shards')}) — fold to a full "
                    "commit before changing granularity"
                )
        version = base_version + 1
        current = self.current_version()
        if current != base_version:
            raise CommitConflictError(
                f"stale read of {self.root}: expected version "
                f"{base_version}, table is now at {current} — re-read and retry"
            )
        token = uuid.uuid4().hex[:8]
        data_path = os.path.join(self._data_dir, f"v{version:08d}-{token}")
        out = df.repartition(partition_col) if partition_col else df
        out.write.mode("overwrite").parquet(data_path)
        manifest = {
            "version": version,
            "data_path": data_path,
            "segments": self._segments(base_manifest)
            + [{"data_path": data_path, "groups": [list(g) for g in groups]}],
            "delta_key_col": key_col,
            "delta_shard_col": shard_col,
            "delta_n_shards": n_shards,
            "committed_at_unix": int(time.time()),
        }
        return self._publish_manifest(version, manifest, data_path)

    def fold_segments(self, spark: SparkSession) -> int | None:
        """Compact the current version's segment chain back to ONE full
        segment (the periodic amortization of :meth:`commit_delta`'s
        O(batch) commits). No-op (returns None) when the chain is already
        a single segment; raises CommitConflictError on a lost race."""
        df, pinned = self.read_pinned(spark)
        if self.segment_count(pinned) <= 1:
            return None
        return self.commit(df, base_version=pinned)

    def vacuum(self, keep: int = 2) -> list[int]:
        """Drop all but the newest ``keep`` versions (manifest first, so a
        reader never holds a manifest whose data is gone mid-read *after*
        it resolved the path — matching table-format vacuum semantics:
        only versions older than the retention window are reclaimed).
        Segment dirs REFERENCED by any retained manifest survive — a
        delta chain shares its base and intermediate segments across
        versions, so reclamation is reference-counted, not per-version."""
        vs = self.versions()
        to_drop = vs[:-keep] if keep else vs
        kept_paths = {
            seg["data_path"]
            for v in vs
            if v not in to_drop
            for seg in self._segments(self.manifest(v))
        }
        dropped = []
        for v in to_drop:
            drop_paths = {
                seg["data_path"] for seg in self._segments(self.manifest(v))
            }
            os.unlink(os.path.join(self._versions_dir, f"v{v:08d}.json"))
            for path in drop_paths - kept_paths:
                shutil.rmtree(path, ignore_errors=True)
            dropped.append(v)
        return dropped


def compact_to_table(
    events: DataFrame,
    table: ManifestTable,
    now_us: int,
    base_version: int | None | object = _BLIND,
    **compact_kwargs,
) -> int:
    """Compact an increment log and publish it as the next table version —
    the transactional replacement for ``write_compacted``'s rename swap.
    Accepts every :func:`forgettable_spark.operators.compact.compact`
    parameter (rate/prune/law/sigma/mode/seed).

    When ``events`` includes the table's own prior baseline (the
    read-modify-write compact cycle: ``df, v = table.read_pinned(spark)``
    → union increments → compact), pass that ``v`` as ``base_version`` so
    a concurrent publish can't be silently overwritten."""
    from forgettable_spark.operators.compact import compact

    return table.commit(compact(events, now_us, **compact_kwargs), base_version=base_version)
