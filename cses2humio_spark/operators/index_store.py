"""The one versioned-table core, and the one lifecycle every persisted
index family runs on it (``PQIndex``, ``MinHashIndex``,
``EmbeddingLshIndex``, ``InvertedTextIndex``).

``VersionedTable`` is the transaction core: geometry pin, manifests,
the ``_LATEST`` pointer, version resolution and manifest eviction. The
index lifecycle (``VersionedSegmentStore``) and the maintained
aggregates (``streaming/materialized.IncrementalRollup``) both commit
through it; each keeps its own data layout, write path and artifact
sweep.

On-disk layout under the index root:

- ``seg=<v>``: immutable segment rows (codes, signatures, postings),
  partitioned by the family's ``partition_col`` when it has one;
- ``tomb=<v>``: an id list committed by ``delete``;
- family artifacts named by ``_live_artifacts`` (text ``dl=<v>``, PQ
  ``codebook_v=<v>`` / ``centroids_v=<v>``);
- ``manifest_v=<v>.json`` per committed version: the live ``segments``
  and ``tombstones``, the stream replay guard ``last_batch_id``,
  ``schemas`` (live artifact dir name -> the schema a read of that dir
  sees, recorded at write time so reads skip parquet footer inference),
  and any family keys (text: ``ws1`` and ``stats`` per live segment);
- ``_LATEST``: the committed version, switched with ``os.replace`` —
  readers see a fully-written version or the previous one, never a torn
  state;
- ``_TABLE.json``: the geometry, pinned for the index's lifetime —
  artifacts are meaningless under different geometry, so reopening with
  different parameters is a loud error.

Lifecycle contract:

- ``build(df)`` writes one segment from the full input and commits a
  fresh manifest: prior segments and tombstones are dropped (the input
  is the new truth) and ``last_batch_id`` carries forward, so a
  restarted stream's replay guard survives a rebuild.
- ``index(batch_df, batch_id)`` is a foreachBatch sink. A batch id at or
  below ``last_batch_id`` is a replay and is skipped (exactly-once);
  otherwise the batch becomes one appended segment, so write
  amplification is O(|delta|), independent of index size. Batch ids
  must keep rising across restarts: attaching a fresh checkpoint (ids
  restart at 0) after ingests needs a fresh index dir. Emptiness is
  read from the segment write's own row-count Observation (no separate
  job): an empty batch advances the guard, lists no segment, and its
  segment dir is removed at once.
- ``delete(ids)`` commits a tombstone id list; every read anti-joins it
  out at once. ``compact(spark)`` rewrites the live rows as one segment
  and clears the tombstones, so reads are unchanged. A deleted id that
  is ingested again reappears only after a compact.
- ingest, delete and compact refuse before the first build.
- the version counter is internal: every commit takes ``latest + 1``.
  ``last_batch_id`` is a separate manifest field, so a build, delete or
  compact version can never shadow a future batch id.
- every commit writes the manifest, switches ``_LATEST`` and prunes:
  manifests beyond ``keep_versions`` are dropped, and artifacts outlive
  their last manifest by one commit — reads are lazy DataFrames over
  artifact paths, so a reader of a just-evicted version survives until
  the next commit.

A family supplies:

- ``id_col``, plus ``_key_col`` when the stored rows name the id
  differently, and ``partition_col`` for partitioned segments;
- ``_segment_rows(df, manifest)``: input rows -> segment rows;
- optionally ``_build_artifacts`` (written by ``build`` before its
  segment, e.g. the PQ codebook; ``build``'s keyword arguments go
  there) and ``_segment_artifacts`` (derived after each segment write,
  e.g. text doc lengths), with ``_live_artifacts`` naming their dirs;
- ``empty_segment_readable = False`` to commit ``segments: []`` for an
  empty build and refuse a compact that would leave no rows (text: a
  zero-row partitioned write leaves no files to infer a schema from).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field and element nullable, as a parquet read
    reports it."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _read_schema(
    schema: T.StructType, partition_by: list[str]
) -> T.StructType | None:
    """The schema a parquet read of a frame with ``schema``, written
    partitioned by ``partition_by``, infers — derived without a job: the
    data columns made nullable, then the partition columns as partition
    inference types small integer dir values (int). None when a partition
    column is not integral (its inferred type depends on the values)."""
    parts = [schema[c] for c in partition_by]
    if not all(isinstance(f.dataType, T.IntegralType) for f in parts):
        return None
    data = [f for f in schema.fields if f.name not in partition_by]
    return T.StructType(
        _nullable(T.StructType(data)).fields
        + [T.StructField(f.name, T.IntegerType(), True) for f in parts]
    )


class VersionedTable:
    """The transaction core under a table root: the geometry pin
    (``_TABLE.json``), one ``manifest_v=<v>.json`` per committed version,
    the ``_LATEST`` pointer, version resolution, and manifest eviction.
    Every file is written to a ``.tmp`` sibling and moved into place
    with ``os.replace``, so a reader sees the old file or the new one.
    ``_commit`` writes the manifest, switches the pointer and calls the
    subclass's ``_prune``; a crash between the manifest write and the
    switch leaves the prior version committed, and replaying the same
    version overwrites the orphaned manifest."""

    def __init__(self, root: str, geometry: dict, keep_versions: int):
        if keep_versions < 1:
            raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
        self.root = root
        self.keep_versions = keep_versions
        os.makedirs(root, exist_ok=True)
        cfg_path = os.path.join(root, "_TABLE.json")
        if os.path.exists(cfg_path):
            with open(cfg_path, encoding="ascii") as fh:
                cfg = json.load(fh)
            if cfg != geometry:
                raise ValueError(
                    f"{root}: created with geometry {cfg}, reopened with "
                    f"{geometry} — stored data is meaningless under "
                    "different geometry"
                )
        else:
            self._write_atomic(cfg_path, json.dumps(geometry))

    @staticmethod
    def _write_atomic(path: str, text: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="ascii") as fh:
            fh.write(text)
        os.replace(tmp, path)

    # -- version pointer + manifests ---------------------------------------

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_LATEST")

    def latest_version(self) -> int | None:
        try:
            with open(self._pointer, encoding="ascii") as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def _switch_pointer(self, version: int) -> None:
        self._write_atomic(self._pointer, str(version))

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"manifest_v={version}.json")

    def _load_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version), encoding="ascii") as fh:
            return json.load(fh)

    def _write_manifest(self, version: int, manifest: dict) -> None:
        self._write_atomic(self._manifest_path(version), json.dumps(manifest))

    def versions(self) -> list[int]:
        """Versions whose manifest is on disk, oldest first — the
        retained time-travel window."""
        return sorted(
            int(m.group(1))
            for name in os.listdir(self.root)
            if (m := re.fullmatch(r"manifest_v=(-?\d+)\.json", name))
        )

    def _resolve_version(self, version: int | None) -> int:
        """``version``, or the latest when None, checked readable."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError(
                f"{self.root}: no committed version — nothing has been "
                "built or ingested yet"
            )
        if version is None:
            return latest
        if version > latest:
            raise ValueError(
                f"{self.root}: version {version} not available: not "
                f"committed (latest is {latest})"
            )
        if not os.path.exists(self._manifest_path(version)):
            raise ValueError(
                f"{self.root}: version {version} not available: pruned "
                f"(retained: {self.versions()}) — raise keep_versions for "
                "a longer time-travel window"
            )
        return version

    def _commit(self, version: int, manifest: dict) -> None:
        """Write ``manifest``, switch ``_LATEST`` to ``version``, prune."""
        self._write_manifest(version, manifest)
        self._switch_pointer(version)
        self._prune(version)

    def _evict(self, committed: int, grace: int) -> list[dict]:
        """Remove the manifests at or below ``committed`` beyond the
        newest ``keep_versions``. Returns the manifests whose data must
        stay on disk: the retained ones plus the ``grace`` newest
        evicted ones."""
        older = [v for v in reversed(self.versions()) if v <= committed]
        live = []
        for v in older[: self.keep_versions + grace]:
            try:
                live.append(self._load_manifest(v))
            except FileNotFoundError:
                continue  # removed by a concurrent prune
        for v in older[self.keep_versions :]:
            try:
                os.remove(self._manifest_path(v))
            except FileNotFoundError:
                pass
        return live

    def _prune(self, committed: int) -> None:
        """Drop what no retained version references (after a commit)."""
        raise NotImplementedError


class VersionedSegmentStore(VersionedTable):
    """The build / ingest / delete / compact / read lifecycle of an
    index, on the transaction core."""

    id_col: str
    partition_col: str | None = None
    empty_segment_readable = True

    @property
    def index_dir(self) -> str:
        return self.root

    @property
    def _key_col(self) -> str:
        """The id column of stored segment and tombstone rows."""
        return self.id_col

    @staticmethod
    def _last_batch_id(manifest: dict, version: int) -> int:
        """The highest stream batch id applied as of ``manifest``.
        Manifests written before the field existed used the artifact
        version AS the batch id, so the manifest's own version is the
        faithful value for them."""
        return int(manifest.get("last_batch_id", version))

    def _next_version(self, action: str | None) -> tuple[int, dict]:
        """The version the next commit writes, and the latest manifest
        (a copy, ``last_batch_id`` made explicit) it starts from.
        ``action`` names the operation refused when nothing is committed
        yet; ``build`` passes None and starts at version -1."""
        latest = self.latest_version()
        if latest is None:
            if action is not None:
                raise ValueError(
                    f"{self.index_dir}: {action} before build() — the "
                    "index has no committed version"
                )
            return -1, {"last_batch_id": -1}
        manifest = dict(self._load_manifest(latest))
        manifest["last_batch_id"] = self._last_batch_id(manifest, latest)
        return latest + 1, manifest

    def _commit(self, version: int, manifest: dict) -> None:
        """Cut ``manifest``'s ``schemas`` to its live artifacts, then
        commit it."""
        live = self._live_artifacts(manifest)
        manifest["schemas"] = {
            name: schema
            for name, schema in manifest.get("schemas", {}).items()
            if any(
                (m := re.fullmatch(pat, name)) and int(m.group(1)) in ids
                for pat, ids in live.items()
            )
        }
        super()._commit(version, manifest)

    # -- atomic artifact writes ---------------------------------------------

    def _seg_dir(self, seg: int) -> str:
        return os.path.join(self.index_dir, f"seg={seg}")

    def _tomb_dir(self, version: int) -> str:
        return os.path.join(self.index_dir, f"tomb={version}")

    def _write_dir(
        self, df: DataFrame, dst: str, manifest: dict, partition_by=None
    ) -> None:
        """Write to a staging dir, then atomically rename into place (a
        crashed earlier attempt at the same dst is discarded first — its
        version was never committed, so it is garbage by definition), and
        record in ``manifest`` the schema a read of ``dst`` sees."""
        schema = _read_schema(df.schema, list(partition_by or []))
        if schema is not None:
            manifest.setdefault("schemas", {})[
                os.path.basename(dst)
            ] = schema.jsonValue()
        staging = dst + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        os.replace(staging, dst)

    def _write_segment(
        self, rows: DataFrame, version: int, manifest: dict, keep_empty: bool
    ) -> int:
        """Write ``rows`` as segment ``version`` and list it in
        ``manifest``. A zero-row segment is listed only when
        ``keep_empty``; otherwise its dir is removed at once. Returns the
        row count, observed on the write itself."""
        obs = Observation()
        self._write_dir(
            rows.observe(obs, F.count(F.lit(1)).alias("n")),
            self._seg_dir(version),
            manifest,
            partition_by=[self.partition_col] if self.partition_col else None,
        )
        n_rows = int(obs.get["n"] or 0)
        if n_rows or keep_empty:
            manifest["segments"] = list(manifest["segments"]) + [version]
        else:
            shutil.rmtree(self._seg_dir(version), ignore_errors=True)
        self._segment_artifacts(rows.sparkSession, version, manifest, n_rows)
        return n_rows

    # -- family hooks --------------------------------------------------------

    def _segment_rows(self, df: DataFrame, manifest: dict) -> DataFrame:
        """Input rows -> segment rows, under the artifacts ``manifest``
        names (PQ encodes with its frozen codebook)."""
        raise NotImplementedError

    def _build_artifacts(
        self, df: DataFrame, version: int, manifest: dict
    ) -> None:
        """Artifacts ``build`` writes before its segment; record them in
        ``manifest``. Receives ``build``'s keyword arguments."""

    def _segment_artifacts(
        self, spark: SparkSession, version: int, manifest: dict, n_rows: int
    ) -> None:
        """Artifacts derived from the just-written segment ``version``
        (``n_rows`` rows; listed in ``manifest`` iff it is kept)."""

    def _live_artifacts(self, manifest: dict) -> dict[str, set[int]]:
        """Dir-name regex pattern (one int group) -> the artifact ids
        ``manifest`` keeps alive."""
        return {
            r"seg=(-?\d+)": set(manifest["segments"]),
            r"tomb=(-?\d+)": set(manifest.get("tombstones", [])),
        }

    # -- lifecycle -------------------------------------------------------------

    def build(self, df: DataFrame, **build_args) -> int:
        """Index the full input ``df`` as a fresh version and return it
        (-1 for the first build). Prior segments and tombstones are
        dropped; ``last_batch_id`` carries forward."""
        version, prior = self._next_version(None)
        manifest = {
            "segments": [],
            "last_batch_id": prior["last_batch_id"],
            "tombstones": [],
        }
        self._build_artifacts(df, version, manifest, **build_args)
        self._write_segment(
            self._segment_rows(df, manifest),
            version,
            manifest,
            keep_empty=self.empty_segment_readable,
        )
        self._commit(version, manifest)
        return version

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink: append the batch as one segment, or skip a
        replayed ``batch_id``."""
        version, manifest = self._next_version("ingest")
        if batch_id <= manifest["last_batch_id"]:
            return  # replayed micro-batch: segment already committed
        manifest["last_batch_id"] = batch_id
        self._write_segment(
            self._segment_rows(batch_df, manifest),
            version,
            manifest,
            keep_empty=False,
        )
        self._commit(version, manifest)

    def delete(self, ids: DataFrame) -> int:
        """Tombstone the ids in ``ids``' ``id_col`` (extra columns are
        ignored): O(|deleted|) bytes, no segment touched. Deleting an id
        not in the index is a no-op."""
        version, manifest = self._next_version("delete")
        self._write_dir(
            ids.select(F.col(self.id_col).alias(self._key_col)).distinct(),
            self._tomb_dir(version),
            manifest,
        )
        manifest["tombstones"] = list(manifest.get("tombstones", [])) + [
            version
        ]
        self._commit(version, manifest)
        return version

    def compact(self, spark: SparkSession) -> int:
        """Rewrite the live rows as ONE segment and clear the tombstones
        — the small-files and deferred-delete answer for a long ingest
        stream. Reads are identical before and after."""
        version, manifest = self._next_version("compact")
        rows = self.read_segments(spark, version - 1)
        manifest["segments"], manifest["tombstones"] = [], []
        self._write_segment(
            rows, version, manifest, keep_empty=self.empty_segment_readable
        )
        if not manifest["segments"]:
            # the pre-compact version stays committed and fully live
            raise ValueError(
                f"{self.index_dir}: index is empty after compaction — "
                "every row is tombstoned; rebuild() with a fresh corpus "
                "instead of compacting away the last row"
            )
        self._commit(version, manifest)
        return version

    # -- reads -----------------------------------------------------------------

    def _read_dirs(
        self,
        spark: SparkSession,
        manifest: dict,
        names: list[str],
        *,
        anchored: bool = False,
    ) -> DataFrame:
        """One parquet read of the artifact dirs ``names``. When
        ``manifest`` records one schema for all of them it is passed to
        the reader, so the read runs no footer-inference job; a missing
        or differing entry (e.g. a manifest written before schemas were
        recorded) falls back to inference. ``anchored`` reads with the
        index root as ``basePath``, which surfaces each dir's key
        (``seg``, ``tomb``) as a partition column."""
        reader = spark.read
        if anchored:
            reader = reader.option("basePath", self.index_dir)
        recorded = [manifest.get("schemas", {}).get(n) for n in names]
        if recorded[0] is not None and all(r == recorded[0] for r in recorded):
            reader = reader.schema(T.StructType.fromJson(recorded[0]))
        return reader.parquet(*[os.path.join(self.index_dir, n) for n in names])

    def read_tombstones(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame | None:
        """The deleted-id set as of ``version`` (None if nothing is
        tombstoned) — one id per deleted row, cleared by compact, so it
        is broadcast-sized by design."""
        man = self._load_manifest(self._resolve_version(version))
        tombs = man.get("tombstones", [])
        if not tombs:
            return None
        return (
            self._read_dirs(
                spark, man, [f"tomb={t}" for t in tombs], anchored=True
            )
            .select(self._key_col)
            .distinct()
        )

    def read_segments(
        self,
        spark: SparkSession,
        version: int | None = None,
        artifact: str = "seg",
    ) -> DataFrame:
        """The live rows as of ``version`` (default latest): the union of
        the manifest's ``<artifact>=<segment>`` dirs minus tombstoned ids,
        by a broadcast anti-join — a delete is visible the moment it
        commits, long before compact rewrites anything."""
        at = self._resolve_version(version)
        man = self._load_manifest(at)
        segments = man["segments"]
        if not segments:
            raise ValueError(
                f"{self.index_dir}: index is empty at version {at} — "
                "no live segments to read"
            )
        names = [f"{artifact}={s}" for s in segments]
        if artifact == "seg":
            # seg=<v> dirs are key=value-shaped: anchor partition discovery
            # at the root, or a multi-segment read of partitioned segments
            # reports conflicting directory structures; the partition_col
            # survives, the synthetic seg column is dropped
            rows = self._read_dirs(spark, man, names, anchored=True).drop("seg")
        else:
            # each leaf dir is its own root: a root anchor would surface
            # the dir key as a partition column that can collide with a
            # data column (text's dl)
            rows = self._read_dirs(spark, man, names)
        tombs = self.read_tombstones(spark, at)
        if tombs is not None:
            rows = rows.join(F.broadcast(tombs), on=self._key_col, how="left_anti")
        return rows

    # -- pruning -------------------------------------------------------------

    def _prune(self, committed: int) -> None:
        """Drop manifests beyond the retained window, then any artifact
        dir below ``committed`` that no retained manifest — nor the one
        just evicted (the one-commit read grace) — references. Readers
        slower than one full commit interval still race deletion; pin a
        version and materialize promptly, or raise keep_versions."""
        live: dict[str, set[int]] = {}
        for man in self._evict(committed, grace=1):
            for pat, ids in self._live_artifacts(man).items():
                live.setdefault(pat, set()).update(ids)
        for name in os.listdir(self.index_dir):
            for pat, keep in live.items():
                m = re.fullmatch(pat, name)
                if m and int(m.group(1)) < committed and int(m.group(1)) not in keep:
                    shutil.rmtree(
                        os.path.join(self.index_dir, name), ignore_errors=True
                    )
