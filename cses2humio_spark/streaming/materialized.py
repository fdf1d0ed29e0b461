"""Incremental materialized-view maintenance over a micro-batch stream:
a ``foreachBatch`` sink that keeps a parquet-backed per-key rollup
(count + sum) current as batches arrive, with EXACTLY-ONCE semantics
under micro-batch replay.

Structured Streaming's own parquet sink is append-only; a maintained
aggregate needs merge-on-write. The standard production answer is a
transactional table format (Delta/Iceberg ``MERGE INTO``); this module
implements the same contract on plain parquet — SHARDED by hash bucket
so a micro-batch rewrites only the buckets its delta touches, never the
whole key space. Geometry pin, manifests, the ``_LATEST`` pointer and
version resolution are the index store's transaction core
(``operators/index_store.VersionedTable``); versions are batch ids.

- keys are hash-partitioned into ``n_buckets`` fixed buckets
  (``pmod(hash(keys), n_buckets)``, pinned in ``_TABLE.json`` for the
  table's lifetime);
- an applied batch merges CURRENT data for the TOUCHED buckets only with
  the batch delta (pre-aggregated map-side, so the shuffle carries
  per-key partials, never raw events) and writes each touched bucket as
  an immutable new version dir ``bucket=<i>/v=<batch_id>`` — write
  amplification is O(|keys in touched buckets|), independent of the
  table's total key count;
- a per-version manifest (``manifest_v=<batch_id>.json``) maps every
  bucket to the batch that last rewrote it; untouched buckets carry
  their old version forward BY REFERENCE — their files are not read,
  not rewritten, not even stat-ed;
- the ``_LATEST`` pointer is switched atomically after the manifest is
  written, so readers always see one complete, consistent manifest;
- replayed batches (crash after merge, before checkpoint commit — the
  at-least-once window) are detected by ``batch_id <= latest`` and
  skipped, upgrading foreachBatch's at-least-once to exactly-once;
- superseded bucket versions and manifests are pruned after each commit
  (exactly ``keep_versions`` manifests retained; a bucket version
  survives while ANY retained manifest references it — unlike the index
  store, no evicted version gets a read grace), so disk stays bounded
  for unbounded streams instead of growing per batch.
"""

from __future__ import annotations

import os
import re
import shutil
from functools import partial
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cses2humio_spark.operators.index_store import VersionedTable


class IncrementalRollup(VersionedTable):
    """foreachBatch callable maintaining ``(key, n_rows, total)`` per key.

    ``read(spark)`` returns the current rollup (empty DataFrame before the
    first batch commits).
    """

    def __init__(
        self,
        table_dir: str,
        key_col: str,
        value_col: str,
        key_type: str = "string",
        keep_versions: int = 2,
        n_buckets: int = 16,
    ):
        self.key_col = key_col
        self.value_col = value_col
        # the empty pre-first-commit frame must carry the REAL key type:
        # unionByName would otherwise widen a typed key against string and
        # silently store string keys forever
        self.key_type = key_type
        self._open(table_dir, keep_versions, n_buckets)

    def _open(self, table_dir: str, keep_versions: int, n_buckets: int) -> None:
        """Open the table with ``n_buckets`` as its pinned geometry: bucket
        membership is a function of the bucket count, so reopening with a
        different one would split every key's history across two
        bucketings."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.n_buckets = n_buckets
        super().__init__(table_dir, {"n_buckets": n_buckets}, keep_versions)

    def latest_batch_id(self) -> int | None:
        """The last committed batch id (versions are batch ids)."""
        return self.latest_version()

    def _load_manifest(self, batch_id: int) -> dict[int, int]:
        """bucket id -> batch id of the version holding that bucket."""
        return {
            int(k): int(v) for k, v in super()._load_manifest(batch_id).items()
        }

    def _bucket_dir(self, bucket: int, version: int) -> str:
        return os.path.join(self.root, f"bucket={bucket}", f"v={version}")

    # -- read --------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Current table state — or, with ``version=``, the exact state
        as of that committed batch (time travel: manifests are immutable
        and bucket versions survive while any retained manifest
        references them)."""
        if self.latest_version() is None:
            return self._no_rows(spark, committed=False)
        manifest = self._load_manifest(self._resolve_version(version))
        if not manifest:
            return self._no_rows(spark, committed=True)
        paths = [self._bucket_dir(b, v) for b, v in sorted(manifest.items())]
        return self._finish(spark.read.parquet(*paths))

    def _finish(self, stored: DataFrame) -> DataFrame:
        """Stored rows -> the rows a read returns."""
        return stored

    def _no_rows(self, spark: SparkSession, committed: bool) -> DataFrame:
        """The read of a table holding no rows: before its first commit,
        or (``committed``) after only empty batches."""
        return spark.createDataFrame(
            [], f"{self.key_col} {self.key_type}, n_rows bigint, total double"
        )

    def _read_buckets(
        self, spark: SparkSession, manifest: dict[int, int], buckets: list[int]
    ) -> DataFrame | None:
        paths = [
            self._bucket_dir(b, manifest[b]) for b in buckets if b in manifest
        ]
        if not paths:
            return None
        return spark.read.parquet(*paths)

    # -- pruning -----------------------------------------------------------

    def _prune(self, committed: int) -> None:
        """Retain the ``keep_versions`` newest manifests; a bucket version
        dir survives while ANY retained manifest references it. Staging
        dirs of other batches are leftovers of crashed attempts."""
        live: dict[int, set[int]] = {}
        for man in self._evict(committed, grace=0):
            for b, v in man.items():
                live.setdefault(b, set()).add(v)
        for name in os.listdir(self.root):
            m = re.fullmatch(r"bucket=(\d+)", name)
            if not m:
                if name.startswith("_staging_v=") and name != (
                    f"_staging_v={committed}"
                ):
                    shutil.rmtree(
                        os.path.join(self.root, name), ignore_errors=True
                    )
                continue
            b = int(m.group(1))
            bdir = os.path.join(self.root, name)
            for vname in os.listdir(bdir):
                vm = re.fullmatch(r"v=(\d+)", vname)
                if vm:
                    vid = int(vm.group(1))
                    if vid < committed and vid not in live.get(b, set()):
                        shutil.rmtree(
                            os.path.join(bdir, vname), ignore_errors=True
                        )

    # -- merge -------------------------------------------------------------

    def _key_cols(self) -> list[str]:
        return [self.key_col]

    def _delta(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(self.key_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col(self.value_col).cast("double")).alias("total"),
        )

    def _merge(self, current: DataFrame, delta: DataFrame) -> DataFrame:
        return (
            current.unionByName(delta)
            .groupBy(self.key_col)
            .agg(
                F.sum("n_rows").cast("bigint").alias("n_rows"),
                F.sum("total").alias("total"),
            )
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        latest = self.latest_version()
        if latest is not None and batch_id <= latest:
            # replayed micro-batch: its effect is already in the table
            return
        spark = batch_df.sparkSession
        bucket_of = F.pmod(
            F.hash(*[F.col(k) for k in self._key_cols()]),
            F.lit(self.n_buckets),
        )
        delta = self._delta(batch_df).withColumn("__b", bucket_of).persist()
        try:
            # bounded driver state: at most n_buckets rows
            touched = sorted(
                r["__b"] for r in delta.select("__b").distinct().collect()
            )
            manifest = self._load_manifest(latest) if latest is not None else {}
            # an empty batch touches nothing: its manifest carries every
            # bucket forward, so the replay guard still advances and no
            # data is read or written
            if touched:
                current = self._read_buckets(spark, manifest, touched)
                if current is None:
                    merged = delta.drop("__b")
                else:
                    merged = self._merge(current, delta.drop("__b"))
                staging = os.path.join(self.root, f"_staging_v={batch_id}")
                # one partitioned write: only touched buckets exist in the
                # delta, so only touched buckets appear under the staging dir
                merged.withColumn("__b", bucket_of).write.mode(
                    "overwrite"
                ).partitionBy("__b").parquet(staging)
                for b in touched:
                    src = os.path.join(staging, f"__b={b}")
                    dst = self._bucket_dir(b, batch_id)
                    if os.path.exists(dst):  # crashed earlier attempt
                        shutil.rmtree(dst)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.replace(src, dst)
                    manifest[b] = batch_id
                shutil.rmtree(staging, ignore_errors=True)
            self._commit(batch_id, manifest)
        finally:
            delta.unpersist()


def _no_rows_error(root: str, noun: str, committed: bool) -> ValueError:
    """The refusal of a maintained table that holds no rows yet: its
    schema is unknowable without data."""
    if not committed:
        return ValueError(
            f"{root}: no committed version yet — the {noun} has not "
            "processed a batch"
        )
    return ValueError(
        f"{root}: committed only empty batches — the {noun} holds no rows "
        "yet (schema unknowable without data)"
    )


def _count(field: Column) -> Column:
    return F.count(field).cast("bigint")


def _sum_as(dtype: str) -> Callable[[Column], Column]:
    return lambda c: F.sum(c).cast(dtype)


def _exact(field: Column) -> Column:
    return field.cast("decimal(18,6)")


def _stddev(col: Callable[[str], Column], _p) -> Column:
    # identical formula + rounding to batch hql stddev: the merged decimal
    # sums ARE the one-shot sums, so the read reproduces the batch answer
    sv = col("sum").cast("double")
    svv = col("sumsq").cast("double")
    cnt = col("cnt")
    return F.round(F.sqrt((svv - sv * sv / cnt) / (cnt - F.lit(1))), 4)


class _Agg(NamedTuple):
    """One mergeable aggregate kind. ``parts``: its stored columns, each
    ``(suffix, partial over the input field, merge over the stored
    column)`` — suffix None stores under the alias itself, any other as
    the hidden ``__<alias>_<suffix>``. ``read(col, p)``: the visible
    column from the stored ones (``col(suffix)``) and the percentile."""

    parts: tuple
    read: Callable


def _plain(col: Callable, _p) -> Column:
    return col(None)


_AGGS: dict[str, _Agg] = {
    "count": _Agg(((None, _count, _sum_as("bigint")),), _plain),
    "sum": _Agg(((None, lambda f: F.sum(f.cast("double")), F.sum),), _plain),
    "min": _Agg(((None, F.min, F.min),), _plain),
    "max": _Agg(((None, F.max, F.max),), _plain),
    # exact mergeable sufficient statistics, divided at read
    "avg": _Agg(
        (
            ("sum", lambda f: F.sum(f.cast("double")), F.sum),
            ("cnt", _count, _sum_as("bigint")),
        ),
        lambda col, _p: col("sum") / col("cnt").cast("double"),
    ),
    # the SAME exact-decimal sufficient statistics batch hql stddev uses
    # (count, sum, sum-of-squares over DECIMAL(18,6)): integer-exact under
    # any partitioning AND any batch boundary, combined at read
    "stddev": _Agg(
        (
            ("cnt", _count, _sum_as("bigint")),
            (
                "sum",
                lambda f: F.sum(_exact(f)).cast("decimal(38,6)"),
                _sum_as("decimal(38,6)"),
            ),
            (
                "sumsq",
                lambda f: F.sum(_exact(f) * _exact(f)).cast("decimal(38,12)"),
                _sum_as("decimal(38,12)"),
            ),
        ),
        _stddev,
    ),
    # DataSketches HLL: the sketch union IS the merge
    "approxDistinct": _Agg(
        (("hll", lambda f: F.hll_sketch_agg(f.cast("string")), F.hll_union_agg),),
        lambda col, _p: F.hll_sketch_estimate(col("hll")).cast("bigint"),
    ),
    # DataSketches KLL: the sketch merge IS the merge
    "approxPercentile": _Agg(
        (
            (
                "kll",
                lambda f: F.kll_sketch_agg_double(f.cast("double")),
                F.kll_merge_agg_double,
            ),
        ),
        lambda col, p: F.round(
            F.kll_sketch_get_quantile_double(col("kll"), F.lit(p / 100.0)), 4
        ),
    ),
}


def _stored_name(alias: str, suffix: str | None) -> str:
    return alias if suffix is None else f"__{alias}_{suffix}"


def _stored_col(alias: str, suffix: str | None) -> Column:
    return F.col(_stored_name(alias, suffix))


class MaterializedHqlSearch(IncrementalRollup):
    """A saved HQL search maintained as a LIVE TABLE — the dashboard half
    of the reference's delegated workflow (alerts fire, dashboards read a
    current aggregate). The pipe must end in a ``groupBy`` whose
    aggregates are MERGEABLE (one ``_AGGS`` entry each): each micro-batch
    contributes a pre-aggregated delta (map-side partials; raw events
    never reach the merge), merged into the current version with the
    aggregate's own merge function (sum-of-counts, sum-of-sums,
    min-of-mins, max-of-maxes). Sharded bucket versions, manifest commits
    and replay skipping are inherited — exactly-once under micro-batch
    replay, rewrite cost O(touched buckets), same as IncrementalRollup.

    ``avg`` is maintained EXACTLY via its mergeable sufficient
    statistics — hidden ``__<alias>_sum`` / ``__<alias>_cnt`` columns in
    the stored table, divided (and hidden) at read time.
    ``stddev`` is maintained the same way: hidden count / sum /
    sum-of-squares columns in EXACT DECIMAL — the same statistics the
    batch ``stddev`` aggregate computes (hql.py), so the decimal partials
    merge associatively across versions and the read formula reproduces
    the one-shot batch answer EXACTLY, independent of batch boundaries.
    ``approxDistinct`` is maintained via a mergeable HLL sketch (Spark's
    DataSketches ``hll_sketch_agg`` / ``hll_union_agg``; the stored
    column is the binary sketch, estimated at read) — the EXPLICIT
    opt-in spelling, mirroring LogScale's own estimate-above-100k
    behavior for ``count(distinct=true)``.
    ``approxPercentile(field, p=95)`` is maintained via a mergeable
    DataSketches KLL quantile sketch (``kll_sketch_agg_double`` per
    delta, ``kll_merge_agg_double`` across versions, quantile extracted
    at read) — the p95-latency-dashboard path: exact while the sketch
    holds all values (n <= k = 200 per group), ~1.65% rank error beyond,
    and identical to the batch ``approxPercentile`` spelling which uses
    the same sketch.

    Genuinely non-mergeable aggregates (EXACT percentile, EXACT
    count distinct) are REFUSED loudly at construction: silently
    maintaining a wrong answer would be the worst dashboard failure
    mode — a user who accepts the sketch's error writes
    ``approxDistinct`` / ``approxPercentile``; one who does not gets an
    error, never a quietly-drifting number.

    Merge-order caveat: sums are merged as doubles across versions, so a
    float sum's last bits depend on batch boundaries; integer-valued
    measures (counts, cents) are exact. Same contract as any incremental
    rollup.
    """

    def __init__(
        self,
        table_dir: str,
        query: str,
        tables: dict[str, DataFrame] | None = None,
        keep_versions: int = 2,
        n_buckets: int = 16,
    ):
        from cses2humio_spark.hql import Call, _approx_percentile_p, parse

        stages = parse(query)
        if not stages or not (
            isinstance(stages[-1], Call) and stages[-1].name == "groupBy"
        ):
            raise ValueError(
                "MaterializedHqlSearch: the pipe must end in groupBy(...)"
            )
        gb = stages[-1]
        keys = gb.args[0] if gb.args else []
        keys = keys if isinstance(keys, list) else [keys]
        if not keys:
            raise ValueError("MaterializedHqlSearch: groupBy needs key fields")
        funcs = gb.kwargs.get("function", Call("count"))
        funcs = funcs if isinstance(funcs, list) else [funcs]
        # (kind, field or None, alias, percentile or None)
        specs: list[tuple[str, str | None, str, float | None]] = []
        for c in funcs:
            if not isinstance(c, Call):
                raise ValueError("groupBy function= entries must be aggs")
            if c.name not in _AGGS:
                raise ValueError(
                    f"aggregate {c.name!r} is not mergeable across "
                    "micro-batches (mergeable: count/sum/min/max/avg/"
                    "stddev/approxDistinct/approxPercentile — the "
                    "approx spellings are the explicit opt-in to a "
                    "mergeable sketch estimate)"
                )
            if c.name == "count":
                if str(c.kwargs.get("distinct", "false")).lower() == "true":
                    raise ValueError(
                        "EXACT count(distinct=true) is not mergeable "
                        "across batches — use approxDistinct(field) to "
                        "opt into the mergeable HLL-sketch estimate"
                    )
            elif not c.args:
                raise ValueError(f"{c.name}() needs a field")
            p, default_alias = None, f"_{c.name.lower()}"
            if c.name == "approxPercentile":
                p = _approx_percentile_p(c)
                default_alias = "_ap" + format(p, "g").replace(".", "_")
            specs.append(
                (
                    c.name,
                    c.args[0] if c.args else None,
                    c.kwargs.get("as") or default_alias,
                    p,
                )
            )
        aliases = [a for _, _, a, _ in specs]
        if len(set(aliases)) != len(aliases):
            raise ValueError(
                f"duplicate aggregate aliases {aliases} — use as= to "
                "disambiguate"
            )
        self._prefix = stages[:-1]
        self._keys = [str(k) for k in keys]
        self._specs = specs
        self._tables = tables or {}
        self._open(table_dir, keep_versions, n_buckets)

    def _key_cols(self) -> list[str]:
        return self._keys

    def _delta(self, batch_df: DataFrame) -> DataFrame:
        from cses2humio_spark.hql import _compile_stage

        df = batch_df
        for st in self._prefix:
            df = _compile_stage(df, st, self._tables, root=batch_df)
        return df.groupBy(*[F.col(k) for k in self._keys]).agg(
            *[
                part(F.col(field) if field else F.lit(1)).alias(
                    _stored_name(alias, suffix)
                )
                for kind, field, alias, _p in self._specs
                for suffix, part, _merge in _AGGS[kind].parts
            ]
        )

    def _merge(self, current: DataFrame, delta: DataFrame) -> DataFrame:
        return current.unionByName(delta).groupBy(
            *[F.col(k) for k in self._keys]
        ).agg(
            *[
                merge(_stored_col(alias, suffix)).alias(
                    _stored_name(alias, suffix)
                )
                for kind, _f, alias, _p in self._specs
                for suffix, _part, merge in _AGGS[kind].parts
            ]
        )

    def _finish(self, stored: DataFrame) -> DataFrame:
        """The visible columns: keys, then each aggregate read from its
        stored partials (the hidden columns stay hidden)."""
        return stored.select(
            *[F.col(k) for k in self._keys],
            *[
                _AGGS[kind].read(partial(_stored_col, alias), p).alias(alias)
                for kind, _f, alias, p in self._specs
            ],
        )

    def _no_rows(self, spark: SparkSession, committed: bool) -> DataFrame:
        raise _no_rows_error(self.root, "search", committed)


class KeyedUpsertTable(IncrementalRollup):
    """Last-write-wins keyed table maintained from a CDC stream — the
    MERGE INTO shape the rollup's additive merge doesn't cover: each
    key's stored row is its LATEST version by a sequence column (CDC
    offset / commit timestamp), and an optional tombstone column turns
    the latest version into a delete (key hidden at read; a later
    non-tombstone version resurrects it). Classic lakehouse upsert
    semantics on the same sharded machinery: per-batch deltas collapse
    map-side to one row per key (``max_by`` over the payload struct),
    the merge keeps the lexicographic max of (seq, payload) — an
    ASSOCIATIVE, COMMUTATIVE function, so the final table is independent
    of batch boundaries AND batch arrival order — and bucket versioning,
    atomic commits, replay skipping, retention and time travel are all
    inherited.

    Determinism contract: ``seq_col`` must be non-null and totally
    ordered per key (a CDC offset is); if two versions of a key ever
    share a seq, the tie breaks lexicographically on the remaining
    payload columns — deterministic, never partitioning-dependent.
    """

    def __init__(
        self,
        table_dir: str,
        key_cols: list[str] | str,
        seq_col: str,
        value_cols: list[str],
        tombstone_col: str | None = None,
        keep_versions: int = 2,
        n_buckets: int = 16,
    ):
        self.key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        if not self.key_cols:
            raise ValueError("KeyedUpsertTable needs at least one key column")
        self.seq_col = seq_col
        self.value_cols = list(value_cols)
        self.tombstone_col = tombstone_col
        overlap = set(self.key_cols) & set(
            [seq_col, *value_cols, *( [tombstone_col] if tombstone_col else [] )]
        )
        if overlap:
            raise ValueError(f"columns listed twice: {sorted(overlap)}")
        self._open(table_dir, keep_versions, n_buckets)

    def _key_cols(self) -> list[str]:
        return self.key_cols

    def _payload_cols(self) -> list[str]:
        cols = [self.seq_col, *self.value_cols]
        if self.tombstone_col:
            cols.append(self.tombstone_col)
        return cols

    def _latest(self, df: DataFrame) -> DataFrame:
        payload = F.max(
            F.struct(*[F.col(c) for c in self._payload_cols()])
        ).alias("__p")
        return df.groupBy(*[F.col(k) for k in self.key_cols]).agg(
            payload
        ).select(
            *self.key_cols,
            *[F.col(f"__p.{c}").alias(c) for c in self._payload_cols()],
        )

    def _delta(self, batch_df: DataFrame) -> DataFrame:
        return self._latest(
            batch_df.select(*self.key_cols, *self._payload_cols())
        )

    def _merge(self, current: DataFrame, delta: DataFrame) -> DataFrame:
        return self._latest(current.unionByName(delta))

    def _finish(self, stored: DataFrame) -> DataFrame:
        """One row per live key: keys whose latest version is a tombstone
        are hidden (their history is still merged, so a later resurrect
        wins correctly)."""
        if self.tombstone_col:
            stored = stored.filter(
                ~F.coalesce(F.col(self.tombstone_col), F.lit(False))
            ).drop(self.tombstone_col)
        return stored

    def _no_rows(self, spark: SparkSession, committed: bool) -> DataFrame:
        raise _no_rows_error(self.root, "table", committed)
