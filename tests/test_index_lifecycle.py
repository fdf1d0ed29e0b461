"""The one index lifecycle (operators/index_store.VersionedSegmentStore),
pinned once for every persisted index family at tiny sizes: geometry
pin, refusal before build, the stream replay guard across interleaved
deletes and compactions, empty batches, tombstones, rebuilds, pruning,
and each family's empty-build behaviour — plus, for the two admission
families, the shared ``admit_and_ingest`` contract (refusal before
build, replay guard, argument order). Family-specific search, probe and
decision contracts live in the per-family test modules.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from cses2humio_spark.operators.ann_index import PQIndex
from cses2humio_spark.operators.dedup_index import EmbeddingLshIndex, MinHashIndex
from cses2humio_spark.operators.text_index import InvertedTextIndex
from cses2humio_spark.sources.catalog import load_table
from tests.conftest import SF_SMALL


@dataclass(frozen=True)
class Family:
    table: str
    key: str  # id column of the stored rows
    open: Callable  # (index_dir, **geometry) -> index
    other_geometry: dict
    read: Callable  # (index, spark, version) -> live rows
    empty_build_lists_segment: bool


FAMILIES = {
    "minhash": Family(
        "documents", "doc_id", MinHashIndex, {"bands": 8},
        lambda idx, spark, v=None: idx.read_signatures(spark, v), True,
    ),
    "lsh": Family(
        "embeddings", "vec_id",
        lambda d, **g: EmbeddingLshIndex(d, dim=64, **g), {"n_bands": 10},
        lambda idx, spark, v=None: idx.read_signatures(spark, v), True,
    ),
    "text": Family(
        "documents", "doc_id",
        lambda d, **g: InvertedTextIndex(d, **{"n_buckets": 4, **g}),
        {"n_buckets": 8},
        lambda idx, spark, v=None: idx.read_postings(spark, v), False,
    ),
    "pq": Family(
        "embeddings", "vec_id",
        lambda d, **g: PQIndex(d, **{"m": 4, "k_codes": 16, "dim": 64, **g}),
        {"m": 8},
        lambda idx, spark, v=None: idx.read_codes(spark, v), True,
    ),
}


@pytest.fixture(params=sorted(FAMILIES))
def fam(request):
    return FAMILIES[request.param]


@pytest.fixture()
def rows(spark, fam):
    """``rows(lo, hi)``: the family's input rows with ids in [lo, hi)."""
    df = load_table(spark, SF_SMALL, fam.table)
    return lambda lo, hi: df.filter((F.col(fam.key) >= lo) & (F.col(fam.key) < hi))


def _sorted(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _ids(fam, idx, spark, version=None):
    return {r[0] for r in fam.read(idx, spark, version).select(fam.key).distinct().collect()}


def _seg_dirs(index_dir):
    return {n for n in os.listdir(index_dir) if n.startswith("seg=")}


def test_geometry_pinned(fam, tmp_path):
    fam.open(str(tmp_path / "g"))
    with pytest.raises(ValueError, match="geometry"):
        fam.open(str(tmp_path / "g"), **fam.other_geometry)


def test_ingest_delete_compact_refused_before_build(spark, fam, rows, tmp_path):
    idx = fam.open(str(tmp_path / "nb"))
    with pytest.raises(ValueError, match="ingest before build"):
        idx(rows(0, 10), 0)
    with pytest.raises(ValueError, match="delete before build"):
        idx.delete(rows(0, 1))
    with pytest.raises(ValueError, match="compact before build"):
        idx.compact(spark)
    assert idx.latest_version() is None
    assert idx.versions() == []


def test_replay_skipped_across_delete_and_compact(spark, fam, rows, tmp_path):
    """A replayed batch id is a no-op even after a delete and a compact
    bumped the version past it, and those versions never shadow a
    genuine future batch id."""
    idx = fam.open(str(tmp_path / "r"))
    idx.build(rows(0, 20))
    idx(rows(20, 30), 0)
    v = idx.latest_version()
    idx(rows(20, 30), 0)  # replay
    assert idx.latest_version() == v
    idx.delete(rows(3, 4))
    idx.compact(spark)
    v = idx.latest_version()
    assert v == 2  # build -1, ingest 0, delete 1, compact 2
    idx(rows(30, 40), 0)  # replay after delete + compact: skipped
    assert idx.latest_version() == v
    assert _ids(fam, idx, spark) == set(range(30)) - {3}
    idx(rows(30, 40), 1)  # batch id 1 < version 2: still applied
    assert idx.latest_version() == v + 1
    assert _ids(fam, idx, spark) == set(range(40)) - {3}


def test_empty_batch_advances_guard_and_leaves_no_segment(
    spark, fam, rows, tmp_path, monkeypatch
):
    """Emptiness is read from the segment write's Observation: ingest
    runs no separate emptiness job, and the empty segment's dir is
    removed at once instead of waiting for the next commit's prune."""
    d = str(tmp_path / "e")
    idx = fam.open(d)
    v0 = idx.build(rows(0, 20))
    before = _sorted(fam.read(idx, spark))

    def no_emptiness_job(self):
        raise AssertionError("ingest ran a separate isEmpty job")

    empty = rows(0, 0)
    monkeypatch.setattr(type(empty), "isEmpty", no_emptiness_job)
    idx(empty, 5)
    v = idx.latest_version()
    man = idx._load_manifest(v)
    assert v == v0 + 1
    assert man["last_batch_id"] == 5
    assert man["segments"] == [v0]
    assert _seg_dirs(d) == {f"seg={v0}"}  # the empty segment is gone at once
    assert _sorted(fam.read(idx, spark)) == before
    idx(rows(20, 30), 5)  # replay of the empty batch: skipped
    assert idx.latest_version() == v


def test_delete_hides_at_once_and_compact_drops_tombstones(
    spark, fam, rows, tmp_path
):
    idx = fam.open(str(tmp_path / "d"))
    idx.build(rows(0, 20))
    idx(rows(20, 30), 0)
    idx.delete(rows(2, 5))
    assert _ids(fam, idx, spark) == set(range(30)) - {2, 3, 4}
    live = _sorted(fam.read(idx, spark))
    v = idx.compact(spark)
    man = idx._load_manifest(v)
    assert man["segments"] == [v]
    assert man["tombstones"] == []
    assert man["last_batch_id"] == 0
    assert _sorted(fam.read(idx, spark)) == live


def test_rebuild_carries_batch_id_and_clears_tombstones(
    spark, fam, rows, tmp_path
):
    idx = fam.open(str(tmp_path / "b"))
    idx.build(rows(0, 20))
    idx(rows(20, 30), 7)
    idx.delete(rows(1, 2))
    v = idx.build(rows(0, 30))
    man = idx._load_manifest(v)
    assert man["last_batch_id"] == 7
    assert man["tombstones"] == []
    assert man["segments"] == [v]
    assert _ids(fam, idx, spark) == set(range(30))  # id 1 is live again
    idx(rows(30, 40), 7)  # replay across the rebuild: skipped
    assert idx.latest_version() == v


def test_pruning_keeps_retained_window_readable(spark, fam, rows, tmp_path):
    d = str(tmp_path / "p")
    idx = fam.open(d)
    idx.build(rows(0, 20))
    for b, lo in enumerate((20, 25, 30)):
        idx(rows(lo, lo + 5), b)
    assert idx.versions() == [1, 2]  # keep_versions=2
    assert _ids(fam, idx, spark, 1) == set(range(30))
    assert _ids(fam, idx, spark) == set(range(35))
    with pytest.raises(ValueError, match="not available"):
        fam.read(idx, spark, 0)
    idx.compact(spark)  # version 3: one segment
    stale = fam.read(idx, spark, 2)  # lazy reader of the pre-compact version
    idx(rows(0, 0), 3)  # version 4 evicts manifest 2 ...
    # ... but its segments outlive it by one commit, so the reader survives
    assert _seg_dirs(d) == {"seg=-1", "seg=0", "seg=1", "seg=2", "seg=3"}
    assert {r[0] for r in stale.select(fam.key).distinct().collect()} == set(
        range(35)
    )
    idx(rows(0, 0), 4)
    assert _seg_dirs(d) == {"seg=3"}
    assert _ids(fam, idx, spark) == set(range(35))


def test_empty_build(spark, fam, rows, tmp_path):
    """Text commits ``segments: []`` (a zero-row partitioned write has
    no files to read back) and its reads refuse; the other families
    list the empty segment and read zero rows."""
    idx = fam.open(str(tmp_path / "eb"))
    v = idx.build(rows(0, 0))
    man = idx._load_manifest(v)
    if fam.empty_build_lists_segment:
        assert man["segments"] == [v]
        assert fam.read(idx, spark).count() == 0
    else:
        assert man["segments"] == []
        with pytest.raises(ValueError, match="index is empty"):
            fam.read(idx, spark)
    idx(rows(0, 20), 0)  # the committed geometry accepts ingest
    assert idx.latest_version() == v + 1


# -- schema-pinned reads -------------------------------------------------------


def _edit_schemas(index_dir, edit):
    """Apply ``edit`` to the ``schemas`` entry of every retained
    manifest."""
    import glob
    import json

    for mp in glob.glob(os.path.join(index_dir, "manifest_v=*.json")):
        with open(mp) as fh:
            man = json.load(fh)
        edit(man.setdefault("schemas", {}))
        with open(mp, "w") as fh:
            json.dump(man, fh)


def _shape(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_pinned_read_equals_inferred_read(spark, fam, rows, tmp_path):
    """Every live segment and tombstone dir has a recorded schema, and
    the pinned read equals the footer-inferred one in column names,
    order and types, and in rows."""
    d = str(tmp_path / "pin")
    idx = fam.open(d)
    idx.build(rows(0, 20))
    idx(rows(20, 30), 0)
    idx.delete(rows(2, 5))
    man = idx._load_manifest(idx.latest_version())
    assert {f"seg={s}" for s in man["segments"]} | {
        f"tomb={t}" for t in man["tombstones"]
    } <= set(man["schemas"])
    pinned = fam.read(idx, spark)
    pinned_shape, pinned_rows = _shape(pinned), _sorted(pinned)
    _edit_schemas(d, lambda schemas: schemas.clear())
    inferred = fam.read(idx, spark)
    assert _shape(inferred) == pinned_shape
    assert _sorted(inferred) == pinned_rows


def test_differing_recorded_schemas_fall_back_to_inference(
    spark, fam, rows, tmp_path
):
    """Segments whose recorded schemas differ (or one of which has none)
    are read with schema inference, never with either entry."""
    d = str(tmp_path / "mix")
    idx = fam.open(d)
    idx.build(rows(0, 20))
    idx(rows(20, 30), 0)
    want = fam.read(idx, spark)
    want_shape, want_rows = _shape(want), _sorted(want)
    seg = f"seg={idx._load_manifest(idx.latest_version())['segments'][0]}"

    def rename_first_field(schemas):
        # a recorded entry no writer produces: pinned, it would read an
        # all-NULL column in place of the first one
        if seg in schemas:
            schemas[seg]["fields"][0]["name"] = "__never_written"

    _edit_schemas(d, rename_first_field)
    got = fam.read(idx, spark)
    assert _shape(got) == want_shape
    assert _sorted(got) == want_rows
    _edit_schemas(d, lambda schemas: schemas.pop(seg, None))
    got = fam.read(idx, spark)
    assert _shape(got) == want_shape
    assert _sorted(got) == want_rows


# -- the admission skeleton (MinHashIndex, EmbeddingLshIndex) ---------------


#: overrides the ``fam`` fixture for the two families that admit
admission_families = pytest.mark.parametrize(
    "fam", [FAMILIES["lsh"], FAMILIES["minhash"]], ids=["lsh", "minhash"]
)


@admission_families
def test_admit_refused_before_build(fam, rows, tmp_path):
    idx = fam.open(str(tmp_path / "ab"))
    with pytest.raises(ValueError, match="admit before build"):
        idx.admit_and_ingest(rows(10, 20), 0, rows(0, 10))
    assert idx.latest_version() is None
    assert idx.versions() == []


@admission_families
def test_admit_replay_returns_none_and_commits_nothing(
    spark, fam, rows, tmp_path, monkeypatch
):
    """A replayed batch id returns None before any decision is derived,
    and leaves the committed version and its manifest as they were."""
    idx = fam.open(str(tmp_path / "ar"))
    idx.build(rows(0, 20))
    first = idx.admit_and_ingest(rows(20, 30), 0, rows(0, 30))
    assert first.count() == 10
    v = idx.latest_version()
    man = idx._load_manifest(v)
    assert man["last_batch_id"] == 0

    def boom(*_a, **_k):
        raise AssertionError("a replayed batch must not be decided again")

    monkeypatch.setattr(idx, "admit_batch", boom)
    assert idx.admit_and_ingest(rows(20, 30), 0, rows(0, 30)) is None
    assert idx.latest_version() == v
    assert idx._load_manifest(v) == man


@admission_families
def test_admit_and_ingest_takes_admit_batch_arguments(
    fam, rows, tmp_path
):
    """After ``batch_id`` come ``admit_batch``'s arguments minus
    ``version``: the fifth positional is ``max_bucket_size`` (a zero cap
    is refused), and ``version=`` is not accepted."""
    idx = fam.open(str(tmp_path / "aa"))
    idx.build(rows(0, 20))
    with pytest.raises(TypeError, match="version"):
        idx.admit_and_ingest(rows(20, 30), 0, rows(0, 30), version=0)
    with pytest.raises(ValueError, match="max_bucket_size must be >= 1"):
        idx.admit_and_ingest(rows(20, 30), 0, rows(0, 30), 0.5, 0)
    assert idx._load_manifest(idx.latest_version())["last_batch_id"] == -1


# -- the shared transaction core ------------------------------------------------


def _rollup_case(spark, d):
    from cses2humio_spark.streaming.materialized import IncrementalRollup

    table = IncrementalRollup(
        d, key_col="uid", value_col="v", key_type="bigint", n_buckets=4
    )
    batch = spark.createDataFrame(
        [(1, 2.0), (2, 3.0), (1, 4.0)], "uid bigint, v double"
    )
    return table, batch, lambda t: _sorted(t.read(spark))


def _minhash_case(spark, d):
    docs = load_table(spark, SF_SMALL, "documents")
    table = MinHashIndex(d)
    table.build(docs.filter(F.col("doc_id") < 20))
    batch = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 30))
    return table, batch, lambda t: _sorted(t.read_signatures(spark))


@pytest.mark.parametrize("case", [_rollup_case, _minhash_case], ids=["rollup", "minhash"])
def test_crash_at_pointer_switch_then_replay_applies_once(
    spark, case, tmp_path, monkeypatch
):
    """A commit that dies at the pointer switch — data and manifest
    already written, ``_LATEST`` not moved — leaves the prior version
    committed. Replaying the same batch id applies it exactly once,
    lists each version once, and leaves no staging dir behind."""
    table, batch, read = case(spark, str(tmp_path / "t"))
    ref, _, _ = case(spark, str(tmp_path / "ref"))
    ref(batch, 0)
    prior = table.latest_version()

    switch = table._switch_pointer

    def crash(version):
        monkeypatch.setattr(table, "_switch_pointer", switch)  # once only
        raise RuntimeError("injected crash at pointer switch")

    monkeypatch.setattr(table, "_switch_pointer", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        table(batch, 0)
    assert table.latest_version() == prior
    orphan = ref.latest_version()
    assert os.path.exists(table._manifest_path(orphan))

    table(batch, 0)  # the replay after restart
    assert table.latest_version() == orphan
    assert read(table) == read(ref)
    assert table.versions() == ref.versions()
    assert len(set(table.versions())) == len(table.versions())
    left = [
        name
        for _root, dirs, _files in os.walk(table.root)
        for name in dirs
        if name.endswith(".staging") or name.startswith("_staging_v=")
    ]
    assert left == []
