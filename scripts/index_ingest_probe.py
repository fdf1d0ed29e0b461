"""Measure the streaming-ingest claim shared by every persisted index
family: an ingest appends one immutable segment and never reads or
rewrites prior segments, so its cost is O(|delta|), INDEPENDENT of index
size.

Method: build one index over the family's table minus a 500-row delta
(small), and one over a 10x corpus — the table replicated ten times with
shifted ids, minus the same delta (big). Ingest the SAME delta into both
twice (distinct batch ids, so the replay guard applies both) and report
the min-of-two ingest wall and the segment bytes each ingest wrote.
Equal deltas into unequal indexes must cost the same. Geometry is fixed
across both sizes (the LSH banding comes from the small corpus) so the
bytes per row are comparable.

Usage: python scripts/index_ingest_probe.py --family {pq,minhash,lsh,text}
Reads the sf0.1 testdata set (``density_probe.BASE``) and prints one
``PROBE|`` line per index size.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DELTA = 500


def _pq(d, n):
    from cses2humio_spark.operators.ann_index import PQIndex

    return PQIndex(d, m=4, k_codes=16, dim=64)


def _lsh(d, n):
    from cses2humio_spark.operators.dedup_index import EmbeddingLshIndex
    from cses2humio_spark.operators.similarity import auto_band_params

    w, b = auto_band_params(n - DELTA)
    return EmbeddingLshIndex(d, dim=64, n_planes=w, n_bands=b)


def _minhash(d, n):
    from cses2humio_spark.operators.dedup_index import MinHashIndex

    return MinHashIndex(d)


def _text(d, n):
    from cses2humio_spark.operators.text_index import InvertedTextIndex

    return InvertedTextIndex(d, n_buckets=64)


# family -> (table, id column, factory(index_dir, rows per corpus copy))
FAMILIES = {
    "pq": ("embeddings", "vec_id", _pq),
    "lsh": ("embeddings", "vec_id", _lsh),
    "minhash": ("documents", "doc_id", _minhash),
    "text": ("documents", "doc_id", _text),
}


def segment_bytes(root: str) -> int:
    """Bytes under the segment-shaped artifact dirs (``seg=``, ``dl=``)."""
    total = 0
    for name in os.listdir(root):
        if name.startswith(("seg=", "dl=")):
            for dp, _dn, fns in os.walk(os.path.join(root, name)):
                total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
    return total


def main() -> None:
    from density_probe import BASE

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--family", required=True, choices=sorted(FAMILIES))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from cses2humio_spark.session import get_spark
    from cses2humio_spark.sources.catalog import load_table

    table, key, factory = FAMILIES[args.family]
    spark = get_spark("index-ingest-probe")
    base = load_table(spark, BASE, table)
    n = base.agg(F.max(key)).collect()[0][0] + 1  # id shift per copy
    is_delta = F.col(key) >= n - DELTA
    delta = base.filter(is_delta)
    big = base.filter(~is_delta)
    for i in range(1, 10):
        big = big.unionByName(base.withColumn(key, F.col(key) + i * n))
    work = tempfile.mkdtemp(prefix="index_ingest_probe_")
    try:
        for name, corpus in (("small", base.filter(~is_delta)), ("big", big)):
            d = os.path.join(work, name)
            idx = factory(d, n)
            idx.build(corpus)
            walls, written = [], []
            for batch_id in range(2):
                before = segment_bytes(d)
                t0 = time.perf_counter()
                idx(delta, batch_id)
                walls.append(time.perf_counter() - t0)
                written.append(segment_bytes(d) - before)
            print(
                f"PROBE| family={args.family} index={name}({corpus.count()}): "
                f"ingest({DELTA} rows) min-wall={min(walls):.2f}s "
                f"delta-bytes={'/'.join(map(str, written))}",
                flush=True,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
