"""Deduplication operators: exact + near-dup families (SURVEY.md §2.2,
"LLM-data-pipeline extensions"; motivated by the reference's at-least-once
replay semantics, SURVEY.md §2.1 invariant 5).

Scale design:
- ``dedup_exact_by_key`` / ``dedup_exact_content``: one shuffle on the key
  (or content hash — hashing first keeps the shuffle narrow when the
  content column is wide: shuffle moves a 16-byte digest + id, not the
  document body).
- MinHash near-dup: one formulation per step. ``minhash_signatures``
  signs a per-document shingle array as a pure projection;
  ``minhash_candidate_pairs`` self-joins on the (band, signature) bucket,
  so candidate generation is O(pairs-in-bucket), never the O(n^2) cross
  join; ``jaccard_pairs`` verifies candidates against one per-document
  shingle-set table (``shingle_set_table``); ``alternating_star_components``
  turns verified pairs into one representative per cluster.
- ``simhash``: up-to-32-bit simhash fingerprints; near-dup candidates
  share a band of the fingerprint.
All hashing uses md5 (available and bit-identical in Spark and DuckDB, so
every step stays oracle-checkable).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from cses2humio_spark.functions.text import tokens


def dedup_exact_by_key(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column]
) -> DataFrame:
    """Keep exactly one row per key, deterministically (first under
    ``order``). ``dropDuplicates`` keeps an *arbitrary* row — fine for
    idempotence, wrong for reproducible pipelines — so this is the
    window-based formulation."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact_content(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Exact content dedup: group by md5(content), keep the lowest id.
    Shuffles (digest, id) only — at 100 TB the document bodies never move;
    the surviving ids are joined back (broadcast if small, shuffle
    otherwise)."""
    digests = df.select(
        F.md5(F.col(content_col)).alias("__digest"), F.col(id_col)
    )
    keep = digests.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


def _token_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, __toks)``: each row's text split on whitespace ONCE, after
    ``fan_out`` (the shingling downstream is the CPU-heavy phase)."""
    from cses2humio_spark.sources.catalog import fan_out

    return fan_out(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )


def _ngrams(toks: Column, n: int) -> Column:
    """Word n-gram shingles (array<string>) of a token array. ``toks`` is
    read three times, so pass a projected column (``_token_table``), not
    an expression — otherwise each read re-splits the text."""
    size = F.size(toks)
    idx = F.sequence(F.lit(1), size - F.lit(n - 1))
    return F.when(
        size >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Exploded (id, shingle) table ``(id, __sh)``: one row per shingle
    occurrence. The input of ``shingle_set_table`` and of the fingerprint
    passes (``eval_contamination``, ``source_ngram_overlap``)."""
    return _token_table(df, id_col, text_col).select(
        F.col(id_col), F.explode(_ngrams(F.col("__toks"), n)).alias("__sh")
    )


def shingle_set_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """One row per document: its DISTINCT shingle set as an array column
    ``__shs``. The set is built inside one ``collect_set`` aggregation
    (partial-aggregated map-side), the single shuffle of shingle data in
    the near-dup pipeline; signatures (``minhash_signatures``) and pair
    verification (``jaccard_pairs``) are rowwise projections and id-joins
    over it. Documents with fewer than ``n`` tokens have no shingle and
    no row.

    Bound: one document's whole distinct shingle set sits in one
    aggregation buffer and one row (~n x the document's own bytes). A
    single pathologically large document concentrates that set in one
    task. Callers feeding several consumers should ``.persist()`` the
    result."""
    return (
        shingle_table(df, id_col, text_col, n=n)
        .groupBy(id_col)
        .agg(F.collect_set("__sh").alias("__shs"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    shingle_sets_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document banded MinHash signature. A band's signature is the
    CONCATENATION of ``rows_per_band`` independent min-hashes — the classic
    (b, r) LSH construction: candidate probability = 1-(1-J^r)^b. With one
    hash per band (r=1) every Jaccard-J pair collides with probability
    ~J·b, flooding candidates with J~0.1 noise; r=2 suppresses them
    quadratically while keeping recall ~99.9% at J>=0.8.

    Returns (id, band, sig); sig is a hex string (md5-based, min over
    strings — identical lexicographic order in any engine, so the oracle
    reproduces it exactly).

    A pure projection: each min-hash is ``array_min`` over the row's
    md5-hashed shingle array, and the ``bands``-element array of band
    signatures is ``posexplode``d — no aggregation, no key shuffle, so it
    is legal in streaming append mode. The shingle array is
    ``shingle_sets_df.__shs`` when a ``shingle_set_table`` is given (``df``
    and ``text_col`` are then unused); otherwise each row's text is
    tokenized and shingled ONCE into its own array column (after
    ``fan_out``) and every hash reads that column. MIN over a set equals
    MIN over the multiset, so both inputs give identical signatures.
    Documents with fewer than ``n`` tokens have an empty array and
    produce no rows."""
    if shingle_sets_df is None:
        shingle_sets_df = _token_table(df, id_col, text_col).select(
            F.col(id_col), _ngrams(F.col("__toks"), n).alias("__shs")
        )

    def _hash_fn(prefix: str):
        # closure factory: PySpark derives HOF lambda arity from the
        # Python signature, so default-arg capture would read as 3 args
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    band_sigs = F.array(
        *[
            F.concat(
                *[
                    F.array_min(
                        F.transform(F.col("__shs"), _hash_fn(f"b{b}h{j}:"))
                    )
                    for j in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
    return shingle_sets_df.select(
        F.col(id_col), F.posexplode(band_sigs).alias("band", "sig")
    ).filter(F.col("sig").isNotNull())


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 2_000,
    shingle_sets_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: documents sharing any (band, sig) bucket.
    Equi self-join on the bucket — linear shuffle, no cross join.
    ``shingle_sets_df`` is passed through to ``minhash_signatures``.

    ``max_bucket_size`` bounds the quadratic pair blowup of mass-duplicate
    buckets: a boilerplate page duplicated 10^6 times would otherwise put
    10^6 ids in one (band, sig) bucket and emit ~10^12 pairs from the
    self-join. Buckets larger than the cap are collapsed to a STAR instead
    of a clique — every member pairs with the bucket's minimum id only, so
    the bucket emits O(size) pairs, and connected-component clustering
    (``alternating_star_components``) still reaches every member through
    the hub. Exact per-pair Jaccard is unchanged for the emitted pairs;
    only redundant within-cluster edges are dropped, and the drop is
    LOGGED (no-silent-caps rule) — via an ``Observation`` metric that
    fires inside the CONSUMER's action, so the guard launches ZERO extra
    Spark jobs and persists nothing. Pass ``None`` to disable (full
    clique output)."""
    sigs = minhash_signatures(
        df,
        id_col,
        text_col,
        n=n,
        bands=bands,
        rows_per_band=rows_per_band,
        shingle_sets_df=shingle_sets_df,
    )
    a = sigs.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = sigs.select(F.col(id_col).alias("id_b"), "band", "sig")
    if max_bucket_size is not None:
        # Per-bucket size + min id on the SAME (band, sig) shuffle key the
        # join already needs. Normal buckets take the clique path
        # unchanged; oversized ones emit hub→member edges. Prune the LEFT
        # side of the self-join before the pairs exist: in an oversized
        # bucket only the hub row survives as id_a, so that bucket
        # contributes O(size) hub→member rows to the join output instead
        # of O(size^2) clique rows — the cap acts on join CPU, not just on
        # the result. No persist, no cache to leak.
        over = F.col("__bn") > F.lit(max_bucket_size)
        if shingle_sets_df is None:
            # Signing text is the costly phase: a window over the one
            # signature frame feeds both join sides (kept to buckets that
            # can pair), so its shuffle is reused and each document is
            # signed once — a groupBy joined back would sign it again.
            bucket = Window.partitionBy("band", "sig")
            pairable = sigs.select(
                id_col,
                "band",
                "sig",
                F.count(F.lit(1)).over(bucket).alias("__bn"),
                F.min(id_col).over(bucket).alias("__hub"),
            ).filter(F.col("__bn") > 1)
            hub = F.col(id_col) == F.col("__hub")
            a = (
                _observe_star_cap(pairable, over & hub, max_bucket_size)
                .filter(~over | hub)
                .select(F.col(id_col).alias("id_a"), "band", "sig")
            )
            b = pairable.select(F.col(id_col).alias("id_b"), "band", "sig")
        else:
            # Set-table signatures re-read a persisted cache, so the second
            # read is cheap; the window form sorts every signature row and
            # showed no steady gain for these callers.
            stats = sigs.groupBy("band", "sig").agg(
                F.count(F.lit(1)).alias("__bn"),
                F.min(id_col).alias("__hub"),
            )
            stats = _observe_star_cap(stats, over, max_bucket_size)
            a = (
                a.join(stats, on=["band", "sig"])
                .filter(~over | (F.col("id_a") == F.col("__hub")))
                .select("id_a", "band", "sig")
            )
    return (
        a.join(b, on=["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _observe_star_cap(
    rows: DataFrame, over: Column, max_bucket_size: int
) -> DataFrame:
    """Attach the star-cap's logged-drop contract as ``Observation``
    metrics on ``rows`` (bucket size ``__bn`` on every row; ``over`` holds
    on ONE row per oversized bucket): the numbers are computed DURING the
    consumer's action (zero extra jobs) and a daemon thread logs one
    warning if any bucket collapsed. The thread blocks on ``obs.get``; if
    the caller never runs an action it idles harmlessly (daemon)."""
    import logging
    import threading

    from pyspark.sql import Observation

    obs = Observation()
    rows = rows.observe(
        obs,
        F.sum(over.cast("long")).alias("n_oversized"),
        F.max(F.when(over, F.col("__bn"))).alias("max_bucket"),
        # dropped edges per oversized bucket: clique C(n,2) minus star n-1
        F.sum(
            F.when(
                over,
                F.col("__bn") * (F.col("__bn") - 1) / 2 - (F.col("__bn") - 1),
            ).otherwise(F.lit(0))
        ).cast("long").alias("dropped_pairs"),
    )

    def _log() -> None:
        try:
            m = obs.get  # blocks until the consumer's first action
        except Exception:  # session torn down before any action
            return
        if m.get("n_oversized"):
            logging.getLogger(__name__).warning(
                "minhash_candidate_pairs: %d (band, sig) bucket(s) exceed "
                "max_bucket_size=%d (largest: %s) — emitted star (hub-to-"
                "member) edges instead of the full clique, dropping %s "
                "redundant within-cluster pair edges",
                m["n_oversized"],
                max_bucket_size,
                m["max_bucket"],
                m["dropped_pairs"],
            )

    threading.Thread(
        target=_log, name="minhash-star-cap-log", daemon=True
    ).start()
    return rows


def jaccard_pairs(
    pairs: DataFrame, shingle_sets_df: DataFrame, id_col: str
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification stage).
    ``shingle_sets_df`` is a ``shingle_set_table``; each side of a pair
    gets its set by an id equi-join, and the intersection is a rowwise
    ``array_intersect`` — no shuffle of shingle data.

    Contract: the input ``(id_a, id_b)`` pairs must be distinct — a
    duplicate pair yields a duplicate output row. Pairs sharing no
    shingle (``n_inter = 0``), and pairs with an id absent from the set
    table (fewer than ``n`` tokens), are dropped: absence is the zero.
    MinHash band candidates always share a shingle.

    Returns (id_a, id_b, n_inter, n_a, n_b, jaccard), jaccard rounded to
    6 places."""
    n_inter_c = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    out = (
        pairs.select("id_a", "id_b")
        .join(
            shingle_sets_df.select(
                F.col(id_col).alias("id_a"), F.col("__shs").alias("__sa")
            ),
            on="id_a",
        )
        .join(
            shingle_sets_df.select(
                F.col(id_col).alias("id_b"), F.col("__shs").alias("__sb")
            ),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            n_inter_c.cast("bigint").alias("n_inter"),
            F.size(F.col("__sa")).cast("bigint").alias("n_a"),
            F.size(F.col("__sb")).cast("bigint").alias("n_b"),
        )
        .filter(F.col("n_inter") >= 1)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
    )
    return out.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per-token md5, majority vote per bit position.

    Bits come straight off the md5 hex digits (4 bits per digit, extracted
    with integer shifts) — pure integer arithmetic, bit-identical in any
    engine, so the whole operator is oracle-checkable. ``bits`` <= 32.
    """
    if not 1 <= bits <= 32:
        raise ValueError(f"bits must be in [1, 32], got {bits}")
    from cses2humio_spark.sources.catalog import fan_out

    toks = fan_out(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    hashed = toks.withColumn("hx", F.md5(F.col("tok")))
    bit_idx = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    # hex digit for bit i is char (i div 4) of the md5 (1-indexed); the bit
    # within the digit is (i mod 4); digit value = position in hex alphabet
    per_bit = (
        hashed.select(F.col(id_col), F.col("hx"), bit_idx)
        .withColumn(
            "hv",
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.col("hx"), F.expr("(bit div 4) + 1").cast("int"), 1),
            )
            - F.lit(1),
        )
        .withColumn("bitval", F.expr("(hv >> (bit % 4)) & 1"))
        .groupBy(id_col, "bit")
        .agg(F.sum(F.when(F.col("bitval") == 1, 1).otherwise(-1)).alias("vote"))
        .withColumn("bit_on", F.when(F.col("vote") > 0, F.lit(1)).otherwise(F.lit(0)))
    )
    return per_bit.groupBy(id_col).agg(
        F.sum(F.col("bit_on").cast("bigint") * F.expr("cast(1 as bigint) << bit"))
        .cast("bigint")
        .alias("simhash")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: fingerprint → band self-join → exact
    Hamming verify.

    The pigeonhole guarantee: two ``bits``-wide fingerprints within
    ``max_hamming`` bit flips MUST agree exactly on at least one of
    ``n_bands`` equal-width bands whenever ``max_hamming < n_bands`` —
    so the band equi-join is a lossless candidate generator and the
    ``bit_count(xor)`` verify makes the pipeline exact. Candidates are
    emitted from their FIRST matching band only (the SWAR
    ``first_matching_band`` filter — pure int64 arithmetic inside
    whole-stage codegen) instead of a post-join DISTINCT, so a pair
    sharing several bands costs no extra shuffle rows. The join shuffles
    one (band, band_sig, id, fingerprint) row per band per doc — the
    fingerprint rides along as one bigint, which is what makes the
    verify join-free."""
    if bits % n_bands:
        raise ValueError(f"bits ({bits}) must divide evenly into {n_bands} bands")
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < n_bands ({n_bands}) for the "
            "band join to be a lossless candidate generator (pigeonhole)"
        )
    from cses2humio_spark.operators.similarity import first_matching_band

    w = bits // n_bands
    mask = (1 << w) - 1
    fp = simhash(df, id_col, text_col, bits=bits)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * w)
                .bitwiseAND(F.lit(mask))
                .alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    entries = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(bands).alias("__b")
    ).select(id_col, "simhash", F.col("__b.band").alias("band"), F.col("__b.band_sig").alias("band_sig"))
    ham = F.bit_count(
        F.col("ea.simhash").bitwiseXOR(F.col("eb.simhash"))
    ).cast("int")
    return (
        entries.alias("ea")
        .join(
            entries.alias("eb"),
            (F.col("ea.band") == F.col("eb.band"))
            & (F.col("ea.band_sig") == F.col("eb.band_sig"))
            & (F.col(f"ea.{id_col}") < F.col(f"eb.{id_col}")),
        )
        .filter(
            first_matching_band(
                F.col("ea.simhash"), F.col("eb.simhash"), w, n_bands
            )
            == F.col("ea.band")
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"ea.{id_col}").alias("id_a"),
            F.col(f"eb.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
    )


#: below this MEASURED edge count the component graph is resolved with a
#: driver-side union-find instead of the distributed star alternation:
#: 100k (u, v) id pairs collect to a few MB, while each star round costs
#: ~1 s of eager localCheckpoint + convergence action regardless of size.
DRIVER_UNION_FIND_MAX_EDGES = 100_000


def _driver_union_find_reps(edges: list[tuple]) -> list[tuple]:
    """Union-find over a BOUNDED edge list, returning (id, component_min)
    for every id that appears in an edge. Roots are kept as the minimum
    id of their component (union attaches the larger root under the
    smaller), so the output is bit-identical to the star fixpoint; id
    ordering matches Spark's for both int and string ids (UTF-8 byte
    order preserves code-point order)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return [(x, find(x)) for x in parent]


def alternating_star_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 30,
    driver_max_edges: int = DRIVER_UNION_FIND_MAX_EDGES,
) -> DataFrame:
    """Connected components over near-dup pairs — the step that turns
    pairwise detection into dedup decisions: every id in ``ids`` maps to
    its component's minimum id (singletons to themselves).

    Size-adaptive. ONE ``limit(driver_max_edges + 1).collect()`` over the
    distinct edge set both measures boundedness and, in the common
    bounded case, already delivers the edges: the components resolve in
    a driver union-find and broadcast back, one driver action in all.
    Above ``driver_max_edges`` the distributed alternating LARGE-STAR /
    SMALL-STAR contraction runs (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC 2014), re-deriving its edge set from
    ``pairs`` — one extra pass only in the large-graph case. Both routes
    return identical output (pinned in tests/test_approx.py).

    The star alternation contracts every component to a star in
    O(log^2 n) rounds REGARDLESS of diameter, so a CHAIN-shaped component
    (templated web text where A~B~C~... with no shortcut edges) costs no
    more rounds than a dense one:

    - large-star(u): over the symmetric neighborhood N(u), connect every
      strictly-larger neighbor v > u to m = min(N(u) + {u});
    - small-star(u): over edges directed large->small grouped by the
      larger endpoint u, connect u and all its smaller neighbors to
      their minimum.

    Both steps are one groupBy + one self-equi-join on node id — the
    same shuffle shape each round, no growing state — and each round's
    edge set is lineage-truncated (localCheckpoint; a cluster deployment
    would point this at a reliable checkpoint dir), so the plan stays
    O(1) deep however many rounds run. Convergence is detected by a
    4-field distributed signature (count + id sums + order-insensitive
    hash sum), one tiny action per round — never a label collect.

    Returns (id_col, cluster_rep)."""
    n_part = ids.sparkSession.sparkContext.defaultParallelism

    def _parts(n_edges: int) -> int:
        # checkpoint width adapted to the MEASURED edge count (free — the
        # convergence signature already collects it): a 30-edge admission
        # micro-batch graph must not pay 32 task launches per round, and
        # a billion-edge graph still spreads over the full parallelism
        return max(1, min(n_part, int(n_edges // 50_000) + 1))

    edges_df = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()

    probe = edges_df.limit(driver_max_edges + 1).collect()
    if not probe:
        # no edges at all: every id is its own component — skip the
        # contraction loop (and its per-round checkpoint/action fixed
        # cost) entirely. This is the COMMON case for streaming
        # admission micro-batches, most of which contain no duplicates.
        return ids.select(
            F.col(id_col), F.col(id_col).alias("cluster_rep")
        )
    if len(probe) <= driver_max_edges:
        # Small MEASURED edge set: resolve components in ONE pass with a
        # driver union-find instead of N checkpointed star rounds. The
        # collect is bounded by driver_max_edges id pairs; singletons
        # fall out of the left join below.
        spark = ids.sparkSession
        mapping = _driver_union_find_reps([(r[0], r[1]) for r in probe])
        id_type = ids.schema[id_col].dataType
        rep_schema = T.StructType(
            [
                T.StructField(id_col, id_type),
                T.StructField("cluster_rep", id_type),
            ]
        )
        # from an Arrow table, not a list: a list goes through
        # parallelize and costs a Python-worker job when consumed
        ids_, reps_ = zip(*mapping)
        reps_df = F.broadcast(
            spark.createDataFrame(
                pa.table({id_col: list(ids_), "cluster_rep": list(reps_)}),
                rep_schema,
            )
        )
        return (
            ids.select(F.col(id_col))
            .join(reps_df, id_col, "left")
            .select(
                id_col,
                F.coalesce(F.col("cluster_rep"), F.col(id_col)).alias(
                    "cluster_rep"
                ),
            )
        )

    e = edges_df.repartition(n_part, "u").localCheckpoint(eager=True)

    def _signature(df: DataFrame) -> tuple:
        # decimal sums: an int64 SUM of xxhash64 values overflows (ANSI
        # sessions raise; non-ANSI would wrap silently). Per-endpoint
        # sums go through xxhash64 rather than casting the id itself so
        # non-numeric id columns (string doc ids) work — an ANSI cast of
        # 'a' to decimal raises mid-round.
        row = df.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("u").cast("decimal(38,0)")),
            F.sum(F.xxhash64("v").cast("decimal(38,0)")),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        ).collect()[0]
        return tuple(row)

    sig = _signature(e)
    prev = e
    for _ in range(max_rounds):
        # large-star: v > u re-attached to min(N(u) + {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .distinct()
        )
        # small-star: direct large->small, attach u and its smaller
        # neighbors to their minimum
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .distinct()
            .repartition(_parts(sig[0]), "u")
            .localCheckpoint(eager=True)
        )
        new_sig = _signature(e)
        if new_sig == sig:
            # The 4-field signature (count + id sums + xxhash64 sum) can
            # collide only if two DIFFERENT edge sets agree on all four
            # aggregates — ~2^-64 per round. Because a signature match is
            # rare (once per run) and the fixpoint edge set is small, we
            # can afford to make the claim EXACT: counts are
            # already equal, so one-sided set difference decides equality.
            if e.exceptAll(prev).limit(1).count() == 0:
                break
        sig = new_sig
        prev = e
    else:
        raise RuntimeError(
            f"alternating_star_components did not converge within "
            f"max_rounds={max_rounds} — implausible for any graph that "
            "fits on hardware (rounds grow as log^2 n); raise max_rounds"
        )
    # fixpoint edges are (leaf -> component-min) stars; roots have no
    # outgoing edge and map to themselves
    reps = e.groupBy("u").agg(F.min("v").alias("cluster_rep"))
    return (
        ids.select(F.col(id_col))
        .join(reps.withColumnRenamed("u", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_rep"), F.col(id_col)).alias("cluster_rep"),
        )
    )


def _dup_span_islands(win: DataFrame, dup_fps: DataFrame, id_col: str, width: int):
    """Maximal covered intervals (islands) per document from duplicated
    window STARTS — the shared core of ``duplicate_span_coverage`` and
    ``trim_duplicate_spans``. With stride-1 equal-width windows, the
    union of covered positions is exactly the union of [p, p+width-1]
    over duplicated starts, so instead of exploding every covered
    position (O(dup_tokens) rows — a mass-dup blowup) we sort the starts
    per doc, break an island whenever a start exceeds its predecessor +
    width, and emit one (lo, hi) row per maximal run. Output size is #islands, which on a fully-
    duplicated document is ONE row instead of len(doc) positions."""
    from pyspark.sql.window import Window

    starts = win.join(dup_fps, "fp").select(id_col, "p").distinct()
    w_ord = Window.partitionBy(id_col).orderBy("p")
    flagged = starts.withColumn(
        "__new",
        F.when(F.col("p") > F.lag("p").over(w_ord) + width, 1).otherwise(0),
    )
    run = (
        flagged.withColumn(
            "__isl",
            F.sum("__new").over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "__isl")
        .agg(
            F.min("p").cast("int").alias("lo"),
            (F.max("p") + width - 1).cast("int").alias("hi"),
        )
    )
    return run.select(id_col, "lo", "hi")


def duplicate_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 8,
) -> DataFrame:
    """Exact duplicated-SPAN coverage per document — the substring-level
    dedup primitive (the ExactSubstr idea popularized by "Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022):
    fingerprint EVERY ``width``-token sliding window (stride 1, unlike
    ``chunking.chunk_documents``' strided windows), find fingerprints
    that occur in MORE THAN ONE document, and report the exact fraction
    of each document's token positions covered by the UNION of its
    cross-document-duplicated windows. A trimming pass drops exactly the
    covered positions; a filtering pass thresholds on the ratio.

    Scale shape: the window table is a narrow map-side expansion
    (doc_id, position, 16-byte md5) — token text never leaves the scan
    stage; the duplicate-detection shuffle carries digests only; the
    coverage union is computed as maximal INTERVALS over duplicated
    window starts (``_dup_span_islands``), never as exploded positions,
    so even a fully-duplicated document contributes O(#islands) rows —
    not O(len(doc)) — to the per-doc aggregation. Nothing is
    driver-sized and no per-row state grows with document length.

    Returns (id_col, n_tokens, n_dup_tokens, dup_ratio) for every input
    document (docs shorter than ``width`` tokens have coverage 0)."""
    from cses2humio_spark.sources.catalog import fan_out

    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    toks = tokens(F.col(text_col))
    # fan_out before the stride-1 window-fingerprint expansion: the
    # per-window md5 is the CPU-heavy phase and ``win`` is consumed
    # twice (duplicate detection + island compression) — on a
    # single-split local scan both passes otherwise serialize onto one
    # task (fan_out is a no-op on multi-split production inputs)
    base = fan_out(df).select(
        F.col(id_col), toks.alias("toks"), F.size(toks).alias("n")
    )
    win = base.filter(F.col("n") >= width).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - width),
                lambda i: F.struct(
                    i.alias("p"),
                    F.md5(
                        F.concat_ws(" ", F.slice(F.col("toks"), i + 1, width))
                    ).alias("fp"),
                ),
            )
        ).alias("w"),
    ).select(id_col, F.col("w.p").alias("p"), F.col("w.fp").alias("fp"))
    dup_fps = (
        win.groupBy("fp")
        .agg(F.count_distinct(id_col).alias("n_docs_fp"))
        .filter(F.col("n_docs_fp") > 1)
        .select("fp")
    )
    covered = (
        _dup_span_islands(win, dup_fps, id_col, width)
        .groupBy(id_col)
        .agg(
            F.sum(F.col("hi") - F.col("lo") + 1)
            .cast("bigint")
            .alias("n_dup_tokens")
        )
    )
    return (
        base.join(covered, id_col, "left")
        .select(
            id_col,
            F.col("n").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("bigint")
            .alias("n_dup_tokens"),
            F.round(
                F.coalesce(F.col("n_dup_tokens"), F.lit(0))
                / F.col("n").cast("double"),
                6,
            ).alias("dup_ratio"),
        )
    )


def trim_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 8,
) -> DataFrame:
    """The ACTION behind ``duplicate_span_coverage``: physically remove
    every token position covered by a cross-document-duplicated
    ``width``-token window and return the trimmed text — the ExactSubstr
    trimming pass itself (Lee et al. 2022), not just its ratio report.

    The covered positions are carried per document as maximal INTERVALS
    (``_dup_span_islands``), not as a position set: a long fully-
    duplicated document contributes one (lo, hi) struct, never a
    len(doc)-element array (the bound is #maximal-covered-runs, which only a pathological
    alternating-coverage corpus can grow, and then only to n/width).
    The trim is a pure-codegen ``filter`` over the token array with an
    interval-membership ``exists`` — no Python, no second text shuffle:
    the document text rides only its own map-side projection, and the
    join that brings the interval list back is id-keyed.

    Returns (id_col, n_tokens, kept_tokens, trimmed_text)."""
    from cses2humio_spark.sources.catalog import fan_out

    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    toks = tokens(F.col(text_col))
    # fan_out before the stride-1 window-fingerprint expansion: the
    # per-window md5 is the CPU-heavy phase and ``win`` is consumed
    # twice (duplicate detection + island compression) — on a
    # single-split local scan both passes otherwise serialize onto one
    # task (fan_out is a no-op on multi-split production inputs)
    base = fan_out(df).select(
        F.col(id_col), toks.alias("toks"), F.size(toks).alias("n")
    )
    win = base.filter(F.col("n") >= width).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - width),
                lambda i: F.struct(
                    i.alias("p"),
                    F.md5(
                        F.concat_ws(" ", F.slice(F.col("toks"), i + 1, width))
                    ).alias("fp"),
                ),
            )
        ).alias("w"),
    ).select(id_col, F.col("w.p").alias("p"), F.col("w.fp").alias("fp"))
    dup_fps = (
        win.groupBy("fp")
        .agg(F.count_distinct(id_col).alias("n_docs_fp"))
        .filter(F.col("n_docs_fp") > 1)
        .select("fp")
    )
    covered = (
        _dup_span_islands(win, dup_fps, id_col, width)
        .groupBy(id_col)
        .agg(
            F.collect_list(
                F.struct(F.col("lo"), F.col("hi"))
            ).alias("__spans")
        )
    )
    spans = F.coalesce(
        F.col("__spans"), F.array().cast("array<struct<lo:int,hi:int>>")
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            spans,
            lambda s: (i >= s["lo"]) & (i <= s["hi"]),
        ),
    )
    return (
        base.join(covered, id_col, "left")
        .select(
            id_col,
            F.col("n").cast("bigint").alias("n_tokens"),
            F.size(kept).cast("bigint").alias("kept_tokens"),
            F.array_join(kept, " ").alias("trimmed_text"),
        )
    )


def streaming_near_dup_candidates(
    stream_docs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Streaming near-dup detection: incoming documents (a streaming
    DataFrame) are checked against a STATIC corpus signature table —
    the "dedup the incoming crawl against the existing corpus" shape of
    a training-data pipeline.

    Per-row signatures (``minhash_signatures`` — a projection, no
    aggregation, so the stream stays in APPEND mode with zero state) stream-static
    equi-join the corpus band table on (band, sig). Stateless and
    append-safe: every emitted row is a (new doc, corpus doc, band)
    candidate hit; a pair matching in several bands emits once per band
    (cross-band dedup is an aggregation — do it downstream or in
    foreachBatch where the micro-batch is a plain batch frame).

    ``corpus_sigs`` is the (id, band, sig) ``minhash_signatures`` output
    over the corpus — at 100 TB it lives as a bucketed table
    on (band, sig) so the stream side joins without shuffling the corpus.

    Returns (``id_col`` of the new doc, corpus_id, band).
    """
    new_sigs = minhash_signatures(
        stream_docs.select(id_col, text_col),
        id_col,
        text_col,
        n=n,
        bands=bands,
        rows_per_band=rows_per_band,
    )
    corpus = corpus_sigs.select(
        F.col(id_col).alias("corpus_id"), "band", "sig"
    )
    return new_sigs.join(corpus, on=["band", "sig"], how="inner").select(
        F.col(id_col), "corpus_id", "band"
    )


def eval_fingerprint_table(
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """The eval suite reduced to its distinct word-``n``-gram md5
    fingerprints — ONE narrow column, thousands of rows for a curated
    suite. Compute it once per eval-suite version, persist it, and hand
    it to :func:`eval_contamination` / ``MinHashIndex.admit_batch`` via
    their ``eval_fingerprints`` parameter: a streaming admission loop
    must not re-shingle the static eval suite inside every micro-batch.
    The gram length rides as column metadata on ``__fp`` so a consumer
    running a different ``n`` is refused loudly."""
    return (
        shingle_table(eval_docs, id_col, text_col, n=n)
        .select(F.md5("__sh").alias("__fp"))
        .distinct()
        .select(F.col("__fp").alias("__fp", metadata={"n": n}))
    )


def eval_contamination(
    train: DataFrame,
    eval_docs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    eval_fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Train/eval n-gram DECONTAMINATION stats — the overlap pass every
    serious training pipeline runs before a model ships (GPT-3 appendix
    C's 13-gram filter; PaLM and Llama run the same shape): for every
    training document, how many of its DISTINCT word n-grams also occur
    anywhere in the evaluation set.

    ``eval_fingerprints``: the eval side precomputed ONCE with
    :func:`eval_fingerprint_table` and passed in — the shape a
    STREAMING caller needs, where the eval suite is static and
    recomputing its shingle/md5/distinct pass inside every micro-batch
    is pure waste. Exactly one of ``eval_docs`` / ``eval_fingerprints``
    must be given; the two paths produce identical decisions (pinned in
    tests/test_dedup_index.py). The fingerprint table must have been
    built with the SAME ``n`` — fingerprints of different gram lengths
    are incomparable, so the table carries its ``n`` in a metadata
    column and this function refuses a mismatch loudly.

    Returns ``(id, n_ngrams, n_matched, contamination)`` per training
    document: the distinct n-gram count, how many of them hit the eval
    set, and the matched fraction (0.0 for documents shorter than n
    tokens — nothing to match; the caller owns any length-based refusal
    policy). Thresholding/dropping is the caller's decision — the stats
    are the auditable artifact.

    Scale shape: eval suites are thousands of documents while the corpus
    is billions, so the EVAL side reduces to distinct md5 fingerprints
    and BROADCASTS; the train side explodes to (id, fingerprint) rows
    once (``shingle_table`` — fan_out-parallelized), takes the broadcast
    hit flag per raw row, and dedups + counts inside ONE per-document
    ``collect_set`` aggregation (partial-aggregated map-side, one
    exchange). Train text never rides a shuffle; the only shuffled bytes
    are per-document partial fingerprint sets.

    Bound: one document's whole distinct fingerprint set (32-byte hex
    digests) sits in one aggregation buffer, so a single pathologically
    large document concentrates that set in one task."""
    if (eval_docs is None) == (eval_fingerprints is None):
        raise ValueError(
            "eval_contamination: pass exactly one of eval_docs / "
            "eval_fingerprints"
        )
    if eval_fingerprints is not None:
        if "__fp" not in eval_fingerprints.columns:
            raise ValueError(
                "eval_fingerprints must come from eval_fingerprint_table "
                "(no __fp column)"
            )
        meta = eval_fingerprints.schema["__fp"].metadata or {}
        if "n" not in meta:
            raise ValueError(
                "eval_fingerprints must come from eval_fingerprint_table "
                "(missing gram-length metadata on __fp)"
            )
        if int(meta["n"]) != n:
            raise ValueError(
                f"eval_fingerprints were built with n={meta['n']} but this "
                f"call uses n={n} — fingerprints of different gram lengths "
                "are incomparable"
            )
        eval_fps = eval_fingerprints.select("__fp").withColumn(
            "__hit", F.lit(1)
        )
    else:
        eval_fps = eval_fingerprint_table(
            eval_docs, id_col, text_col, n=n
        ).withColumn("__hit", F.lit(1))
    # ONE exchange on the train side: the collect_set aggregation dedups
    # inside the one groupBy(id); the broadcast hit-flag join sits BELOW
    # the dedup, which is sound because fp -> hit is functional
    # (duplicate grams get identical flags and the sets dedup them).
    raw_fps = shingle_table(train, id_col, text_col, n=n).select(
        F.col(id_col), F.md5("__sh").alias("__fp")
    )
    stats = (
        raw_fps.join(F.broadcast(eval_fps), on="__fp", how="left")
        .groupBy(id_col)
        .agg(
            F.size(F.collect_set("__fp")).cast("bigint").alias("n_ngrams"),
            F.size(
                F.collect_set(F.when(F.col("__hit") == 1, F.col("__fp")))
            )
            .cast("bigint")
            .alias("n_matched"),
        )
    )
    return (
        train.select(F.col(id_col))
        .join(stats, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0)).cast("bigint").alias("n_ngrams"),
            F.coalesce("n_matched", F.lit(0)).cast("bigint").alias("n_matched"),
            F.coalesce(
                F.round(F.col("n_matched") / F.col("n_ngrams"), 6), F.lit(0.0)
            ).alias("contamination"),
        )
    )


def source_ngram_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Pairwise n-gram overlap between corpus SOURCES — the "did these
    two crawls/dumps duplicate each other" audit run before mixing
    sources into a training blend (the corpus-level companion of the
    per-document dedup family). For every source pair with any overlap:
    ``(src_a, src_b, n_inter, n_a, n_b, jaccard)`` over the sources'
    DISTINCT word n-gram fingerprint sets (src_a < src_b; pairs with
    zero shared n-grams are absent — absence IS the zero).

    Scale shape: documents reduce to (source, md5 fingerprint) rows and
    a within-source DISTINCT — text never rides a shuffle; the pair join
    is an equi-join on the fingerprint whose fan-out per fingerprint is
    bounded by the SOURCE count squared (sources are a curated dimension
    of dozens-to-hundreds, not a data-scale axis), and set sizes
    broadcast.

    The distinct fingerprint table is PERSISTED: it has three consumers
    (set sizes + both join sides) and exchange reuse does not collapse
    them, so without it the explode+md5 map stage (the expensive pass
    over every token) is materialized twice. One compute, evicted when the caller drops
    the result (the bigram_lm ``c2`` pattern); storage is the narrow
    (source, 16-byte digest) distinct set, MEMORY_AND_DISK so a
    100 TB-corpus audit spills instead of evicting mid-plan."""
    from cses2humio_spark.session import evict_on_gc

    fps = (
        shingle_table(df, group_col, text_col, n=n)
        .select(F.col(group_col), F.md5("__sh").alias("__fp"))
        .distinct()
        .persist()
    )
    sizes = fps.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    a = fps.select(F.col(group_col).alias("src_a"), "__fp")
    b = fps.select(F.col(group_col).alias("src_b"), "__fp")
    inter = (
        a.join(b, on="__fp")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col(group_col).alias("src_a"), F.col("__n").alias("n_a")
                )
            ),
            on="src_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col(group_col).alias("src_b"), F.col("__n").alias("n_b")
                )
            ),
            on="src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return evict_on_gc(out, fps)
