"""Sketch-based approximations have no cross-engine oracle; bound their
error against exact values instead."""

from __future__ import annotations

from pyspark.sql import functions as F

from cses2humio_spark.queries import QUERIES
from tests.conftest import SF_ORACLE


def test_approx_distinct_within_rsd(spark):
    approx = {
        r.event_type: r.approx_users
        for r in QUERIES["approx_distinct_users"](spark, SF_ORACLE).collect()
    }
    from cses2humio_spark.sources.catalog import load_table

    exact = {
        r.event_type: r.n
        for r in load_table(spark, SF_ORACLE, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, n in exact.items():
        rel = abs(approx[et] - n) / n
        assert rel < 0.1, f"{et}: approx {approx[et]} vs exact {n} (rel {rel:.3f})"


def test_pandas_udf_scalar_and_iterator_match_jvm_norm(spark):
    """UDF-surface parity (SURVEY §2.2): the scalar and iterator pandas
    UDFs agree with the JVM-side higher-order-function norm to 1e-6."""
    from pyspark.sql import functions as F

    from cses2humio_spark.functions.udfs import iter_norm_udf, scalar_norm_udf
    from cses2humio_spark.functions.vectors import l2_norm
    from cses2humio_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings").limit(100)
    rows = emb.select(
        l2_norm(F.col("embedding")).alias("jvm"),
        scalar_norm_udf()(F.col("embedding")).alias("scalar"),
        iter_norm_udf()(F.col("embedding")).alias("it"),
    ).collect()
    assert len(rows) == 100
    for r in rows:
        assert abs(r.jvm - r.scalar) < 1e-6
        assert abs(r.jvm - r.it) < 1e-6


def test_ann_recall_floors(spark):
    """The approximate ANN paths must stay useful approximations of the
    exact brute force: IVF (nprobe=2 of 16 lists) holds high recall; LSH
    recall is bounded by this synthetic corpus's near-orthogonal neighbor
    geometry, so the test pins (a) an absolute floor and (b) that
    Hamming-1 multiprobe strictly improves over exact-signature probing
    at equal plane count — the documented recall/cost dial."""
    from pyspark.sql import functions as F

    from cses2humio_spark.operators.similarity import (
        cosine_topk_bruteforce,
        lsh_topk,
    )
    from cses2humio_spark.queries import QUERIES
    from cses2humio_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    pairs = lambda df: {(r.probe_id, r.vec_id) for r in df.collect()}

    exact = pairs(QUERIES["cosine_topk"](spark, sf))
    emb = load_table(spark, sf, "embeddings")
    probes10 = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )

    lsh_exact_sig = pairs(lsh_topk(emb, probes10, k=5, dim=64, n_planes=8))
    lsh_mp = pairs(QUERIES["cosine_topk_lsh"](spark, sf))
    r_exact_sig = len(exact & lsh_exact_sig) / len(exact)
    r_mp = len(exact & lsh_mp) / len(exact)
    assert r_mp > r_exact_sig, (r_mp, r_exact_sig)
    assert r_mp >= 0.25, r_mp

    probes8 = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    truth8 = pairs(cosine_topk_bruteforce(emb, probes8, k=5))
    ivf = pairs(QUERIES["ivf_topk"](spark, sf))
    r_ivf = len(truth8 & ivf) / len(truth8)
    assert r_ivf >= 0.8, r_ivf


def test_minhash_neardup_recall(spark):
    """End-to-end near-dup recall: every pair with exact 3-shingle Jaccard
    >= 0.5 (ground truth computed all-pairs in DuckDB) must be recovered
    by the banded-MinHash candidate + exact-verify pipeline. The (b=4,
    r=2) banding plus the provable-overlap fast path recovers all true
    pairs on this corpus; the floor is set at 0.9 to allow the banding's
    probabilistic margin if the corpus shifts."""
    import duckdb

    from cses2humio_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    rows = con.sql(r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM toks WHERE len(t) >= 3
    ), e AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS ni
      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT ia, ib FROM inter
    JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
    WHERE ni / (sa.n + sb.n - ni) >= 0.5
    """).fetchall()
    truth = {(int(a), int(b)) for a, b in rows}
    assert truth, "ground-truth near-dup set unexpectedly empty"

    got = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in QUERIES["jaccard_near_dups"](spark, sf).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, (recall, len(truth), len(got))


def test_embedding_neardup_recall(spark):
    """Banded hyperplane LSH (15 bands x 4 bits) must recover the large
    majority of true cos >= 0.3 pairs — the single-signature formulation
    recalled ~2% on this corpus; banding measures ~0.89. Truth is the
    exact all-pairs cross join at sf0.01 (500 vectors, cheap)."""
    from pyspark.sql import functions as F

    from cses2humio_spark.functions.vectors import cosine_similarity
    from cses2humio_spark.queries import QUERIES
    from cses2humio_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_similarity(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.3)
    )
    truth = {(r.id_a, r.id_b) for r in exact.collect()}
    assert truth
    got = {
        (r.id_a, r.id_b)
        for r in QUERIES["embedding_near_dups"](spark, sf).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, (recall, len(truth), len(got))


def test_lsh_signature_paths_identical(spark):
    """The vectorized (Arrow/numpy) LSH signature must agree bit-for-bit
    with a reference built inline from the JVM ``dot`` fold over the
    ``_hyperplane`` literals, on every row — both accumulate the dot
    dimension-by-dimension in float64, so this is exact equality, not
    tolerance. Guards the oracle contract: DuckDB's list_reduce fold is
    the same order."""
    from pyspark.sql import functions as F

    from cses2humio_spark.functions.vectors import dot
    from cses2humio_spark.operators.similarity import (
        _hyperplane,
        lsh_signatures,
    )
    from cses2humio_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    for planes in (8, 60):
        ref = F.lit(0).cast("bigint")
        for i in range(planes):
            plane = F.array(*[F.lit(v) for v in _hyperplane(64, i)])
            bit = dot(F.col("embedding"), plane) > 0
            ref = ref + F.when(bit, F.lit(1 << i)).otherwise(F.lit(0))
        j = (
            lsh_signatures(emb, 64, planes)
            .select("vec_id", F.col("lsh_sig").alias("s1"))
            .join(emb.select("vec_id", ref.alias("s2")), "vec_id")
        )
        assert j.count() == emb.count()
        assert j.filter(F.col("s1") != F.col("s2")).count() == 0, planes


def test_cosine_topk_paths_identical(spark):
    """The Arrow brute-force top-k (per-batch partial top-k with the
    1e-6 rounding margin) must return EXACTLY the rows of a reference
    built inline from the JVM ``cosine_similarity`` fold — a cross join
    plus the rank window: same ids, same rounded scores, same ranks,
    since both feed the same rounded-then-id-tiebroken ranking."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from cses2humio_spark.functions.vectors import cosine_similarity
    from cses2humio_spark.operators.similarity import cosine_topk_bruteforce
    from cses2humio_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    probes = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    a = sorted(map(tuple, cosine_topk_bruteforce(emb, probes, k=7).collect()))
    pairs = emb.crossJoin(
        probes.select("probe_id", F.col("embedding").alias("__pvec"))
    ).select(
        "probe_id",
        "vec_id",
        F.round(
            cosine_similarity(F.col("embedding"), F.col("__pvec")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    ref = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 7)
        .select("probe_id", "vec_id", "cos_sim", "rank")
    )
    b = sorted(map(tuple, ref.collect()))
    assert a == b and len(a) == 25 * 7


def test_cosine_pairs_matches_fold_bitwise(spark):
    """The Arrow pair-cosine must equal the JVM fold bit-for-bit on real
    vectors (same per-dimension accumulation order), and yield NULL where
    either input is NULL, exactly like the fold."""
    from pyspark.sql import functions as F

    from cses2humio_spark.functions.vectors import (
        cosine_pairs,
        cosine_similarity,
    )
    from cses2humio_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(
        (F.col("vec_id") + 1).alias("id_a"),
        F.when(F.col("vec_id") % 97 == 0, F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("vb"),
    )
    j = a.join(b, on="id_a").select(
        cosine_pairs(F.col("va"), F.col("vb")).alias("arrow"),
        cosine_similarity(F.col("va"), F.col("vb")).alias("fold"),
    )
    assert j.count() > 0
    mismatch = j.filter(
        ~(
            (F.col("arrow").isNull() & F.col("fold").isNull())
            | (F.col("arrow") == F.col("fold"))
        )
    ).count()
    assert mismatch == 0


def test_first_matching_band_matches_python_reference(spark):
    """SWAR lowest-zero-field extraction vs a plain Python loop, over
    random signature pairs that are guaranteed to share >= 1 band, for
    several field widths (incl. the degenerate w=1)."""
    import random

    from pyspark.sql import functions as F

    from cses2humio_spark.operators.similarity import first_matching_band

    rng = random.Random(7)
    for w, nb in [(4, 15), (6, 10), (2, 31), (1, 30), (5, 12)]:
        rows = []
        for _ in range(500):
            sa = rng.getrandbits(w * nb)
            sb = rng.getrandbits(w * nb)
            shared = rng.randrange(nb)
            # force band `shared` to agree so a first match always exists
            field = ((1 << w) - 1) << (shared * w)
            sb = (sb & ~field) | (sa & field)
            expect = next(
                b
                for b in range(nb)
                if (sa >> (b * w)) & ((1 << w) - 1)
                == (sb >> (b * w)) & ((1 << w) - 1)
            )
            rows.append((sa, sb, expect))
        df = spark.createDataFrame(rows, "sa long, sb long, expect int")
        got = df.select(
            first_matching_band(F.col("sa"), F.col("sb"), w, nb).alias("got"),
            "expect",
        )
        bad = got.filter(F.col("got") != F.col("expect")).count()
        assert bad == 0, (w, nb)


def test_simhash_band_join_is_lossless_for_hamming_leq_3(spark):
    """The 4-band candidate join must find EVERY pair within Hamming 3 of
    each other (pigeonhole), and nothing farther — cross-checked against
    brute-force bit_count over all fingerprint pairs."""
    from pyspark.sql import functions as F

    from cses2humio_spark.operators.dedup import simhash, simhash_near_dup_pairs
    from cses2humio_spark.sources.catalog import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    got = {
        (r.id_a, r.id_b)
        for r in simhash_near_dup_pairs(
            docs, "doc_id", "text", bits=16, n_bands=4, max_hamming=3
        ).collect()
    }
    fp = simhash(docs, "doc_id", "text", bits=16)
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 3)
        .collect()
    }
    assert got == truth and len(truth) > 0


def test_simhash_near_dup_pairs_guards():
    import pytest as _pytest

    from cses2humio_spark.operators.dedup import simhash_near_dup_pairs

    with _pytest.raises(ValueError, match="divide"):
        simhash_near_dup_pairs(None, bits=16, n_bands=5)
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(None, bits=16, n_bands=4, max_hamming=4)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """All points identical -> after iteration 1 every point lands in
    cluster 0; clusters 1 and 2 must carry their init centroids through
    unchanged instead of dropping to NaN/empty."""
    from cses2humio_spark.operators.clustering import kmeans_fit

    rows = [(i, [float(i <= 2), 0.0]) for i in range(1, 6)]
    # ids 1..5; seeds are ids 1,2,3 -> centroids [1,0],[1,0],[0,0]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    cents = kmeans_fit(df, "id", "v", k=3, n_iter=2)
    # cluster 0 ([1,0]) wins ids 1,2 (tie vs cluster 1 breaks low),
    # cluster 2 ([0,0]) wins ids 3,4,5 is wrong: id 3 has v=[0,0]? ids
    # 1,2 -> [1,0]; 3,4,5 -> [0,0]. cluster 1 gets nothing both rounds.
    assert cents[1] == [1.0, 0.0]
    assert cents[0] == [1.0, 0.0]
    assert cents[2] == [0.0, 0.0]


def test_kmeans_fit_validates_inputs(spark):
    import pytest as _pytest

    from cses2humio_spark.operators.clustering import kmeans_fit

    df = spark.createDataFrame([(1, [0.0])], "id long, v array<double>")
    with _pytest.raises(ValueError, match="k >= 1"):
        kmeans_fit(df, "id", "v", k=0, n_iter=1)
    with _pytest.raises(ValueError, match="only 1 vectors"):
        kmeans_fit(df, "id", "v", k=2, n_iter=1)


def test_sketch_wau_tracks_exact_rolling_wau(spark):
    """The merged-HLL rolling WAU must track the exact offset-explode twin
    within HLL(lgK=14) error (<1% at these cardinalities; exact here)."""
    from cses2humio_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    exact = {
        r["day"]: r["wau"]
        for r in QUERIES["rolling_weekly_active_users"](spark, sf).collect()
    }
    approx = {
        r["day"]: r["approx_wau"]
        for r in QUERIES["weekly_active_users_sketch"](spark, sf).collect()
    }
    assert set(exact) == set(approx)
    for d in exact:
        assert abs(approx[d] - exact[d]) / max(exact[d], 1) < 0.01


def test_cosine_topk_probe_guard(spark):
    """An oversized probe set must be refused LOUDLY (ValueError), never
    collected to the driver — the brute-force path broadcasts every probe
    vector into every task, so probes=corpus at scale is a driver OOM."""
    import pytest as _pytest

    from cses2humio_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    probes = emb.selectExpr("vec_id AS probe_id", "embedding")
    with _pytest.raises(ValueError, match="max_probes"):
        cosine_topk_bruteforce(emb, probes, k=3, max_probes=5)
    # under the cap: unchanged behavior
    small = probes.filter("probe_id < 3")
    out = cosine_topk_bruteforce(emb, small, k=2, max_probes=5).collect()
    assert len(out) == 6  # 3 probes x k=2


def test_minhash_mass_duplicate_bucket_cap(spark, caplog):
    """A mass-duplicate cluster (one text x N copies) must emit O(N) star
    pairs, not the C(N,2) clique, with a LOGGED cap notice — and the star
    must still connect the whole cluster to one component."""
    import logging

    from cses2humio_spark.operators.dedup import (
        alternating_star_components,
        minhash_candidate_pairs,
    )

    n = 300
    text = "the same boilerplate page body repeated verbatim every time"
    docs = spark.createDataFrame(
        [(i, text) for i in range(n)] + [(n, "a completely different text here")],
        "doc_id long, text string",
    )
    with caplog.at_level(logging.WARNING, logger="cses2humio_spark.operators.dedup"):
        pairs = minhash_candidate_pairs(
            docs, "doc_id", "text", max_bucket_size=50
        )
        rows = pairs.collect()
        # the drop notice is an Observation metric logged from a daemon
        # thread once the action's metrics land — wait for it briefly
        import time

        for _ in range(100):
            if any("max_bucket_size" in r.message for r in caplog.records):
                break
            time.sleep(0.05)
    # star: hub (min id 0) -> each of the other n-1 members, once
    assert len(rows) == n - 1, len(rows)
    assert {(r.id_a, r.id_b) for r in rows} == {(0, i) for i in range(1, n)}
    assert any("max_bucket_size" in r.message for r in caplog.records)
    drop_msg = next(
        r.message for r in caplog.records if "max_bucket_size" in r.message
    )
    # one oversized bucket per band (identical docs collide in all 4
    # bands); each drops clique C(300,2) minus star 299 = 44551
    # bucket-local edges -> 4 x 44551, observed during the consumer's
    # own action
    assert "178204" in drop_msg and "largest: 300" in drop_msg, drop_msg
    # clustering still reaches every member through the hub
    clusters = alternating_star_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    ).collect()
    reps = {r.doc_id: r.cluster_rep for r in clusters}
    assert all(reps[i] == 0 for i in range(n))
    assert reps[n] == n  # the distinct doc stays a singleton


def test_minhash_cap_guard_runs_zero_extra_jobs(spark):
    """Scale contract (VERDICT r4 #3): the mass-dup guard must be
    action-free — BUILDING the capped plan launches no Spark job, and
    collecting it costs the same job count as the uncapped plan (the
    bucket-stats branch rides the consumer's action via ReuseExchange +
    an Observation, never an eager probe)."""
    from cses2humio_spark.operators.dedup import minhash_candidate_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon word{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("massdup-build", "plan build must be lazy")
    try:
        pairs = minhash_candidate_pairs(
            docs, "doc_id", "text", max_bucket_size=50
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    build_jobs = sc.statusTracker().getJobIdsForGroup("massdup-build")
    assert len(build_jobs) == 0, (
        f"building the capped plan launched {len(build_jobs)} job(s) — "
        "the guard must not run an eager probe action"
    )

    # the logged-drop contract rides the consumer's action as a
    # CollectMetrics (Observation) node inside the ONE query — not a
    # separate probe query
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "CollectMetrics" in plan, plan


def test_minhash_cap_inactive_on_normal_corpus(spark):
    """With no oversized bucket the capped path must be pair-identical to
    the uncapped clique (the cap only rewrites pathological buckets)."""
    from cses2humio_spark.operators.dedup import minhash_candidate_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six seven"),
            (4, "one two three four five six eight"),
            (5, "totally unrelated content goes here now"),
        ],
        "doc_id long, text string",
    )
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(
            docs, "doc_id", "text", max_bucket_size=50
        ).collect()
    }
    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(
            docs, "doc_id", "text", max_bucket_size=None
        ).collect()
    }
    assert capped == uncapped


def _py_shingle_sets(text, n):
    toks = text.strip().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _py_minhash(shs, bands, rows_per_band):
    import hashlib

    return {
        b: "".join(
            min(
                hashlib.md5(f"b{b}h{j}:{s}".encode()).hexdigest()
                for s in shs
            )
            for j in range(rows_per_band)
        )
        for b in range(bands)
    }


def test_minhash_signatures_and_jaccard_match_python_reference(spark):
    """Operator-level parity of the near-dup chain against a pure-Python
    reference (md5 of ``b{band}h{row}:`` + shingle, min, concat per
    band; Jaccard |A∩B|/|A∪B| rounded half-up to 6 places; sets are
    whitespace-token n-grams). Signing from text and signing a
    ``shingle_set_table`` must both equal the reference, on unicode text,
    repeated shingles, messy whitespace and docs shorter than n."""
    from decimal import ROUND_HALF_UP, Decimal
    from itertools import combinations

    from cses2humio_spark.operators.dedup import (
        jaccard_pairs,
        minhash_signatures,
        shingle_set_table,
    )

    rows = [
        (1, "Café crème brûlée est délicieux ce matin"),
        (2, "Café crème brûlée est délicieux ce soir"),
        (3, "東京 タワー は 高い です ね"),
        (4, "東京 タワー は 高い です よ 🎉"),
        (5, "🎉 🎉 🎉 party 🎉 🎉 🎉"),
        (6, "the same shingle the same shingle the same shingle"),
        (7, "   leading  and\ttrailing   whitespace \n  everywhere  "),
        (8, "leading and trailing whitespace everywhere"),
        (9, "two words"),
        (10, "one"),
        (11, "   "),
    ]
    n, bands, rpb = 3, 4, 2
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sets = {i: _py_shingle_sets(t, n) for i, t in rows}
    assert sets[5] == {"🎉 🎉 🎉", "🎉 🎉 party", "🎉 party 🎉", "party 🎉 🎉"}
    assert sets[7] == sets[8]
    short = {i for i, s in sets.items() if not s}
    assert short == {9, 10, 11}

    want_sigs = {
        (i, b, sig)
        for i, shs in sets.items()
        if shs
        for b, sig in _py_minhash(shs, bands, rpb).items()
    }
    set_table = shingle_set_table(docs, "doc_id", "text", n=n)
    from_text = {
        tuple(r)
        for r in minhash_signatures(
            docs, "doc_id", "text", n=n, bands=bands, rows_per_band=rpb
        ).collect()
    }
    from_sets = {
        tuple(r)
        for r in minhash_signatures(
            docs, "doc_id", "text", n=n, bands=bands, rows_per_band=rpb,
            shingle_sets_df=set_table,
        ).collect()
    }
    assert from_text == want_sigs
    assert from_sets == want_sigs

    def _j(a, b):
        x = len(a & b) / len(a | b)
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )

    ids = [i for i, _ in rows]
    pairs = spark.createDataFrame(
        list(combinations(ids, 2)), "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
        for r in jaccard_pairs(pairs, set_table, "doc_id").collect()
    }
    want = {
        (a, b): (
            len(sets[a] & sets[b]), len(sets[a]), len(sets[b]),
            _j(sets[a], sets[b]),
        )
        for a, b in combinations(ids, 2)
        if sets[a] & sets[b]
    }
    assert got == want
    assert got[(7, 8)][3] == 1.0
    assert not {i for pair in got for i in pair} & short


def test_rowwise_signatures_plan_has_no_shuffle(spark, tmp_path):
    """Signing text is a projection — no aggregation, no KEY shuffle. The
    projection goes through fan_out, so a single-split local input
    legitimately shows ONE round-robin rebalance (load balancing for the
    md5-heavy map phase; a no-op at scale) — what stays forbidden is
    hash/range partitioning and any aggregate. Each row's text is split
    into tokens ONCE: every one of the bands x rows_per_band hashes reads
    the same projected shingle array."""
    from cses2humio_spark.operators.dedup import minhash_signatures
    from cses2humio_spark.operators.dedup_index import MinHashIndex
    from cses2humio_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        minhash_signatures(docs, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Aggregate" not in plan
    idx = MinHashIndex(str(tmp_path / "mh"))
    optimized = (
        idx._signatures(docs)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert optimized.count("split(") == 1, optimized


def test_pq_adc_recall_floor_vs_exact_l2(spark):
    """PQ-ADC is approximate by design; on the embeddings table its
    top-5 must still overlap the EXACT squared-L2 top-5 well (recall
    floor 0.5 averaged over probes — 4x16 codebooks on 64 dims), and
    the approx distance of the true nearest neighbor (the probe itself,
    distance 0) must rank it first."""
    import numpy as np

    from cses2humio_spark.operators.similarity import pq_adc_topk
    from cses2humio_spark.sources.catalog import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    got = pq_adc_topk(emb, probes, m=4, k_codes=16, dim=64, k=5).collect()
    by_probe = {}
    for r in got:
        by_probe.setdefault(r["probe_id"], []).append((r["rank"], r["vec_id"]))
    assert set(by_probe) == set(range(8))
    # exact ground truth
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    recalls = []
    for p in range(8):
        pv = vecs[p]
        exact = sorted(
            vecs, key=lambda v: (float(((vecs[v] - pv) ** 2).sum()), v)
        )[:5]
        approx = [v for _, v in sorted(by_probe[p])]
        # a probe is its own nearest neighbor at distance exactly 0
        assert approx[0] == p, (p, approx)
        recalls.append(len(set(exact) & set(approx)) / 5.0)
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_pq_plan_is_equi_join_only(spark):
    """The codebook and probe tables ride broadcast EQUI-joins — a PQ
    regression to a cross product would explode at corpus scale."""
    from cses2humio_spark.operators.similarity import pq_adc_topk
    from cses2humio_spark.plans.explain import assert_no_cartesian
    from cses2humio_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    probes = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    df = pq_adc_topk(emb, probes, m=4, k_codes=8, dim=64, k=3)
    assert_no_cartesian(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_recall_floor_vs_exact_l2(spark):
    """IVF-PQ composes two approximations (cell pruning + residual
    codes). This synthetic corpus's near-orthogonal neighbor geometry is
    PQ's worst case (the same caveat test_ann_recall_floors documents
    for LSH: id-prefix codebooks measure ~0.22 recall at nprobe=2 and
    plateau ~0.35 by nprobe=4 — quantization, not pruning, binds), so
    the pins are structural: (a) every probe ranks ITSELF first
    (residual distance exactly 0 in its own cell — a correctness
    property), and (b) a larger codebook strictly improves recall vs
    the exact squared-L2 top-5 (nprobe is NOT the binding dial here —
    2 vs 4 measured identical — so the test pins the dial that is)."""
    import numpy as np

    from cses2humio_spark.operators.similarity import ivfpq_topk
    from cses2humio_spark.sources.catalog import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def run(k_codes):
        got = ivfpq_topk(
            emb, probes, cent, m=4, k_codes=k_codes, dim=64, k=5, nprobe=2
        ).collect()
        by_probe = {}
        for r in got:
            by_probe.setdefault(r["probe_id"], []).append(
                (r["rank"], r["vec_id"])
            )
        recalls = []
        for p in range(8):
            pv = vecs[p]
            exact = sorted(
                vecs, key=lambda v: (float(((vecs[v] - pv) ** 2).sum()), v)
            )[:5]
            approx = [v for _, v in sorted(by_probe[p])]
            assert approx[0] == p, (p, approx)  # self at distance 0
            recalls.append(len(set(exact) & set(approx)) / 5.0)
        return sum(recalls) / len(recalls)

    small, big = run(16), run(32)
    assert big > small, (small, big)  # the recall/cost dial works
    assert small >= 0.2, small  # self-retrieval floor


def test_sq8_topk_recall_vs_exact_float(spark):
    """SQ8 cosine top-k must track the exact float ranking closely:
    int8 rounding perturbs cosines by ~1e-3, so recall@5 over the 8
    probes stays >= 0.9 on the synthetic corpus (the 4x-smaller scan is
    the point; this pins that the compression costs almost no recall)."""
    from cses2humio_spark.queries import QUERIES
    from tests.conftest import SF_SMALL

    sq8 = QUERIES["sq8_cosine_topk"](spark, SF_SMALL).collect()
    exact = QUERIES["cosine_topk"](spark, SF_SMALL).collect()
    got: dict[int, set[int]] = {}
    want: dict[int, set[int]] = {}
    for r in sq8:
        got.setdefault(r["probe_id"], set()).add(r["vec_id"])
    for r in exact:
        if r["probe_id"] < 8:  # sq8 query probes ids < 8; exact uses < 10
            want.setdefault(r["probe_id"], set()).add(r["vec_id"])
    assert set(got) == set(want)
    recall = sum(
        len(got[p] & want[p]) / len(want[p]) for p in want
    ) / len(want)
    assert recall >= 0.9, recall


def test_star_components_equal_propagation_and_survive_long_chains(spark):
    """alternating_star_components labels every id with its component's
    minimum id (the min-label-propagation fixpoint), on both routes of its
    size-adaptive selection: the driver union-find and the distributed
    star contraction (driver_max_edges=0) must agree EXACTLY, also on a
    200-node chain (diameter 199), where the star contraction converges
    in O(log^2 n) rounds and labels every node with the chain's minimum."""
    from cses2humio_spark.operators.dedup import alternating_star_components

    # mixed shapes: a triangle {0,1,2}, a pair {10,11}, a 4-star around
    # 20, singletons 30/31, and ids listed but absent from any pair
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (20, 21), (20, 22), (20, 23)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 10, 11, 20, 21, 22, 23, 30, 31]],
        "doc_id long",
    )
    # the small-graph route resolves components with a driver union-find
    # (driver_max_edges default); driver_max_edges=0 forces the
    # distributed star alternation — the two must be bit-identical
    star = {
        (r.doc_id, r.cluster_rep)
        for r in alternating_star_components(
            ids, pairs, driver_max_edges=0
        ).collect()
    }
    uf = {
        (r.doc_id, r.cluster_rep)
        for r in alternating_star_components(ids, pairs).collect()
    }
    assert star == uf
    assert star == {
        (0, 0), (1, 0), (2, 0), (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20), (30, 30), (31, 31),
    }

    # chain stress: 0-1-2-...-199 (diameter 199 — label propagation
    # would need 199 rounds)
    n = 200
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    chain_ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    labels = alternating_star_components(
        chain_ids, chain, driver_max_edges=0
    ).collect()
    assert len(labels) == n
    assert all(r.cluster_rep == 0 for r in labels)
    uf_labels = alternating_star_components(chain_ids, chain).collect()
    assert {(r.doc_id, r.cluster_rep) for r in uf_labels} == {
        (r.doc_id, r.cluster_rep) for r in labels
    }

    # empty edge set: everyone is their own representative
    empty = spark.createDataFrame([], "id_a long, id_b long")
    singletons = alternating_star_components(chain_ids, empty).collect()
    assert all(r.cluster_rep == r.doc_id for r in singletons)

    # string ids: the driver union-find orders roots with Python's str
    # comparison, which must agree with Spark's min (UTF-8 byte order ==
    # code-point order) — pinned against the distributed path
    spairs = spark.createDataFrame(
        [("b", "Z"), ("Z", "é"), ("x", "y")], "id_a string, id_b string"
    )
    sids = spark.createDataFrame(
        [(s,) for s in ["b", "Z", "é", "x", "y", "lone"]], "doc_id string"
    )
    s_star = {
        (r.doc_id, r.cluster_rep)
        for r in alternating_star_components(
            sids, spairs, driver_max_edges=0
        ).collect()
    }
    s_uf = {
        (r.doc_id, r.cluster_rep)
        for r in alternating_star_components(sids, spairs).collect()
    }
    assert s_star == s_uf
    assert s_uf == {
        ("b", "Z"), ("Z", "Z"), ("é", "Z"),
        ("x", "x"), ("y", "x"), ("lone", "lone"),
    }


def test_semdedup_decisions_semantics_and_plan(spark):
    """SemDeDup decision semantics pinned from first principles on the
    sf0.001 fixture: a vector is dropped iff SOME lower-id vector in
    its own cluster has cosine >= tau, and dup_of is the SMALLEST such
    id — recomputed here with brute-force in-cluster pairs. Plan pins:
    the centroid assignment broadcasts (no shuffled centroid join), and
    the in-cluster self-join is an equi-join on cid, never a cartesian."""
    from pyspark.sql import functions as F

    from cses2humio_spark.operators.similarity import (
        cosine_similarity,
        ivf_assign,
        semdedup_within_cluster,
    )
    from cses2humio_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["semdedup_decisions"](spark, sf)
    got = {r.vec_id: (r.cid, r.kept, r.dup_of) for r in out.collect()}

    from cses2humio_spark.sources.catalog import load_table

    emb = load_table(spark, sf, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    asn = ivf_assign(emb, cent)
    v = emb.select("vec_id", "embedding").join(asn, on="vec_id")
    a = v.select(
        F.col("cid"), F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"),
    )
    b = v.select(
        F.col("cid"), F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"),
    )
    brute = (
        a.join(b, on="cid")
        .filter(F.col("ia") < F.col("ib"))
        .filter(cosine_similarity(F.col("va"), F.col("vb")) >= 0.4)
        .groupBy("ib").agg(F.min("ia").alias("dup_of"))
        .collect()
    )
    want_dropped = {r.ib: r.dup_of for r in brute}
    assert want_dropped, "fixture must exercise the dropped arm"
    for vid, (cid, kept, dup_of) in got.items():
        if vid in want_dropped:
            assert kept == 0 and dup_of == want_dropped[vid], (vid, dup_of)
        else:
            assert kept == 1 and dup_of is None, (vid, dup_of)
    # every vector gets exactly one decision row
    assert len(got) == emb.count()

    plan = out._jdf.queryExecution().executedPlan().toString()
    # never a SHUFFLED cartesian. (BroadcastNestedLoopJoin appears: it is
    # the 16-row centroid fan-out of the assignment — BNLJ_BY_DESIGN in
    # the fleet lint, same as ivf_topk; the plan string prints the shared
    # assignment subtree once per consumer, so its count is not pinned.)
    # The quadratic in-cluster stage itself must be an EQUI-join on cid.
    assert "CartesianProduct" not in plan, plan[:3000]
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan[:3000]


def test_semdedup_mixed_threshold_monotonicity(spark):
    """A higher tau can only KEEP more: dropped(tau=0.45) must be a
    subset of dropped(tau=0.4) on the same assignment."""
    from pyspark.sql import functions as F

    from cses2humio_spark.operators.similarity import semdedup_within_cluster
    from cses2humio_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    lo = {
        r.vec_id
        for r in semdedup_within_cluster(emb, cent, 0.4)
        .filter(F.col("kept") == 0).collect()
    }
    hi = {
        r.vec_id
        for r in semdedup_within_cluster(emb, cent, 0.45)
        .filter(F.col("kept") == 0).collect()
    }
    assert hi <= lo and len(hi) < len(lo)


def test_cosine_pairs_lookup_dim_aware_byte_bound(spark):
    """VERDICT r14 #6: ``max_vectors`` alone scales linearly with dim —
    the collected float64 matrix is rows x dim x 8 bytes, so the lookup
    now ALSO refuses on ``max_matrix_bytes``. Pins: (a) a table within
    the row bound but over the byte bound refuses loudly BEFORE building
    the matrix; (b) within both bounds the scores match the join +
    cosine_pairs formulation bit-for-bit, including the NULL-vector and
    zero-norm edges (Spark's x/0 is NULL; both formulations agree)."""
    import pytest

    from cses2humio_spark.functions.vectors import cosine_pairs_lookup
    from cses2humio_spark.operators.similarity import cosine_pairs

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0]),
            (2, [1.0, 2.0, 3.0]),
            (3, [0.0, 0.0, 0.0]),  # zero norm -> NaN
            (4, None),  # NULL vector -> NULL cosine
        ],
        "vid long, v array<double>",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 99)], "id_a long, id_b long"
    )
    # (a) dim-aware refusal: 4 rows x 3 dims x 8 B = 96 B > 64 B budget
    with pytest.raises(ValueError, match="max_matrix_bytes"):
        cosine_pairs_lookup(
            pairs, vecs, "vid", "v", max_matrix_bytes=64
        )
    # (b) parity with the join formulation inside the bounds
    looked = {
        (r.id_a, r.id_b): r["__cos"]
        for r in cosine_pairs_lookup(pairs, vecs, "vid", "v").collect()
    }
    va = vecs.select(F.col("vid").alias("id_a"), F.col("v").alias("__va"))
    vb = vecs.select(F.col("vid").alias("id_b"), F.col("v").alias("__vb"))
    joined = {
        (r.id_a, r.id_b): r.c
        for r in pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_pairs(F.col("__va"), F.col("__vb")).alias("c"),
        )
        .collect()
    }
    assert looked[(1, 2)] == joined[(1, 2)] == 1.0
    # zero-norm: x/0 is NULL in Spark — both formulations agree
    assert looked[(1, 3)] is None and joined[(1, 3)] is None
    # the join drops (1,99) (missing id) and folds (1,4)'s NULL vector
    # to NULL — the lookup surfaces both as NULL, failing thresholds
    # the same way
    assert looked[(1, 4)] is None and looked[(1, 99)] is None


def test_cosine_pairs_lookup_bounds_fire_before_any_vector_is_collected(
    spark, monkeypatch
):
    """Both bounds are checked by an aggregate before any vector row is
    collected: with the vector collect made to raise, the byte bound
    and the row bound still refuse with their own errors."""
    import pytest

    from cses2humio_spark.functions.vectors import cosine_pairs_lookup

    vecs = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.0]), (3, None)],
        "vid long, v array<double>",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    real_collect = type(vecs).collect

    def no_vector_collect(self):
        if "v" in self.columns:
            raise AssertionError("vector rows were collected before the bounds")
        return real_collect(self)

    monkeypatch.setattr(type(vecs), "collect", no_vector_collect)
    # 2 non-NULL rows x 3 dims x 8 B = 48 B
    with pytest.raises(ValueError, match="max_matrix_bytes=40"):
        cosine_pairs_lookup(pairs, vecs, "vid", "v", max_matrix_bytes=40)
    with pytest.raises(ValueError, match="max_vectors=2"):
        cosine_pairs_lookup(pairs, vecs, "vid", "v", max_vectors=2)
    with pytest.raises(AssertionError, match="before the bounds"):
        cosine_pairs_lookup(pairs, vecs, "vid", "v", max_matrix_bytes=48)


def test_bucket_cap_keeps_smallest_ids_and_refuses_non_positive(spark):
    """One bucket cap serves every banded candidate join: it keeps each
    bucket's ``max_bucket_size`` smallest ids, None is exact, and a cap
    below 1 is refused — including through ``embedding_candidate_pairs``
    (a zero cap used to return no pairs at all)."""
    import pytest

    from cses2humio_spark.operators.similarity import (
        cap_buckets,
        embedding_candidate_pairs,
    )

    rows = spark.createDataFrame(
        [(b, i) for b in range(2) for i in range(5)], "band int, vec_id long"
    )
    kept = cap_buckets(rows, ["band"], "vec_id", 2).collect()
    assert sorted((r.band, r.vec_id) for r in kept) == [
        (0, 0), (0, 1), (1, 0), (1, 1)
    ]
    assert cap_buckets(rows, ["band"], "vec_id", None) is rows
    sigs = spark.createDataFrame(
        [(i, 7) for i in range(4)], "vec_id long, lsh_sig long"
    )
    assert embedding_candidate_pairs(sigs, 4, 2).count() == 6
    assert embedding_candidate_pairs(sigs, 4, 2, max_bucket_size=2).count() == 1
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_bucket_size must be >= 1"):
            embedding_candidate_pairs(sigs, 4, 2, max_bucket_size=bad)


def test_vector_length_rule_null_cosine_and_dim_checked_signatures(spark):
    """One length rule for every vector body: a pair of vectors of
    different lengths has a NULL cosine — in ``cosine_pairs`` (also when
    every row of a batch is mismatched), in ``cosine_pairs_lookup`` and
    in the fold — and ``cosine_topk_bruteforce`` leaves such a corpus
    row out, as it does a NULL vector, even when its prefix equals the
    probe. ``lsh_signatures`` signs a NULL vector as 0 and refuses a
    vector whose length is not ``dim``."""
    import pytest

    from cses2humio_spark.functions.vectors import (
        cosine_pairs,
        cosine_pairs_lookup,
        cosine_similarity,
    )
    from cses2humio_spark.operators.similarity import (
        cosine_topk_bruteforce,
        lsh_signatures,
    )

    schema = "id long, a array<double>, b array<double>"
    mixed = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [2.0, 1.0]),
            (2, [1.0, 2.0], [1.0, 2.0, 3.0]),
            (3, [1.0, 2.0, 0.0], [1.0, 2.0]),
        ],
        schema,
    ).coalesce(1)
    only_ragged = spark.createDataFrame(
        [(4, [1.0] * 16, [1.0] * 8), (5, [2.0] * 16, [1.0] * 8)], schema
    ).coalesce(1)
    got = {
        r.id: (r.c, r.fold)
        for r in mixed.unionByName(only_ragged)
        .select(
            "id",
            cosine_pairs(F.col("a"), F.col("b")).alias("c"),
            cosine_similarity(F.col("a"), F.col("b")).alias("fold"),
        )
        .collect()
    }
    assert got[1][0] == got[1][1] == pytest.approx(0.8)
    assert all(got[i] == (None, None) for i in (2, 3, 4, 5)), got

    vecs = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0]), (3, [2.0, 4.0])],
        "vid long, v array<double>",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    looked = {
        (r.id_a, r.id_b): r["__cos"]
        for r in cosine_pairs_lookup(pairs, vecs, "vid", "v").collect()
    }
    assert looked[(1, 2)] is None and looked[(1, 3)] == pytest.approx(1.0)
    # an empty vector table resolves every id to the NULL row
    assert [
        r["__cos"]
        for r in cosine_pairs_lookup(pairs, vecs.limit(0), "vid", "v").collect()
    ] == [None, None]

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0]), (4, None)],
        "vec_id long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(0, [1.0, 0.0])], "probe_id long, embedding array<double>"
    )
    top = cosine_topk_bruteforce(corpus, probes, k=3).collect()
    assert [(r.vec_id, r.cos_sim, r.rank) for r in top] == [
        (1, 1.0, 1),
        (3, 0.0, 2),
    ]

    signed = {
        r.vec_id: r.lsh_sig
        for r in lsh_signatures(
            corpus.filter("vec_id != 2"), 2, 8
        ).collect()
    }
    assert signed[4] == 0 and len(signed) == 3
    with pytest.raises(Exception, match="vector of length 3 in a signature of dim=2"):
        lsh_signatures(corpus, 2, 8).collect()


def test_cosine_topk_input_checks_and_empty_probe_schema(spark):
    """``k < 1`` is refused before any Spark job runs; an empty probe set
    returns a typed empty frame with the column names and types of a
    non-empty call."""
    import pytest

    from cses2humio_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    probes = emb.selectExpr("CAST(vec_id AS INT) AS probe_id", "embedding")
    sc = spark.sparkContext
    sc.setJobGroup("topk_k0", "k < 1 must not launch a job")
    try:
        with pytest.raises(ValueError, match="k must be >= 1"):
            cosine_topk_bruteforce(emb, probes, k=0)
        assert list(sc.statusTracker().getJobIdsForGroup("topk_k0")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    def shape(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    full = cosine_topk_bruteforce(emb, probes, k=2)
    empty = cosine_topk_bruteforce(emb, probes.filter("probe_id < 0"), k=2)
    assert shape(empty) == shape(full)
    assert [f.name for f in full.schema.fields] == [
        "probe_id", "vec_id", "cos_sim", "rank"
    ]
    assert empty.count() == 0 and full.count() == 12


def test_vector_worker_closures_ship_by_value(spark, monkeypatch, tmp_path):
    """Python workers cannot import this package when the application
    starts from another directory, so every function the vector
    operators hand to mapInPandas, applyInPandas or pandas_udf must
    pickle BY VALUE — the vector kernel's bodies included. Record each
    one, pickle it the way PySpark ships it, and load it in a fresh
    interpreter where the package is unimportable. The kernel factory
    itself (a module-level def) is the negative control: cloudpickle
    ships it by reference, so a closure that called it would fail the
    load exactly as the control does."""
    import pickle
    import subprocess
    import sys

    import pyspark.sql.functions as PF
    from pyspark.broadcast import Broadcast
    from pyspark.serializers import CloudPickleSerializer
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.group import GroupedData

    from cses2humio_spark.functions import vectors
    from cses2humio_spark.operators import similarity as sim
    from cses2humio_spark.operators.dedup_index import EmbeddingLshIndex

    captured = []
    real_map = DataFrame.mapInPandas
    real_apply = GroupedData.applyInPandas
    real_udf = PF.pandas_udf

    def rec_map(self, func, *args, **kwargs):
        captured.append(func)
        return real_map(self, func, *args, **kwargs)

    def rec_apply(self, func, *args, **kwargs):
        captured.append(func)
        return real_apply(self, func, *args, **kwargs)

    def rec_udf(f=None, returnType=None, functionType=None):
        if callable(f):
            captured.append(f)
            return real_udf(f, returnType, functionType)

        def deco(fn):
            captured.append(fn)
            return real_udf(fn, f, functionType)

        return deco

    monkeypatch.setattr(DataFrame, "mapInPandas", rec_map)
    monkeypatch.setattr(GroupedData, "applyInPandas", rec_apply)
    monkeypatch.setattr(PF, "pandas_udf", rec_udf)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    probes = emb.filter("vec_id < 2").withColumnRenamed("vec_id", "probe_id")
    cents = emb.filter("vec_id < 2").withColumnRenamed("vec_id", "cid")
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    lsh_index = EmbeddingLshIndex(str(tmp_path / "e"), dim=3)
    operators = {
        "cosine_topk_bruteforce": lambda: sim.cosine_topk_bruteforce(
            emb, probes, k=2
        ),
        "lsh_signatures": lambda: sim.lsh_signatures(emb, 3, 4),
        "semdedup_within_cluster": lambda: sim.semdedup_within_cluster(
            emb, cents, 0.9
        ),
        "EmbeddingLshIndex eval gate": lambda: lsh_index._contaminated_ids(
            emb, eval_vectors=emb
        ),
        "cosine_pairs": lambda: emb.select(
            vectors.cosine_pairs(F.col("embedding"), F.col("embedding"))
        ),
        "cosine_pairs_lookup": lambda: vectors.cosine_pairs_lookup(
            pairs, emb, "vec_id", "embedding"
        ),
    }
    shipped = []
    for name, build in operators.items():
        before = len(captured)
        build()
        # GroupedData.applyInPandas re-enters itself: count distinct bodies
        new = list({id(f): f for f in captured[before:]}.values())
        assert len(new) == 1, name
        shipped.append((name, new[0]))

    # a broadcast handle pickles as a registry id the fresh interpreter
    # cannot resolve; it carries no code, so stand a marker in for it
    monkeypatch.setattr(Broadcast, "__reduce__", lambda self: (str, ("bc",)))
    ser = CloudPickleSerializer()
    blobs = [(name, ser.dumps(f)) for name, f in shipped]
    blobs.append(("control", ser.dumps(vectors.make_vector_kernel)))
    (tmp_path / "closures.pkl").write_bytes(pickle.dumps(blobs))
    loader = (
        "import pickle, sys\n"
        "sys.modules['cses2humio_spark'] = None\n"
        "for name, blob in pickle.load(open('closures.pkl', 'rb')):\n"
        "    try:\n"
        "        pickle.loads(blob)\n"
        "        print('OK', name)\n"
        "    except Exception as e:\n"
        "        print('FAIL', name, type(e).__name__, e)\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", loader], cwd=tmp_path,
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    lines = res.stdout.splitlines()
    assert lines[-1].startswith("FAIL control ModuleNotFoundError"), lines[-1]
    failed = [ln for ln in lines[:-1] if not ln.startswith("OK ")]
    assert not failed and len(lines) == len(blobs), failed
