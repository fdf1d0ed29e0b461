"""LLM-training-data pipeline queries (SURVEY.md §2.2 extensions):
dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard), similarity search
over embeddings, text analysis (token stats, quality, language-ID,
fingerprinting), TF-IDF.

Every operator here is deterministic and (unless noted) has an exact DuckDB
oracle — including the hash-based ones, because signatures are md5 (hex
string) and bit extraction is integer arithmetic, identical in both
engines. Cosine oracles mirror Spark's left-to-right double fold with
DuckDB list_reduce (verified bit-exact).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cses2humio_spark.functions.text import (
    STOPWORDS,
    bpe_ish_token_count,
    fingerprint,
    language_id,
    quality_score,
    token_count,
    tokens as ws_tokens,
)
from cses2humio_spark.functions.vectors import l2_norm
from cses2humio_spark.operators.dedup import (
    dedup_exact_content,
    jaccard_pairs,
    minhash_candidate_pairs,
    minhash_signatures,
    shingle_set_table,
    simhash,
)
from cses2humio_spark.operators.similarity import cosine_topk_bruteforce, lsh_topk
from cses2humio_spark.queries.registry import query
from cses2humio_spark.sources.catalog import load_table

# ---- shared SQL fragments (keep oracle text in lockstep with operators) --

_TOKS = "string_split_regex(trim(text), '\\s+')"
_SHINGLES_CTE = f"""
t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
       FROM t, UNNEST(generate_series(1, len(toks)-2)) AS u(i)
       WHERE len(toks) >= 3)
"""
_SIG_CTE = (
    _SHINGLES_CTE
    + """,
sig AS (SELECT doc_id, band,
               MIN(md5('b' || band || 'h0:' || sh))
               || MIN(md5('b' || band || 'h1:' || sh)) AS sig
        FROM sh, (SELECT UNNEST(generate_series(0,3)) AS band) b
        GROUP BY doc_id, band)
"""
)
_CAND_CTE = (
    _SIG_CTE
    + """,
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
                               AND a.doc_id < b.doc_id)
"""
)

_DOUBLE_VEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_FOLD_SUM = "list_reduce({expr}, (a, b) -> a + b)"


def _dot_sql(a: str, b: str) -> str:
    return _FOLD_SUM.format(expr=f"list_transform(generate_series(1, len({a})), i -> {a}[i]*{b}[i])")


def _norm_sql(v: str) -> str:
    return f"sqrt({_FOLD_SUM.format(expr=f'list_transform({v}, x -> x*x)')})"


def _cos_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)}))"


def _planes_values_sql(dim: int, n_planes: int) -> str:
    from cses2humio_spark.operators.similarity import _hyperplane

    return ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(v) for v in _hyperplane(dim, i)))
        for i in range(n_planes)
    )


_LSH_SIG_CTE = f"""
ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
planes AS (SELECT pid, pv FROM (VALUES {_planes_values_sql(64, 8)}) AS t(pid, pv)),
sigs AS (SELECT e.vec_id,
                CAST(SUM(CASE WHEN {_dot_sql('e.v', 'pv')} > 0
                              THEN (CAST(1 AS BIGINT) << pid) ELSE 0 END) AS BIGINT)
                  AS lsh_sig
         FROM ev e CROSS JOIN planes
         GROUP BY e.vec_id)
"""


# ---- text analysis ------------------------------------------------------

@query(
    "doc_token_stats",
    oracle=rf"""
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
      SUM(len({_TOKS})) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens,
      CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
        AS total_bpe_ish,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) aggregated per language."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(t)).cast("bigint").alias("total_tokens"),
        (F.sum(token_count(t)) / F.count(F.lit(1)).cast("double")).alias("avg_tokens"),
        F.sum(bpe_ish_token_count(t)).cast("bigint").alias("total_bpe_ish"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@query(
    "doc_quality_scores",
    oracle=rf"""
    SELECT doc_id,
      ROUND(
        0.4 * least(len({_TOKS}) / 200.0, 1.0)
        + 0.3 * (1.0 - length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g'))
                        / greatest(CAST(length(text) AS DOUBLE), 1.0))
        + 0.3 * (len(list_distinct({_TOKS}))
                 / greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0)),
      6) AS quality
    FROM documents
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (length / punctuation / diversity)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _lang_ratio_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter({_TOKS}, x -> list_contains([{words}], x)))"
        f" / CAST(greatest(len({_TOKS}), 1) AS DOUBLE)"
    )


def _lang_pred_sql() -> str:
    langs = sorted(STOPWORDS)
    ratios = {lg: f"r_{lg}" for lg in langs}
    all_r = ", ".join(ratios.values())
    # mirror functions/text.py:language_id — strict > scan in sorted order
    # means the EARLIEST lang holding the max wins; all-zero -> 'und'
    cases = []
    for i, lg in enumerate(langs):
        later = [ratios[o] for o in langs[i + 1 :]]
        cond = " AND ".join(f"{ratios[lg]} >= {o}" for o in later) or "TRUE"
        cases.append(f"WHEN {cond} THEN '{lg}'")
    return (
        f"CASE WHEN greatest({all_r}) <= 0 THEN 'und' "
        + " ".join(cases[:-1])
        + f" ELSE '{langs[-1]}' END"
    )


@query(
    "language_id_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT lang, {", ".join(f"{_lang_ratio_sql(lg)} AS r_{lg}" for lg in sorted(STOPWORDS))}
      FROM documents
    )
    SELECT lang, {_lang_pred_sql()} AS pred_lang, COUNT(*) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID vs the labeled lang — confusion-matrix counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", language_id(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "doc_fingerprints",
    oracle=r"""
    SELECT doc_id,
      md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM documents WHERE doc_id < 200
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# ---- dedup --------------------------------------------------------------

@query(
    "exact_dedup_survivors",
    oracle="""
    SELECT d.doc_id, d.source FROM documents d
    JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
      ON d.doc_id = k.doc_id
    """,
)
def exact_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: min doc_id per content digest survives. The
    shuffle carries (digest, id) only — bodies never move."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact_content(docs, "text", "doc_id").select("doc_id", "source")


@query(
    "minhash_band_signatures",
    oracle=f"WITH {_SIG_CTE} SELECT doc_id, band, sig FROM sig WHERE doc_id < 50",
)
def minhash_band_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix (4 bands x 2 rows, 3-gram shingles),
    signed from a ``shingle_set_table`` — the input form of the batch
    near-dup pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    sets = shingle_set_table(docs, "doc_id", "text", n=3)
    return minhash_signatures(
        docs, "doc_id", "text", n=3, bands=4, rows_per_band=2,
        shingle_sets_df=sets,
    ).filter(F.col("doc_id") < 50)


@query(
    "minhash_band_signatures_rowwise",
    oracle=f"WITH {_SIG_CTE} SELECT doc_id, band, sig FROM sig WHERE doc_id < 50",
)
def minhash_band_signatures_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same signatures signed from text directly: each row's
    shingle array is projected once and hashed in place — no explode, no
    groupBy, no key shuffle. Same oracle as ``minhash_band_signatures``,
    so the two input forms are pinned identical. This is the
    streaming-safe input form (no stateful agg) used by
    ``streaming_near_dup_candidates`` and the MinHash index."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs, "doc_id", "text").filter(
        F.col("doc_id") < 50
    )


@query(
    "minhash_candidates",
    oracle=f"WITH {_CAND_CTE} SELECT id_a, id_b FROM cand",
)
def minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: near-dup candidate pairs share a (band, signature)
    bucket — equi self-join, no O(n^2) cross product."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(docs, "doc_id", "text", n=3, bands=4, rows_per_band=2)


def _verified_near_dup_pairs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The batch near-dup chain shared by the text dedup queries:
    ONE persisted per-document ``shingle_set_table`` feeds both MinHash
    candidates (4 bands x 2 rows, 3-gram shingles) and the exact Jaccard
    verify, so shingle data is shuffled once. Returns ``(pairs, sets)``:
    the ``(id_a, id_b, jaccard)`` pairs at Jaccard >= 0.5, and the
    persisted set table, which the caller ties to its result with
    ``evict_on_gc``."""
    sets = shingle_set_table(docs, "doc_id", "text", n=3).persist()
    cands = minhash_candidate_pairs(
        docs, "doc_id", "text", n=3, bands=4, rows_per_band=2,
        shingle_sets_df=sets,
    )
    pairs = jaccard_pairs(cands, sets, "doc_id").filter(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")) >= 0.5
    ).select("id_a", "id_b", "jaccard")
    return pairs, sets


@query(
    "jaccard_near_dups",
    oracle=f"""
    WITH {_CAND_CTE},
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY 1),
    inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
              FROM cand c
              JOIN dsh a ON a.doc_id = c.id_a
              JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
              GROUP BY 1, 2)
    SELECT i.id_a, i.id_b,
           ROUND(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
    """,
)
def jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: MinHash candidates -> exact shingle Jaccard
    verification -> threshold. Verification cost is O(candidates), not
    O(n^2): two id-joins against the persisted shingle-set table plus a
    rowwise array_intersect."""
    from cses2humio_spark.session import evict_on_gc

    pairs, sets = _verified_near_dup_pairs(
        load_table(spark, sf_dir, "documents")
    )
    return evict_on_gc(pairs, sets)


@query(
    "simhash_fingerprints",
    oracle=r"""
    WITH toks AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
                  FROM documents),
    h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
    bits AS (SELECT doc_id, hx, UNNEST(generate_series(0, 15)) AS bit FROM h),
    v AS (SELECT doc_id, bit,
            SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, (bit // 4) + 1, 1)) - 1)
                           >> (bit % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM bits GROUP BY 1, 2)
    SELECT doc_id,
      CAST(SUM(CASE WHEN vote > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
    FROM v GROUP BY doc_id
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (majority vote over token-hash bits)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", bits=16)


_SIMHASH_FP_CTE = r"""
toks AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
         FROM documents),
h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
bits AS (SELECT doc_id, hx, UNNEST(generate_series(0, 15)) AS bit FROM h),
v AS (SELECT doc_id, bit,
        SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, (bit // 4) + 1, 1)) - 1)
                       >> (bit % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM bits GROUP BY 1, 2),
fp AS (SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
       FROM v GROUP BY doc_id)
"""


@query(
    "simhash_near_dups",
    oracle=f"""
    WITH {_SIMHASH_FP_CTE},
    e AS (SELECT doc_id, simhash, band,
                 (simhash >> (band * 4)) & 15 AS band_sig
          FROM fp, (SELECT UNNEST(generate_series(0, 3)) AS band) b)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM e a JOIN e b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pipeline: 16-bit fingerprints → 4-band candidate
    join (pigeonhole-lossless for Hamming ≤ 3) → exact bit_count verify.
    The Spark side emits each pair from its first matching band only (SWAR
    filter, no DISTINCT shuffle); the oracle takes the DISTINCT of the
    same band join — identical pair sets by construction."""
    from cses2humio_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(
        docs, "doc_id", "text", bits=16, n_bands=4, max_hamming=3
    )


# ---- similarity search --------------------------------------------------

@query(
    "cosine_topk",
    oracle=f"""
    WITH p AS (SELECT vec_id AS probe_id, {_DOUBLE_VEC} AS pv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id, {_DOUBLE_VEC} AS cv FROM embeddings),
    scored AS (
      SELECT probe_id, vec_id,
             ROUND({_dot_sql('cv', 'pv')}
                   / ({_norm_sql('cv')} * {_norm_sql('pv')}), 6) AS cos_sim
      FROM p, c
    ), ranked AS (
      SELECT probe_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT probe_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 10 probe vectors. Probes
    broadcast; corpus streams once; fold order mirrors the oracle's
    list_reduce (verified bit-exact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding")
    )
    return cosine_topk_bruteforce(emb, probes, k=5)


@query(
    "cosine_topk_lsh",
    oracle=f"""
    WITH {_LSH_SIG_CTE},
    p0 AS (SELECT s.vec_id AS probe_id, s.lsh_sig, e.v AS pv
           FROM sigs s JOIN ev e ON e.vec_id = s.vec_id WHERE s.vec_id < 10),
    p AS (SELECT probe_id, pv,
                 CASE WHEN t.i = 0 THEN lsh_sig
                      ELSE xor(lsh_sig, CAST(1 << (t.i - 1) AS BIGINT)) END AS lsh_sig
          FROM p0, generate_series(0, 8) AS t(i)),
    c AS (SELECT s.vec_id, s.lsh_sig, e.v AS cv
          FROM sigs s JOIN ev e ON e.vec_id = s.vec_id),
    scored AS (SELECT p.probe_id, c.vec_id,
                      ROUND({_cos_sql('c.cv', 'p.pv')}, 6) AS cos_sim
               FROM p JOIN c ON c.lsh_sig = p.lsh_sig),
    ranked AS (SELECT probe_id, vec_id, cos_sim,
                      ROW_NUMBER() OVER (PARTITION BY probe_id
                                         ORDER BY cos_sim DESC, vec_id) AS rank
               FROM scored)
    SELECT probe_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — the 100 TB scale path: candidates
    share a random-hyperplane signature (multiprobe=1 also scans the
    n_planes Hamming-distance-1 buckets; tests/test_approx.py pins the
    recall floor and the multiprobe gain — on this synthetic corpus the
    neighbors are near-orthogonal, which bounds achievable hyperplane-LSH
    recall; fewer planes + multiprobe is the dial); exact re-rank inside
    buckets. Approximate relative to TRUE top-k (recall < 1), but exactly
    reproducible: the oracle replicates the hyperplanes AND the multiprobe
    expansion as SQL, so even the approximation is hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding")
    )
    return lsh_topk(emb, probes, k=5, dim=64, n_planes=8, multiprobe=1)


@query(
    "embedding_norms_by_label",
    oracle=f"""
    WITH e AS (SELECT label, {_norm_sql(_DOUBLE_VEC)} AS nrm FROM embeddings)
    SELECT label, COUNT(*) AS n, ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm
    FROM e GROUP BY label
    """,
)
def embedding_norms_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", l2_norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


@query(
    "tfidf_top50",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, UNNEST({_TOKS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             ROUND(tf * ln(n_docs / CAST(df AS DOUBLE)), 6) AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf FROM scored
    ORDER BY tfidf DESC, doc_id, tok LIMIT 50
    """,
)
def tfidf_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF via explode + two aggregations + broadcast of the (small)
    document-frequency table; global top-50 is TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()
    scored = tf.join(F.broadcast(df_), on="tok").select(
        "doc_id",
        "tok",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")), 6
        ).alias("tfidf"),
    )
    return scored.orderBy(
        F.col("tfidf").desc(), F.col("doc_id").asc(), F.col("tok").asc()
    ).limit(50)


_BM25_TERMS = ("spark", "join", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


_BM25_ORACLE = rf"""
    WITH toks AS (SELECT doc_id, UNNEST({_TOKS}) AS tok FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                     + {_BM25_B} * dl.dl / avgdl))
             ) AS s
      FROM tf JOIN df ON df.tok = tf.tok
              JOIN dl ON dl.doc_id = tf.doc_id
              CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(s, 6) AS bm25 FROM scored
    ORDER BY s DESC, doc_id LIMIT 20
    """


@query("bm25_search_top20", oracle=_BM25_ORACLE)
def bm25_search_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (k1=1.2, b=0.75, the Lucene +1 IDF)
    for a fixed multi-term query — the classic lexical retriever next to
    the embedding/ANN family. Scale shape: term frequencies are computed
    AFTER filtering the exploded tokens to the query terms (the filter
    rides the explode, so only query-term postings shuffle — at 100 TB
    the posting lists, never the token stream); document lengths are one
    groupBy over the token stream; the df table is per-query-term
    (broadcast); N and avgdl collapse to driver-side literals (two
    scalar actions at construction, the tfidf_top50 pattern). Per-doc
    scores sum over at most |Q| terms; global top-20 is TakeOrdered.
    Summation order over a doc's terms is partitioning-dependent only
    across ≤3 IEEE additions of same-magnitude positives — rounded to 6
    after the sum, and the ORDER uses the unrounded score in both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(ws_tokens(F.col("text"))).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs, avgdl = dl.agg(
        F.count(F.lit(1)), F.avg("dl")
    ).collect()[0]
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    tfpart = (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1
        * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.lit(float(avgdl)))
    )
    scored = (
        tf.join(F.broadcast(df_), on="tok")
        .join(dl, on="doc_id")
        .groupBy("doc_id")
        .agg(F.sum(idf * tfpart).alias("s"))
    )
    return (
        scored.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", F.round("s", 6).alias("bm25"))
    )


@query(
    "weighted_sample_top100",
    oracle="""
    WITH w AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS w
               FROM documents),
    k AS (SELECT doc_id, w,
            ROUND(ln((((doc_id * 2654435761 + 1013904223) % 4294967296)
                      + 0.5) / 4294967296.0) / w, 9) AS k
          FROM w)
    SELECT doc_id, w, k FROM k ORDER BY k DESC, doc_id LIMIT 100
    """,
)
def weighted_sample_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-Res) — the quality-weighted corpus-subset op every training
    pipeline needs: each document draws key ln(u)/w (the log form of
    u^(1/w), same ordering) and the sample is the top-k keys, so
    inclusion probability tracks the weight (here: text length as the
    quality proxy). The uniform u is a DETERMINISTIC integer LCG of the
    doc id (pure int64 arithmetic — identical in every engine, no RNG,
    no md5-hex parsing), keys are ranked rounded with doc-id tie-break,
    and selection is TakeOrdered — no window, no shuffle beyond the
    top-k reduction, the right shape for sampling 1M docs from 100 TB.
    Changing the sampling 'seed' = changing the LCG constants."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        (F.col("doc_id") * F.lit(2654435761) + F.lit(1013904223))
        % F.lit(4294967296)
        + 0.5
    ) / 4294967296.0
    w = F.length("text").cast("double")
    return (
        docs.select(
            "doc_id",
            w.alias("w"),
            F.round(F.log(u) / w, 9).alias("k"),
        )
        .orderBy(F.col("k").desc(), F.col("doc_id").asc())
        .limit(100)
    )


def _rrf_fuse(lex: DataFrame, vec: DataFrame) -> DataFrame:
    """Reciprocal rank fusion (k=60) of two ranked lists, ``lex(doc_id,
    rl)`` and ``vec(doc_id, rv)``, joined full-outer (a document missing
    from one list scores 0 there): the top 10 by fused score, doc-id
    tie-break, score rounded to 6 places."""
    rrf = F.coalesce(1.0 / (60 + F.col("rl")), F.lit(0.0)) + F.coalesce(
        1.0 / (60 + F.col("rv")), F.lit(0.0)
    )
    return (
        lex.join(vec, on="doc_id", how="full_outer")
        .withColumn("__rrf", rrf)
        .orderBy(F.col("__rrf").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", F.round("__rrf", 6).alias("rrf"))
    )


@query(
    "rrf_hybrid_top10",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, UNNEST({_TOKS}) AS tok FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    bm AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                     + {_BM25_B} * dl.dl / avgdl))
             ), 6) AS s
      FROM tf JOIN df ON df.tok = tf.tok
              JOIN dl ON dl.doc_id = tf.doc_id
              CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id)
                     AS r FROM bm QUALIFY r <= 50),
    pv AS (SELECT {_DOUBLE_VEC} AS v FROM embeddings WHERE vec_id = 0),
    cs AS (SELECT e.vec_id AS doc_id,
                  ROUND({_cos_sql(_DOUBLE_VEC, 'pv.v')}, 6) AS c
           FROM embeddings e CROSS JOIN pv),
    vec AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY c DESC, doc_id)
                     AS r FROM cs QUALIFY r <= 50),
    fused AS (
      SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
             COALESCE(1.0 / (60 + lex.r), 0.0)
               + COALESCE(1.0 / (60 + vec.r), 0.0) AS rrf
      FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
    )
    SELECT doc_id, ROUND(rrf, 6) AS rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def rrf_hybrid_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (k=60): the BM25
    lexical top-50 fused with the embedding-cosine top-50 for one probe
    (vec 0) — the standard two-tower + lexical RAG recipe as one
    dataflow. Fusion is RANK-based, so the cross-engine contract is
    integer-exact: each list ranks over its ROUNDED score with doc-id
    tie-break, and the fused score is the same two-term expression of
    integer ranks in both engines. Scale shape: each arm takes its
    top-50 via TakeOrdered (``.orderBy().limit(50)`` — per-partition
    top-k + driver merge, NO global sort, no unpartitioned window over
    the corpus), then assigns ranks with a window over the 50-row frame
    only (the ``vocab_coverage`` pattern); the full-outer fusion joins
    two 50-row frames, and the probe vector is a driver-side literal
    (no broadcast join on the cosine arm — pure projection)."""
    from cses2humio_spark.functions.vectors import cosine_similarity

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    toks = docs.select(
        "doc_id",
        F.explode(ws_tokens(F.col("text"))).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs, avgdl = dl.agg(F.count(F.lit(1)), F.avg("dl")).collect()[0]
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    tfpart = (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1
        * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.lit(float(avgdl)))
    )
    bm = (
        tf.join(F.broadcast(df_), on="tok")
        .join(dl, on="doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tfpart), 6).alias("s"))
    )
    # top slice FIRST (TakeOrdered, no global sort), then rank the 50-row frame
    w_lex = Window.orderBy(F.col("s").desc(), F.col("doc_id").asc())
    lex = (
        bm.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(50)
        .withColumn("r", F.row_number().over(w_lex))
        .select("doc_id", "r")
    )
    probe = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    pvec = F.array(*[F.lit(float(x)) for x in probe])
    cs = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.round(cosine_similarity(F.col("embedding"), pvec), 6).alias("c"),
    )
    w_vec = Window.orderBy(F.col("c").desc(), F.col("doc_id").asc())
    vec = (
        cs.orderBy(F.col("c").desc(), F.col("doc_id").asc())
        .limit(50)
        .withColumn("r", F.row_number().over(w_vec))
        .select("doc_id", "r")
    )
    return _rrf_fuse(
        lex.withColumnRenamed("r", "rl"), vec.withColumnRenamed("r", "rv")
    )


# ---- multimodal columns -------------------------------------------------

def _media_stats(
    spark: SparkSession, sf_dir: str, fmt: str, decoder: str,
    id_cut: int = 300, **decode_args,
) -> DataFrame:
    """The synthesize -> decode shape of the real-decoder queries: documents
    below ``id_cut`` -> ``synthesize_<fmt>_media`` -> ``repartition_for_media``
    -> ``decoder`` (both named in ``operators/multimodal.py``)."""
    from cses2humio_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < id_cut)
    media = getattr(multimodal, f"synthesize_{fmt}_media")(docs)
    decode = getattr(multimodal, decoder)
    return decode(multimodal.repartition_for_media(media), **decode_args)


@query(
    "multimodal_decode_features",
    oracle="""
    SELECT doc_id,
      ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(unicode(text) AS BIGINT) AS first_code,
      CAST(list_sum(list_transform(generate_series(1, length(text)),
                                   i -> unicode(text[i]))) % 997 AS BIGINT)
        AS char_checksum
    FROM documents
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> Arrow-batched mapInPandas decode/feature
    extraction (operators/multimodal.py). The 'decode' is the deterministic
    fake codec; the Spark plumbing (binary schema, repartition, batch
    iterator) is the real production shape."""
    from cses2humio_spark.operators.multimodal import (
        decode_media,
        repartition_for_media,
        synthesize_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = repartition_for_media(synthesize_media(docs), 8)
    return decode_media(media)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (SELECT doc_id,
                 ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
                 octet_length(encode(text)) AS n_bytes
               FROM documents),
    f AS (SELECT doc_id, media_type,
                 UNNEST(generate_series(0, greatest(n_bytes - 1, 0), 64)) AS byte_offset
          FROM m)
    SELECT doc_id, media_type,
           CAST(byte_offset // 64 AS INT) AS frame_idx,
           CAST(byte_offset AS INT) AS byte_offset
    FROM f WHERE media_type = 'video'
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling shape: 1 media row -> N frame rows (posexplode over
    computed offsets); the decode-at-offset step is where a real video
    codec plugs in."""
    from cses2humio_spark.operators.multimodal import frame_sample, synthesize_media

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media(docs).filter(F.col("media_type") == "video")
    out = frame_sample(media, every_n_bytes=64)
    return out.select(
        "doc_id",
        "media_type",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("byte_offset").cast("int").alias("byte_offset"),
    )


# ---- UDF / UDAF / UDTF surface ------------------------------------------

@query(
    "udaf_weighted_value",
    oracle=r"""
    SELECT event_type,
      CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
               * CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS DOUBLE)
        / (100.0 * CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS DOUBLE))
        AS wmean
    FROM events GROUP BY event_type
    """,
)
def udaf_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (Arrow-batched UDAF): k-weighted mean of
    value. Integer-cents accumulation keeps it order-independent, so the
    oracle can reproduce it exactly."""
    from cses2humio_spark.functions.udfs import weighted_mean_cents

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    wmean = weighted_mean_cents()
    return (
        ev.select("event_type", "value", k.alias("k"))
        .groupBy("event_type")
        .agg(wmean(F.col("value"), F.col("k")).alias("wmean"))
    )


@query(
    "udtf_token_stats",
    oracle=r"""
    SELECT doc_id, tok, COUNT(*) AS cnt
    FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents WHERE doc_id < 20)
    GROUP BY doc_id, tok
    """,
)
def udtf_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: one row in -> token rows out,
    joined laterally. Exists for extensibility parity — the JVM-side
    equivalent (token_explode_top20) is the production path."""
    from pyspark.sql.functions import udtf

    from cses2humio_spark.functions.udfs import token_stats_udtf_class

    token_stats = udtf(
        token_stats_udtf_class(), returnType="doc_id bigint, tok string, cnt bigint"
    )
    spark.udtf.register("token_stats", token_stats)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    docs.createOrReplaceTempView("udtf_docs_in")
    return spark.sql(
        "SELECT t.doc_id, t.tok, t.cnt "
        "FROM udtf_docs_in, LATERAL token_stats(doc_id, text) t"
    )


# ---- embedding-space dedup + IVF ANN (similarity scale paths) -----------



_EMB_NEARDUP_CTES = f"""
    ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    prm AS (SELECT w, GREATEST(1, 60 // w) AS b FROM (
              SELECT LEAST(GREATEST(4,
                       CAST(CEIL(LOG2(GREATEST(COUNT(*) / 128.0, 2.0))) AS BIGINT)),
                     60) AS w
              FROM embeddings) t),
    bplanes AS (SELECT pid, pv FROM (VALUES {_planes_values_sql(64, 60)}) AS t(pid, pv)),
    bsigs AS (SELECT e.vec_id, pid // prm.w AS band,
                     CAST(SUM(CASE WHEN {_dot_sql('e.v', 'pv')} > 0
                                   THEN (CAST(1 AS BIGINT) << (pid % prm.w))
                                   ELSE 0 END) AS BIGINT) AS band_sig
              FROM ev e CROSS JOIN bplanes CROSS JOIN prm
              WHERE pid < prm.w * prm.b
              GROUP BY e.vec_id, pid // prm.w),
    pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bsigs a JOIN bsigs b
                ON a.band = b.band AND a.band_sig = b.band_sig
                   AND a.vec_id < b.vec_id),
    pv AS (SELECT p.id_a, p.id_b, ea.v AS va, eb.v AS vb
           FROM pairs p
           JOIN ev ea ON ea.vec_id = p.id_a
           JOIN ev eb ON eb.vec_id = p.id_b),
    c AS (SELECT id_a, id_b, {_cos_sql('va', 'vb')} AS cos FROM pv)
    """


@query(
    "embedding_near_dups",
    oracle="WITH " + _EMB_NEARDUP_CTES + """
    SELECT id_a, id_b, ROUND(cos, 6) AS cos_sim FROM c WHERE cos >= 0.3
    """,
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup via banded hyperplane LSH -> DISTINCT
    candidate pairs -> exact cosine on candidates only. The band join
    shuffles ids, not vectors.

    The band geometry (w planes x b bands) is DERIVED FROM CORPUS SIZE via
    ``auto_band_params`` — per-band bucket occupancy is the quadratic lever
    on candidate volume, so a fixed (w, b) in a growing corpus degenerates
    toward all-pairs (measured 23.7x at 10x density with the old pinned
    (4, 15); auto params cut the 10x run 51s -> 8.4s, docs/SCALING.md
    Finding 2). The oracle replicates the SAME closed form from COUNT(*)
    (GREATEST/LEAST/CEIL/LOG2 mirror the Python max/min/ceil/log2 —
    correctly-rounded libm log2 on both engines), reproduces the
    hyperplanes AND the banding as SQL, so the whole adaptive pipeline is
    hash-checked. Recall for the small-corpus geometry (4, 15) is pinned
    in test_approx.py::test_embedding_neardup_recall; a single 4-bit band
    recalls ~2% of cos>=0.3 pairs, the banded OR-construction ~85%+."""
    from cses2humio_spark.operators.similarity import (
        auto_band_params,
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    w, b = auto_band_params(emb.count())
    # broadcast_vectors: the candidate set dwarfs the embedding table on
    # this near-orthogonal synthetic corpus, so the verify joins broadcast
    # the vector side instead of shuffling pairs.
    return embedding_near_dup_pairs(
        emb, dim=64, threshold=0.3, n_planes=w, n_bands=b,
        broadcast_vectors=True,
    )


@query(
    "semdedup_decisions",
    oracle=f"""
    WITH ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
    asn AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM ev e CROSS JOIN cent c) t WHERE rn = 1),
    dup AS (SELECT b.vec_id AS vid, MIN(a.vec_id) AS dup_of
            FROM asn a JOIN asn b
              ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE {_cos_sql('a.v', 'b.v')} >= 0.4
            GROUP BY b.vec_id)
    SELECT asn.vec_id, CAST(asn.cid AS BIGINT) AS cid,
           CAST(CASE WHEN d.vid IS NULL THEN 1 ELSE 0 END AS INT) AS kept,
           d.dup_of
    FROM asn LEFT JOIN dup d ON d.vid = asn.vec_id
    """,
)
def semdedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — CLUSTER-BUCKETED semantic dedup (Abbas et al. 2023),
    the third recall shape in the embedding-dedup family: exact dedup
    catches byte-equal rows, the LSH pair finder (`embedding_near_dups`)
    recalls across the whole corpus with banding probability, and
    SemDeDup compares pairs only WITHIN a coarse cluster — recall 1.0
    inside a cluster, 0 across boundaries, quadratic cost bounded by
    |cluster|² instead of |corpus|² (the paper's web-scale trade; its
    claim is that semantic duplicates co-locate under the clustering).
    One decision row per vector: (vec_id, cid, kept, dup_of), dropped ⟺
    some lower-id in-cluster neighbor has cosine ≥ τ — a total,
    scan-order-free rule the oracle restates as one EXISTS-shaped
    aggregation over the identical assignment.

    Fixture honesty: the synthetic embeddings are near-orthogonal (max
    in-cluster cosine ≈ 0.47-0.53 across SFs), so τ=0.4 is used to make
    the dropped set non-empty at every scale factor (19/11/174 dropped
    at sf0.001/0.01/0.1) — a production corpus uses τ≈0.9+; τ is an
    operator parameter, the plan is threshold-independent.

    Scale shape: centroids broadcast (16 rows here; tens of thousands at
    100 TB), the corpus shuffles once on the centroid id per join side,
    and the biggest cluster bounds the quadratic stage — skewed corpora
    buy more centroids (or the k-means-trained variant,
    `ivf_centroids_kmeans`) rather than a different algorithm."""
    from cses2humio_spark.operators.similarity import semdedup_within_cluster

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    return semdedup_within_cluster(emb, cent, threshold=0.4)


@query(
    "ivf_topk",
    oracle=f"""
    WITH ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM ev WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM ev e CROSS JOIN cent c) WHERE rn = 1),
    plist AS (
      SELECT probe_id, cid FROM (
        SELECT p.probe_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.probe_id
                                  ORDER BY {_cos_sql('p.pv', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM probes p CROSS JOIN cent c) WHERE rn <= 2),
    scored AS (
      SELECT pl.probe_id, a.vec_id,
             ROUND({_cos_sql('e.v', 'p.pv')}, 6) AS cos_sim
      FROM plist pl
      JOIN assign a ON a.cid = pl.cid
      JOIN ev e ON e.vec_id = a.vec_id
      JOIN probes p ON p.probe_id = pl.probe_id)
    SELECT probe_id, vec_id, cos_sim, rank FROM (
      SELECT probe_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored) WHERE rank <= 5
    """,
)
def ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor over the embeddings table:
    16 centroid vectors (deterministic: vec_id < 16), nprobe=2, exact
    cosine re-rank to top-5 for 8 probe vectors. The full inverted-file
    dataflow (coarse assign -> probe centroid ranking -> inverted-list
    fetch -> re-rank) is oracle-checked."""
    from cses2humio_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return ivf_topk(emb, probes, cent, k=5, nprobe=2)


# k-means oracle fragments: squared-distance fold (same left-to-right
# order as the Spark aggregate), assignment (rn=1 picks min dist, ties to
# lowest cid — identical to array_position-of-min), and the exact-decimal
# elementwise mean update with empty-cluster carry-over.
_KM_DIST = (
    "list_reduce(list_transform(generate_series(1, len({v})), "
    "i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), (a, b) -> a + b)"
)


def _km_assign(prev: str, alias: str) -> str:
    return f"""
{alias} AS (SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_KM_DIST.format(v="e.v", c="c.cv")}, c.cid) AS rn
    FROM ev e CROSS JOIN {prev} c) t WHERE rn = 1)"""


def _km_update(assign: str, prev: str, nxt: str) -> str:
    return f"""
{nxt} AS (SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
    FROM {prev} p LEFT JOIN (
      SELECT cid, list(comp ORDER BY i) AS cv FROM (
        SELECT cid, i,
               CAST(SUM(CAST(v[i] AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS comp
        FROM {assign}, UNNEST(generate_series(1, 64)) AS u(i)
        GROUP BY cid, i) g
      GROUP BY cid) m ON m.cid = p.cid)"""


# Shared CTE chain for the two k-means profiles (scalar-serialized and
# array-valued): 2 unrolled Lloyd iterations + final assignment.
_KM_CTES = f"""
    WITH ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
                  v AS cv
           FROM (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT 8) s),
    {_km_assign("c0", "a1")},
    {_km_update("a1", "c0", "c1")},
    {_km_assign("c1", "a2")},
    {_km_update("a2", "c1", "c2")},
    {_km_assign("c2", "fin")}"""


@query(
    "kmeans_clusters",
    oracle=f"""
    {_KM_CTES}
    SELECT f.cid, COUNT(*) AS n_members,
           ANY_VALUE(array_to_string(list_transform(c2.cv,
             x -> CAST(CAST(ROUND(x, 6) AS DECIMAL(18,6)) AS VARCHAR)), ',')) AS centroid
    FROM fin f JOIN c2 ON c2.cid = f.cid
    GROUP BY f.cid ORDER BY f.cid
    """,
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (k=8, 2 iterations,
    deterministic lowest-id init), profiled per cluster — the iterative-
    algorithm shape (centroids as driver state, data never collected),
    exactly oracle-checked because every iteration is bit-reproducible:
    join-free literal-centroid assignment, exact-decimal mean update.
    The oracle unrolls both iterations as CTE pairs.

    The centroid is emitted SERIALIZED (comma-joined decimal(18,6)
    renderings) so any downstream hasher that sorts/hashes scalar cells
    can check it; decimal->string formatting is deterministic and
    identical across Spark and DuckDB, unlike double->string. The
    array-valued profile stays available as ``kmeans_clusters_arrays``."""
    from cses2humio_spark.operators.clustering import kmeans_cluster_profile

    emb = load_table(spark, sf_dir, "embeddings")
    prof = kmeans_cluster_profile(emb, "vec_id", "embedding", k=8, n_iter=2)
    return prof.select(
        "cid",
        "n_members",
        F.array_join(
            F.transform(
                "centroid",
                lambda x: x.cast("decimal(18,6)").cast("string"),
            ),
            ",",
        ).alias("centroid"),
    )


@query(
    "kmeans_clusters_arrays",
    oracle=f"""
    {_KM_CTES}
    SELECT f.cid, COUNT(*) AS n_members,
           ANY_VALUE(list_transform(c2.cv, x -> ROUND(x, 6))) AS centroid
    FROM fin f JOIN c2 ON c2.cid = f.cid
    GROUP BY f.cid ORDER BY f.cid
    """,
)
def kmeans_clusters_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued twin of ``kmeans_clusters`` for callers that want the
    centroid as ``array<double>`` (kept OUTSIDE the driver's priority
    window: pandas-based result hashers cannot sort list-typed cells)."""
    from cses2humio_spark.operators.clustering import kmeans_cluster_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_cluster_profile(emb, "vec_id", "embedding", k=8, n_iter=2)


@query(
    "semdedup_kmeans_profile",
    oracle=f"""
    {_KM_CTES},
    sasn AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM ev e CROSS JOIN c2 c) t WHERE rn = 1),
    sdup AS (SELECT b.vec_id AS vid
             FROM sasn a JOIN sasn b
               ON a.cid = b.cid AND a.vec_id < b.vec_id
             WHERE {_cos_sql('a.v', 'b.v')} >= 0.4
             GROUP BY b.vec_id)
    SELECT CAST(s.cid AS BIGINT) AS cid,
           COUNT(*) AS n_members,
           CAST(SUM(CASE WHEN d.vid IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dropped
    FROM sasn s LEFT JOIN sdup d ON d.vid = s.vec_id
    GROUP BY s.cid
    ORDER BY cid
    """,
)
def semdedup_kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on TRAINED coarse centroids (the paper's actual recipe —
    k-means cells, not an id-prefix convention) plus the cluster-size
    profile that bounds its cost: one row per cluster with its member
    count and how many members the dedup rule drops. The max of
    ``n_members`` IS the operator's quadratic term — SemDeDup compares
    |cluster|² pairs inside each cell, so this query is both the
    trained-centroid twin of ``semdedup_decisions`` and the measurement
    a capacity plan reads before running it at scale (a skewed max
    cluster says "buy more centroids", the paper's own dial; at sf0.1
    the trained k=8 cells hold ≤262 of the 2000 vectors vs 292 for the
    k=8 id-prefix convention — measured, docs/SCALING.md round 13).
    Decisions are
    identical in shape to ``semdedup_decisions``: drop ⟺ ∃ lower-id
    in-cluster neighbor with cosine ≥ τ (total, scan-order-free). The
    oracle replays the exact-decimal Lloyd iterations (the
    ``kmeans_clusters``-proven CTE chain), re-assigns by cosine (the
    IVF rule the engine uses for cells), and restates the drop rule as
    an EXISTS-shaped aggregation."""
    from cses2humio_spark.operators.similarity import (
        ivf_centroids_kmeans,
        semdedup_within_cluster,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids_kmeans(emb, k=8, n_iter=2)
    dec = semdedup_within_cluster(emb, cents, threshold=0.4)
    return (
        dec.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(1 - F.col("kept")).cast("bigint").alias("n_dropped"),
        )
        .orderBy("cid")
    )


_CLUSTER_CTES = f"""
    WITH RECURSIVE {_CAND_CTE},
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY 1),
    inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
              FROM cand c
              JOIN dsh a ON a.doc_id = c.id_a
              JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
              GROUP BY 1, 2),
    jac AS (SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
    bi AS (SELECT id_a AS src, id_b AS dst FROM jac
           UNION ALL SELECT id_b, id_a FROM jac),
    reach AS (
      SELECT doc_id AS id, doc_id AS label FROM documents
      UNION
      SELECT b.src, r.label FROM reach r JOIN bi b ON b.dst = r.id
    ),
    comp AS (SELECT id AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_rep
             FROM reach GROUP BY id)
    """

_CLUSTER_REPS_ORACLE = _CLUSTER_CTES + "SELECT doc_id, cluster_rep FROM comp"


@query("near_dup_cluster_reps", oracle=_CLUSTER_REPS_ORACLE)
def near_dup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup decision pipeline: MinHash candidates -> exact Jaccard
    verify (>= 0.5) -> connected components -> every document mapped to its
    cluster representative (min doc_id; singletons map to themselves).
    Components come from ``alternating_star_components`` on its
    size-adaptive route (a driver union-find for a bounded pair set); the
    oracle computes the same components with a recursive CTE."""
    from cses2humio_spark.operators.dedup import alternating_star_components
    from cses2humio_spark.session import evict_on_gc

    docs = load_table(spark, sf_dir, "documents")
    pairs, sets = _verified_near_dup_pairs(docs)
    return evict_on_gc(
        alternating_star_components(docs.select("doc_id"), pairs), sets
    )


@query("near_dup_cluster_reps_star", oracle=_CLUSTER_REPS_ORACLE)
def near_dup_cluster_reps_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``near_dup_cluster_reps`` with the connected components forced onto
    the distributed alternating large-star/small-star contraction
    (Kiveris et al., SOCC'14; ``driver_max_edges=0``), which converges in
    O(log^2 n) rounds regardless of component DIAMETER — the route a
    corpus-scale pair set takes. Same recursive-CTE oracle, so the oracle
    checks both sides of the size-adaptive selection."""
    from cses2humio_spark.operators.dedup import alternating_star_components
    from cses2humio_spark.session import evict_on_gc

    docs = load_table(spark, sf_dir, "documents")
    pairs, sets = _verified_near_dup_pairs(docs)
    return evict_on_gc(
        alternating_star_components(
            docs.select("doc_id"), pairs, driver_max_edges=0
        ),
        sets,
    )


@query(
    "fuzzy_dedup_survivor_stats",
    oracle=_CLUSTER_CTES + """
    SELECT d.lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN c.cluster_rep = d.doc_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_survivors,
      CAST(SUM(CASE WHEN c.cluster_rep <> d.doc_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_dropped
    FROM documents d JOIN comp c ON c.doc_id = d.doc_id
    GROUP BY d.lang
    """,
)
def fuzzy_dedup_survivor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION applied — the end of the crawl→dedup story:
    near-dup clusters keep only their representative (min doc_id), and
    the corpus report says per language how many documents survive and
    how many are dropped as fuzzy duplicates. Composes the full chain
    (MinHash candidates → exact Jaccard ≥ 0.5 → connected components →
    survivor filter → per-language agg); the only per-document bytes in
    the final join are (doc_id, cluster_rep, lang)."""
    from cses2humio_spark.operators.dedup import alternating_star_components
    from cses2humio_spark.session import evict_on_gc

    docs = load_table(spark, sf_dir, "documents")
    pairs, sets = _verified_near_dup_pairs(docs)
    reps = alternating_star_components(docs.select("doc_id"), pairs)
    return evict_on_gc(
        docs.select("doc_id", "lang")
        .join(reps, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("cluster_rep") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_survivors"),
            F.sum((F.col("cluster_rep") != F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_dropped"),
        ),
        sets,
    )


@query(
    "deterministic_split_counts",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 100 AS bucket
      FROM documents
    )
    SELECT lang,
      CAST(SUM(CASE WHEN bucket < 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      CAST(SUM(CASE WHEN bucket >= 80 AND bucket < 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
      CAST(SUM(CASE WHEN bucket >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
    FROM h GROUP BY lang
    """,
)
def deterministic_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test split — the sampling a training-data
    pipeline actually needs: membership is a PURE FUNCTION of the document
    id (md5 bucket), so the split is stable across runs, engines, cluster
    sizes, and data re-partitioning, and any row's assignment can be
    recomputed from its id alone. Contrast df.sample(): partition-order
    RNG, irreproducible across engines. No shuffle beyond the final
    count aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return (
        docs.withColumn("bucket", bucket)
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("bucket") < 80, 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(
                F.when((F.col("bucket") >= 80) & (F.col("bucket") < 90), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_val"),
            F.sum(F.when(F.col("bucket") >= 90, 1).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
        )
    )


_QUALITY_SQL = rf"""ROUND(
  0.4 * least(len({_TOKS}) / 200.0, 1.0)
  + 0.3 * (1.0 - length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g'))
                 / greatest(CAST(length(text) AS DOUBLE), 1.0))
  + 0.3 * (len(list_distinct({_TOKS}))
           / greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0)),
6)"""


@query(
    "curation_pipeline_stats",
    oracle=f"""
    WITH q AS (SELECT doc_id, lang, text, {_QUALITY_SQL} AS quality
               FROM documents),
    gated AS (SELECT * FROM q WHERE quality >= 0.5 AND lang <> 'und'),
    survivors AS (
      SELECT g.* FROM gated g
      JOIN (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)) k
        ON g.doc_id = k.doc_id)
    SELECT lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
        AS total_tokens,
      ROUND(SUM(quality) / COUNT(*), 6) AS avg_quality
    FROM survivors GROUP BY lang
    """,
)
def curation_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data curation pass, end to end: quality gate
    (score >= 0.5) -> language filter (drop unlabeled) -> exact content
    dedup (min-id survivor per md5) -> per-language corpus stats. Each
    stage is the registered operator used elsewhere; this query pins their
    COMPOSITION, the shape an actual data-curation job runs. One narrow
    scan feeds everything; dedup shuffles (digest, id) only; stats are one
    partial-aggregated groupBy."""
    from cses2humio_spark.operators.dedup import dedup_exact_content

    docs = load_table(spark, sf_dir, "documents")
    gated = docs.select(
        "doc_id", "lang", "text", quality_score(F.col("text")).alias("quality")
    ).filter((F.col("quality") >= 0.5) & (F.col("lang") != "und"))
    survivors = dedup_exact_content(gated, "text", "doc_id")
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("total_tokens"),
        F.round(F.sum("quality") / F.count(F.lit(1)), 6).alias("avg_quality"),
    )


# ---- sequence packing ----------------------------------------------------

_PACK_CTE = r"""
d AS (SELECT doc_id,
             ('0x' || substr(md5('pack:' || doc_id), 1, 8))::BIGINT % 8
               AS bucket,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents),
o AS (SELECT doc_id, bucket, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      FROM d),
p AS (
  SELECT bucket, rn, doc_id, n_tokens,
         n_tokens AS acc,
         CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS pack_pos
  FROM o WHERE rn = 1
  UNION ALL
  SELECT nxt.bucket, nxt.rn, nxt.doc_id, nxt.n_tokens,
         CASE WHEN p.acc + nxt.n_tokens > 256
              THEN nxt.n_tokens ELSE p.acc + nxt.n_tokens END,
         CASE WHEN p.acc + nxt.n_tokens > 256
              THEN p.pack_id + 1 ELSE p.pack_id END,
         CASE WHEN p.acc + nxt.n_tokens > 256
              THEN 0 ELSE p.pack_pos + 1 END
  FROM p JOIN o nxt ON nxt.bucket = p.bucket AND nxt.rn = p.rn + 1)
"""


@query(
    "sequence_pack_assignments",
    oracle=f"""
    WITH RECURSIVE {_PACK_CTE}
    SELECT bucket, doc_id, n_tokens, pack_id, pack_pos FROM p
    """,
)
def sequence_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (training-batch construction): greedy
    first-fit-sequential packing of documents into 256-token budget
    sequences within 8 deterministic hash buckets. Every document maps to
    a (bucket, pack_id, pack_pos); the assignment is a pure function of
    the corpus (hash bucket + id order), independent of partitioning. The
    oracle replays the greedy fold as a recursive CTE. Scale: the only
    shuffle carries (bucket, id, n_tokens) — text never moves; buckets
    are the parallel unit."""
    from cses2humio_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    narrow = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(narrow, budget=256, n_buckets=8)


@query(
    "sequence_packing_stats",
    oracle=f"""
    WITH RECURSIVE {_PACK_CTE},
    per_pack AS (SELECT bucket, pack_id, COUNT(*) AS n_docs,
                        SUM(n_tokens) AS pack_tokens
                 FROM p GROUP BY bucket, pack_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_packs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           ROUND(AVG(n_docs), 6) AS avg_docs_per_pack,
           ROUND(AVG(least(pack_tokens / 256.0, 1.0)), 6) AS avg_fill,
           ROUND(MIN(least(pack_tokens / 256.0, 1.0)), 6) AS min_fill,
           CAST(SUM(CASE WHEN pack_tokens > 256 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overflow_packs
    FROM per_pack
    """,
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report (the metric that justifies the budget and
    bucket choices): pack count, docs per pack, mean/min fill ratio,
    overflow packs. Fill < 1 is the padding an accelerator would burn."""
    from cses2humio_spark.operators.packing import pack_sequences, pack_stats

    docs = load_table(spark, sf_dir, "documents")
    narrow = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_stats(pack_sequences(narrow, budget=256, n_buckets=8), 256)


# ---- decontamination & vocabulary ---------------------------------------

@query(
    "decontamination_overlap",
    oracle=r"""
    WITH t AS (SELECT doc_id, source,
                      string_split_regex(trim(text), '\s+') AS toks
               FROM documents),
    sh5 AS (SELECT doc_id, source, array_to_string(toks[i:i+4], ' ') AS sh
            FROM t, UNNEST(generate_series(1, len(toks)-4)) AS u(i)
            WHERE len(toks) >= 5),
    ev AS (SELECT DISTINCT sh FROM sh5 WHERE source = 'src0'),
    cont AS (SELECT DISTINCT s.doc_id
             FROM sh5 s JOIN ev ON ev.sh = s.sh
             WHERE s.source <> 'src0')
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN cont c ON c.doc_id = d.doc_id
    WHERE d.source <> 'src0'
    GROUP BY d.source
    """,
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-gram with the held-out set (source 'src0' stands in for the eval
    benchmark). The eval shingle set is DISTINCT'd and broadcast — eval
    suites are small by nature, so even at 100 TB of training data the
    probe side replicates and the train shingles never shuffle; the check
    is a map-side semi-join, one pass over the corpus."""
    from cses2humio_spark.operators.dedup import shingle_table

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    ev_sh = shingle_table(ev, "doc_id", "text", n=5).select("__sh").distinct()
    tr_sh = shingle_table(train, "doc_id", "text", n=5)
    contaminated = (
        tr_sh.join(F.broadcast(ev_sh), on="__sh", how="left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        train.join(contaminated, on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_contaminated"),
        )
    )


@query(
    "vocab_coverage",
    oracle=r"""
    WITH toks AS (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS tok
                  FROM documents),
    freq AS (SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(f) AS DOUBLE) AS s FROM freq),
    ranked AS (SELECT tok, f,
                      ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rank,
                      SUM(f) OVER (ORDER BY f DESC, tok
                                   ROWS UNBOUNDED PRECEDING) AS cum
               FROM freq)
    SELECT rank, tok, CAST(f AS BIGINT) AS freq,
           ROUND(CAST(cum AS DOUBLE) / (SELECT s FROM tot), 6) AS coverage
    FROM ranked WHERE rank <= 200
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build for tokenizer prep: top-200 tokens by corpus
    frequency with cumulative corpus coverage (the fraction of all token
    occurrences the top-V vocabulary explains — the number that sizes a
    vocab). Deterministic order: (freq DESC, token ASC). Scale shape: the
    explode+groupBy is partial-aggregated; the corpus-total is a scalar
    agg broadcast back; only the top slice (vocab-sized, not corpus-sized)
    enters the ranking window."""
    from cses2humio_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = freq.agg(F.sum("freq").cast("double").alias("__total"))
    # top slice FIRST (TakeOrdered, no global sort), then the tiny window
    top = freq.orderBy(F.col("freq").desc(), F.col("tok").asc()).limit(200)
    w = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "coverage",
            F.round(
                F.sum("freq").over(w.rowsBetween(Window.unboundedPreceding, 0))
                / F.col("__total"),
                6,
            ),
        )
        .select("rank", "tok", F.col("freq").cast("bigint").alias("freq"), "coverage")
    )


# ---- real-binary multimodal decode --------------------------------------

@query(
    "ppm_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 5 AS h
                FROM documents WHERE doc_id < 300),
    m AS (SELECT t.doc_id,
                 ROUND(AVG((7*t.doc_id + 39*u.p) % 256), 6) AS mean_r,
                 ROUND(AVG((7*t.doc_id + 13 + 39*u.p) % 256), 6) AS mean_g,
                 ROUND(AVG((7*t.doc_id + 26 + 39*u.p) % 256), 6) AS mean_b
          FROM d3 t, UNNEST(generate_series(0, t.w*t.h - 1)) AS u(p)
          GROUP BY t.doc_id),
    c AS (SELECT t.doc_id,
                 CAST(SUM((7*t.doc_id + 13*u.j) % 256) % 1000000000 AS BIGINT)
                   AS byte_checksum
          FROM d3 t, UNNEST(generate_series(0, t.w*t.h*3 - 1)) AS u(j)
          GROUP BY t.doc_id)
    SELECT d.doc_id, CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
           m.mean_r, m.mean_g, m.mean_b, c.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id JOIN c ON c.doc_id = d.doc_id
    """,
)
def ppm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked: P6 PPM payloads are synthesized
    from a closed-form byte formula, then decode_ppm actually parses the
    binary (header, comments, dims, pixel array) and emits per-channel
    means + checksum; the oracle recomputes the SAME statistics from the
    generative formula with generate_series — it never touches bytes, so
    a decoder bug cannot cancel out. All integer sums stay < 2^53, making
    both sides bit-exact."""
    return _media_stats(spark, sf_dir, "ppm", "decode_ppm")


@query(
    "pgm_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 12 + doc_id % 7 AS w, 5 + doc_id % 6 AS h
                FROM documents WHERE doc_id < 300),
    m AS (SELECT t.doc_id,
                 ROUND(AVG((11*t.doc_id + 23*u.j) % 256), 6) AS mean_gray,
                 CAST(SUM((11*t.doc_id + 23*u.j) % 256) % 1000000000 AS BIGINT)
                   AS byte_checksum
          FROM d3 t, UNNEST(generate_series(0, t.w*t.h - 1)) AS u(j)
          GROUP BY t.doc_id)
    SELECT d.doc_id, CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
           m.mean_gray, m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """,
)
def pgm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL grayscale-image decode, oracle-checked: P5 PGM payloads from a
    closed-form byte formula; decode_pgm parses the binary (shared bounded
    PNM header parser, magic=P5) and emits gray mean + checksum; the
    oracle recomputes the statistics from the generative formula with
    generate_series — it never touches bytes."""
    return _media_stats(spark, sf_dir, "pgm", "decode_pgm")


@query(
    "inverted_index_postings",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, i - 1 AS pos, t.toks[i] AS tok
                  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) t,
                       UNNEST(generate_series(1, len(t.toks))) AS u(i)),
    p AS (SELECT tok, doc_id || ':' || pos AS entry, doc_id FROM toks)
    SELECT tok,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
      CAST(COUNT(*) AS BIGINT) AS total_tf,
      CAST(MIN(doc_id) AS BIGINT) AS first_doc,
      md5(string_agg(entry, ',' ORDER BY entry)) AS postings_fp
    FROM p GROUP BY tok
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the search-engine primitive: token →
    (doc_id, position) posting lists, emitted as document frequency,
    total term frequency, and an md5 fingerprint of the ORDERED posting
    list (scalar-hashable stand-in for the list itself; two engines that
    build identical postings produce identical fingerprints). Postings
    sort lexicographically by their 'doc:pos' rendering on both sides.
    Scale: one posexplode then ONE shuffle keyed by token; positions ride
    as ints. Token frequency is Zipfian — the stopword keys are exactly
    the skew case docs/SCALING.md measures, and the salting/two-phase
    mitigation in operators/joins.py::salted_join applies if a corpus
    makes the hot keys pathological."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(ws_tokens(F.col("text"))).alias("pos", "tok"),
    )
    entry = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")
    )
    return (
        toks.select("tok", "doc_id", entry.alias("entry"))
        .groupBy("tok")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("doc_freq"),
            F.count(F.lit(1)).cast("bigint").alias("total_tf"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.md5(F.concat_ws(",", F.sort_array(F.collect_list("entry"))))
            .alias("postings_fp"),
        )
    )


@query(
    "pmi_cooccurrence_top",
    oracle=rf"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    pairs AS (SELECT t.toks[i] AS a, t.toks[i + d] AS b
              FROM t,
                   UNNEST(generate_series(1, 2)) AS ud(d),
                   UNNEST(generate_series(1, len(t.toks))) AS ui(i)
              WHERE i + d <= len(t.toks)),
    c AS (SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY a, b),
    la AS (SELECT a, COUNT(*) AS c_a FROM pairs GROUP BY a),
    rb AS (SELECT b, COUNT(*) AS c_b FROM pairs GROUP BY b),
    tot AS (SELECT COUNT(*) AS t_pairs FROM pairs),
    scored AS (SELECT c.a, c.b, c.c_ab,
                 ROUND(ln(c.c_ab * tot.t_pairs
                          / CAST(la.c_a * rb.c_b AS DOUBLE)), 6) AS pmi
               FROM c JOIN la ON la.a = c.a JOIN rb ON rb.b = c.b, tot
               WHERE c.c_ab >= 10)
    SELECT a, b, CAST(c_ab AS BIGINT) AS n_pairs, pmi
    FROM scored ORDER BY pmi DESC, a, b LIMIT 30
    """,
)
def pmi_cooccurrence_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence PMI — the statistic behind word-embedding
    and collocation pipelines: directed (left, right) token pairs within
    a +1/+2 window, scored log(c_ab * T / (c_a * c_b)) from EXACT integer
    counts (the log argument is an identical rational on both engines;
    6dp rounding + (a, b) tie-break keeps the top-30 cut stable against
    last-ulp ln differences). Scale: the pair explode is a narrow ~2x row
    expansion; three aggregations each shuffle (token-key, count) pairs;
    the final global top-30 is a TakeOrdered, not a sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    n = F.size(toks)

    # Pairs as zip_with over SHIFTED SLICES of the token array — not a
    # transform(sequence) with per-index element_at, which falls out of
    # codegen into interpreted per-element eval (measured 10.3 s vs 1.7 s
    # for the same 526k pairs at sf0.1).
    def shifted_pairs(d: int):
        width = F.greatest(n - d, F.lit(0))
        return F.zip_with(
            F.slice(toks, 1, width),
            F.slice(toks, 1 + d, width),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )

    pair_arr = F.concat(shifted_pairs(1), shifted_pairs(2))
    pairs = docs.select(F.explode(pair_arr).alias("p")).select("p.a", "p.b")
    # ONE pass over the exploded pairs builds the (a, b) count table; the
    # marginals and the total are then derived from that table (vocab^2
    # rows at most), so the corpus-sized explosion is never re-scanned or
    # cached — measured 11.1 s -> 1.8 s at sf0.1 vs the four-pass
    # formulation. The marginals are vocab-sized -> broadcast.
    c = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab")).persist()
    la = c.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    rb = c.groupBy("b").agg(F.sum("c_ab").alias("c_b"))
    tot = c.agg(F.sum("c_ab").alias("t_pairs"))
    scored = (
        c.where(F.col("c_ab") >= 10)
        .join(F.broadcast(la), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            F.col("c_ab").cast("bigint").alias("n_pairs"),
            F.round(
                F.log(
                    F.col("c_ab")
                    * F.col("t_pairs")
                    / (F.col("c_a") * F.col("c_b")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "a", "b").limit(30)


@query(
    "bmp_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
                FROM documents WHERE doc_id < 300),
    g AS (SELECT t.doc_id, ux.x, uy.y,
                 3*t.doc_id + 5*ux.x + 7*uy.y AS base
          FROM d3 t,
               UNNEST(generate_series(0, t.w - 1)) AS ux(x),
               UNNEST(generate_series(0, t.h - 1)) AS uy(y)),
    m AS (SELECT doc_id,
            ROUND(AVG((base + 22) % 256), 6) AS mean_r,
            ROUND(AVG((base + 11) % 256), 6) AS mean_g,
            ROUND(AVG(base % 256), 6) AS mean_b,
            CAST(SUM(CASE WHEN y = 0 THEN
                   base % 256 + (base + 11) % 256 + (base + 22) % 256
                 ELSE 0 END) AS BIGINT) AS top_row_sum,
            CAST(SUM(base % 256 + (base + 11) % 256 + (base + 22) % 256)
                 % 1000000000 AS BIGINT) AS byte_checksum
          FROM g GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
           m.mean_r, m.mean_g, m.mean_b, m.top_row_sum, m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """,
)
def bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Windows-BMP decode, oracle-checked: 24-bpp uncompressed BMPs
    synthesized from a closed-form pixel formula, then decode_bmp parses
    the little-endian binary headers and undoes the format's three
    structural quirks — bottom-up row order, 4-byte stride padding, BGR
    channel order. The emitted top-row byte sum is flip-SENSITIVE (channel
    means alone are row-order-invariant), so a decoder that forgets the
    un-flip fails the oracle; the checksum excludes padding bytes, so
    mis-stridden reads fail too. The oracle recomputes everything from
    the generative formula over an (x, y) grid — it never touches bytes."""
    return _media_stats(spark, sf_dir, "bmp", "decode_bmp")


@query(
    "wav_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 400 + doc_id % 100 AS n
                FROM documents WHERE doc_id < 300),
    s AS (SELECT t.doc_id, t.n,
                 ((31*t.doc_id + 17*u.i) % 65536) - 32768 AS v
          FROM d3 t, UNNEST(generate_series(0, t.n - 1)) AS u(i))
    SELECT doc_id, CAST(16000 AS BIGINT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           ROUND(SQRT(AVG(CAST(v AS DOUBLE) * v)), 6) AS rms
    FROM s GROUP BY doc_id, n
    """,
)
def wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-checked: canonical PCM16-mono RIFF/WAV
    payloads from a closed-form sample formula; decode_wav validates the
    chunk structure and frombuffers the samples; the oracle recomputes
    rate/count/RMS from the formula. Sample-square sums stay < 2^53 so
    RMS is bit-identical across numpy and DuckDB."""
    return _media_stats(spark, sf_dir, "wav", "decode_wav")


@query(
    "video_frame_sample_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 5 AS h,
                       4 + doc_id % 5 AS n_frames
                FROM documents WHERE doc_id < 200),
    fr AS (SELECT t.doc_id, t.w, t.h, u.f
           FROM d3 t, UNNEST(generate_series(0, t.n_frames - 1)) AS u(f)
           WHERE u.f % 2 = 0)
    SELECT fr.doc_id, CAST(fr.f AS BIGINT) AS frame_idx,
           CAST(fr.w AS BIGINT) AS width, CAST(fr.h AS BIGINT) AS height,
           ROUND(AVG((7*fr.doc_id + 39*u.p + 101*fr.f) % 256), 6) AS mean_r
    FROM fr, UNNEST(generate_series(0, fr.w*fr.h - 1)) AS u(p)
    GROUP BY fr.doc_id, fr.f, fr.w, fr.h
    """,
)
def video_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling, oracle-checked: toy multi-frame
    containers (magic + count + concatenated P6 frames) are synthesized
    from a closed-form byte formula; sample_video_frames parses the
    container, slices every 2nd frame by byte offset, and decodes each
    sampled frame's red-channel mean. The oracle recomputes the same
    stats from the formula — the frame-offset arithmetic, header parsing,
    and pixel decode are all genuinely exercised."""
    return _media_stats(
        spark, sf_dir, "video", "sample_video_frames", id_cut=200, every_k=2
    )


@query(
    "random_projection_sketch",
    oracle="""
    WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
    dims AS (SELECT UNNEST(generate_series(0, 15)) AS o),
    proj AS (SELECT e.vec_id, d.o,
      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(generate_series(1, 64),
          i -> CASE WHEN substring(md5('rp' || d.o || ':' || i), 1, 1)
                         BETWEEN '0' AND '7'
               THEN e.v[i] ELSE -e.v[i] END)),
        (a, b) -> a + b) AS s
      FROM ev e CROSS JOIN dims d)
    SELECT vec_id, CAST(o AS INTEGER) AS dim, ROUND(s / 4.0, 6) AS comp
    FROM proj
    """,
)
def random_projection_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection 64→16
    (``operators/similarity.py::signed_random_projection``): the cheap
    front-end that cuts vector bytes 4x before similarity shuffles. The
    projection matrix is md5-derived so the oracle regenerates it
    bit-identically in SQL; components are per-row left-to-right double
    folds (codegen zip_with/aggregate — no array indexing, per the HOF
    lesson in docs/SCALING.md) mirrored by the oracle's list_reduce. Output normalized by sqrt(out_dims)=4."""
    from cses2humio_spark.operators.similarity import signed_random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    long = signed_random_projection(
        emb, "vec_id", "embedding", in_dims=64, out_dims=16
    )
    return long.select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("comp") / 4.0, 6).alias("comp"),
    )


@query("embedding_pca_explained_variance")  # eigendecomposition -> rows-only
def embedding_pca_explained_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PCA over the embeddings table (``operators/decomposition.py``):
    top-4 explained variances + ratios. One shuffle-free moment pass +
    driver d x d eigh; non-SQL-expressible (eigenvectors), so rows-only —
    subspace recovery / centering / partitioning-independence are pinned
    in tests/test_decomposition.py."""
    from cses2humio_spark.operators.decomposition import pca_fit

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=4)
    rows = [
        (j, round(ev, 6), round(ratio, 6))
        for j, (ev, ratio) in enumerate(
            zip(model.explained_variance, model.explained_variance_ratio)
        )
    ]
    return spark.createDataFrame(
        rows, "component int, variance double, ratio double"
    )


@query(
    "tga_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 4 + doc_id % 7 AS w, 3 + doc_id % 6 AS h
                FROM documents WHERE doc_id < 300),
    g AS (SELECT t.doc_id, ux.x, uy.y,
                 3*t.doc_id + 5*ux.x + 7*uy.y AS base
          FROM d3 t,
               UNNEST(generate_series(0, t.w - 1)) AS ux(x),
               UNNEST(generate_series(0, t.h - 1)) AS uy(y)),
    m AS (SELECT doc_id,
            ROUND(AVG((base + 22) % 256), 6) AS mean_r,
            ROUND(AVG((base + 11) % 256), 6) AS mean_g,
            ROUND(AVG(base % 256), 6) AS mean_b,
            CAST(SUM(CASE WHEN y = 0 THEN
                   base % 256 + (base + 11) % 256 + (base + 22) % 256
                 ELSE 0 END) AS BIGINT) AS top_row_sum,
            CAST(SUM(base % 256 + (base + 11) % 256 + (base + 22) % 256)
                 % 1000000000 AS BIGINT) AS byte_checksum
          FROM g GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
           CAST(CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
             AS top_down,
           CAST(CASE WHEN d.doc_id % 3 = 0
                THEN 7 + length(CAST(d.doc_id AS VARCHAR)) ELSE 0 END AS INT)
             AS id_len,
           m.mean_r, m.mean_g, m.mean_b, m.top_row_sum, m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """,
)
def tga_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Targa (TGA) decode, oracle-checked — the third structurally
    distinct image container after PNM and BMP: a variable-length
    image-ID field the decoder must SKIP, and a PER-FILE row origin
    (descriptor bit 5 — top-down for even ids, bottom-up for odd), with
    unpadded BGR pixels. The flip-sensitive top-row sum fails any decoder
    that assumes one orientation; the oracle recomputes every feature
    from the generative formula over an (x, y) grid — it never touches
    bytes."""
    return _media_stats(spark, sf_dir, "tga", "decode_tga")


@query(
    "png_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
                FROM documents WHERE doc_id < 300),
    g AS (SELECT t.doc_id, ux.x, uy.y,
                 3*t.doc_id + 5*ux.x + 7*uy.y AS base
          FROM d3 t,
               UNNEST(generate_series(0, t.w - 1)) AS ux(x),
               UNNEST(generate_series(0, t.h - 1)) AS uy(y)),
    m AS (SELECT doc_id,
            ROUND(AVG(base % 256), 6) AS mean_r,
            ROUND(AVG((base + 11) % 256), 6) AS mean_g,
            ROUND(AVG((base + 22) % 256), 6) AS mean_b,
            CAST(SUM(CASE WHEN y = 0 THEN
                   base % 256 + (base + 11) % 256 + (base + 22) % 256
                 ELSE 0 END) AS BIGINT) AS top_row_sum,
            CAST(SUM(base % 256 + (base + 11) % 256 + (base + 22) % 256)
                 % 1000000000 AS BIGINT) AS byte_checksum
          FROM g GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
           m.mean_r, m.mean_g, m.mean_b, m.top_row_sum, m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """,
)
def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, oracle-checked — the first COMPRESSED image codec
    decoded byte-for-byte (zlib is stdlib): chunk walk with CRC32
    verification, multi-IDAT reassembly, inflate, and the full reverse
    scanline-filter pass. Each synthesized row is filtered with type
    (doc_id+row) % 5, so all five reverse filters
    (None/Sub/Up/Average/Paeth) are exercised — faking any one cannot
    reproduce the closed-form means the oracle computes from the
    generative formula without touching bytes. n_idat is excluded here
    (chunk split depends on deflate output length, not SQL-expressible)
    and pinned by unit test."""
    return _media_stats(spark, sf_dir, "png", "decode_png").drop("n_idat")


def _l2sq_sql(a: str, b: str) -> str:
    return _FOLD_SUM.format(
        expr=f"list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i]))"
    )


_PQ_ADC_ORACLE = f"""
    WITH ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    subs AS (SELECT UNNEST(generate_series(0, 3)) AS sub_id),
    cb AS (SELECT s.sub_id, e.vec_id AS code,
                  e.v[s.sub_id*16+1 : s.sub_id*16+16] AS cvec
           FROM ev e CROSS JOIN subs s WHERE e.vec_id < 16),
    slc AS (SELECT e.vec_id, s.sub_id,
                   e.v[s.sub_id*16+1 : s.sub_id*16+16] AS svec
            FROM ev e CROSS JOIN subs s),
    enc0 AS (SELECT sl.vec_id, sl.sub_id, cb.code,
                    ROUND({_l2sq_sql('sl.svec', 'cb.cvec')}, 8) AS d
             FROM slc sl JOIN cb ON cb.sub_id = sl.sub_id),
    enc AS (SELECT vec_id, sub_id, code FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                          ORDER BY d ASC, code ASC) AS rn FROM enc0) t
            WHERE rn = 1),
    pt AS (SELECT vec_id AS probe_id, sub_id, code, d
           FROM enc0 WHERE vec_id < 8),
    ad AS (SELECT pt.probe_id, enc.vec_id,
                  CAST(SUM(CAST(pt.d AS DECIMAL(28,8))) AS DOUBLE) AS dd
           FROM enc JOIN pt ON pt.sub_id = enc.sub_id
                           AND pt.code = enc.code
           GROUP BY 1, 2)
    SELECT probe_id, vec_id, ROUND(dd, 6) AS adist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                  ORDER BY dd ASC, vec_id ASC) AS INT) AS rank
      FROM ad) t
    WHERE rank <= 5
    """


@query("pq_adc_topk", oracle=_PQ_ADC_ORACLE)
def pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the memory-bound half of the FAISS
    recipe, complementing the IVF query): corpus vectors compressed to
    m=4 subspace codes against a deterministic 16-centroid codebook per
    subspace, 8 probes scored by asymmetric distance (per-probe lookup
    tables, broadcast equi-join on (sub, code), exact-DECIMAL partial
    sum), top-5 smallest. At 100 TB the candidate scan ships m bytes
    per vector — embeddings never ride the distance shuffle."""
    from cses2humio_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return pq_adc_topk(emb, probes, m=4, k_codes=16, dim=64, k=5)


@query(
    "sq8_cosine_topk",
    oracle=f"""
    WITH ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    s AS (SELECT vec_id, v,
            list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM ev),
    q AS (SELECT vec_id,
            CASE WHEN scale = 0
                 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
                 ELSE list_transform(v, x ->
                        CAST(CAST(round(x / scale, 0) AS INT) AS DOUBLE))
            END AS qv
          FROM s),
    p AS (SELECT vec_id AS probe_id, v AS pv FROM ev WHERE vec_id < 8),
    scored AS (SELECT p.probe_id, q.vec_id,
                 ROUND({_cos_sql('q.qv', 'p.pv')}, 6) AS cos_sim
               FROM q CROSS JOIN p)
    SELECT probe_id, vec_id, cos_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                  ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank
      FROM scored) t
    WHERE rank <= 5
    """,
)
def sq8_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) brute-force cosine top-k — the simplest
    compressed-scan ANN tier below PQ: the corpus rides as int8 codes
    (4x byte cut vs float32; symmetric per-vector scale), and because
    cosine is INVARIANT to the symmetric scale, scoring needs no
    dequantization at all — the fold runs over the integer codes
    directly against the float probes. Approximation error comes only
    from code rounding (recall vs exact float cosine pinned in
    tests/test_approx.py). Oracle replays quantization + fold exactly
    (SQL ROUND half-away, left-to-right double fold)."""
    from cses2humio_spark.functions.vectors import (
        as_double,
        cosine_similarity,
        quantize_int8,
    )
    from cses2humio_spark.operators.similarity import topk_per_probe
    from cses2humio_spark.sources.catalog import fan_out

    emb = load_table(spark, sf_dir, "embeddings")
    _scale, qv = quantize_int8(F.col("embedding"))
    qtab = emb.select("vec_id", qv.alias("qv"))
    p = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"),
        as_double(F.col("embedding")).alias("__pvec"),
    )
    scored = fan_out(qtab).join(F.broadcast(p)).select(
        "probe_id",
        "vec_id",
        F.round(
            cosine_similarity(F.col("qv"), F.col("__pvec")), 6
        ).alias("cos_sim"),
    )
    return topk_per_probe(scored, 5, "cos_sim")


_STANDING_INDEXES: dict[tuple, object] = {}


def _standing_index(kind, spark, sf_dir, table, factory, corpus, **build_args):
    """Build-once per (process, ``kind``, corpus fingerprint): the index
    is a standing artifact, built into a process-lifetime temp dir on
    first use, so every later query touches only its persisted segments
    — the production build/search split a fused query cannot show.
    ``corpus(spark, sf_dir)`` is the frame indexed and
    ``factory(index_dir, corpus)`` opens the index over it. Keyed on
    ``table``'s (mtime, size), not just the path, so an in-process
    testdata regeneration rebuilds instead of serving a stale index."""
    import atexit
    import shutil
    import tempfile

    try:
        st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
        key = (kind, sf_dir, int(st.st_mtime_ns), st.st_size)
    except OSError:
        key = (kind, sf_dir, 0, 0)
    if key not in _STANDING_INDEXES:
        d = tempfile.mkdtemp(prefix=f"{kind}_index_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        docs = corpus(spark, sf_dir)
        idx = factory(d, docs)
        idx.build(docs, **build_args)
        _STANDING_INDEXES[key] = idx
    return _STANDING_INDEXES[key]


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _pq_index_for(spark: SparkSession, sf_dir: str):
    from cses2humio_spark.operators.ann_index import PQIndex

    return _standing_index(
        "pq", spark, sf_dir, "embeddings",
        lambda d, _c: PQIndex(d, m=4, k_codes=16, dim=64), _embeddings,
    )


@query("pq_index_search", oracle=_PQ_ADC_ORACLE)
def pq_index_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search against the PERSISTED PQ index (operators/ann_index.py —
    the build-once/search-many production shape; VERDICT r5 #1): the
    codes + codebook live as a versioned on-disk table (built once per
    process, off this query's plan), and the search plan contains NO
    encode stage — its only large input is the m-small-ints-per-vector
    codes scan. Oracle-paired with the IDENTICAL SQL as the fused
    ``pq_adc_topk``: index search must return exactly the fused query's
    rows, which is the correctness contract of the split."""
    idx = _pq_index_for(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return idx.search(spark, probes, k=5)


_PQ_REFINE_ORACLE = f"""
    WITH ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    subs AS (SELECT UNNEST(generate_series(0, 3)) AS sub_id),
    cb AS (SELECT s.sub_id, e.vec_id AS code,
                  e.v[s.sub_id*16+1 : s.sub_id*16+16] AS cvec
           FROM ev e CROSS JOIN subs s WHERE e.vec_id < 16),
    slc AS (SELECT e.vec_id, s.sub_id,
                   e.v[s.sub_id*16+1 : s.sub_id*16+16] AS svec
            FROM ev e CROSS JOIN subs s),
    enc0 AS (SELECT sl.vec_id, sl.sub_id, cb.code,
                    ROUND({_l2sq_sql('sl.svec', 'cb.cvec')}, 8) AS d
             FROM slc sl JOIN cb ON cb.sub_id = sl.sub_id),
    enc AS (SELECT vec_id, sub_id, code FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                          ORDER BY d ASC, code ASC) AS rn FROM enc0) t
            WHERE rn = 1),
    pt AS (SELECT vec_id AS probe_id, sub_id, code, d
           FROM enc0 WHERE vec_id < 8),
    ad AS (SELECT pt.probe_id, enc.vec_id,
                  CAST(SUM(CAST(pt.d AS DECIMAL(28,8))) AS DOUBLE) AS dd
           FROM enc JOIN pt ON pt.sub_id = enc.sub_id
                           AND pt.code = enc.code
           GROUP BY 1, 2),
    adk AS (SELECT probe_id, vec_id FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                          ORDER BY dd ASC, vec_id ASC) AS r FROM ad) t
            WHERE r <= 20),
    ex AS (SELECT a.probe_id, a.vec_id,
                  ROUND({_l2sq_sql('pv.v', 'cv.v')}, 6) AS edist
           FROM adk a JOIN ev pv ON pv.vec_id = a.probe_id
                      JOIN ev cv ON cv.vec_id = a.vec_id)
    SELECT probe_id, vec_id, edist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                  ORDER BY edist ASC, vec_id ASC) AS INT) AS rank
      FROM ex) t
    WHERE rank <= 5
    """


@query("pq_index_refined_search", oracle=_PQ_REFINE_ORACLE)
def pq_index_refined_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index search WITH exact re-rank refinement (VERDICT r6 #3 — the
    FAISS IndexRefineFlat recipe): ADC ranks the persisted codes to a
    top-20 candidate frame per probe, then ONE broadcast equi-join
    fetches just those vectors back from the corpus and re-scores them
    with exact squared L2, keeping the true top-5. Recall at fixed
    search cost rises (pinned on the clustered fixture in
    tests/test_ann_index.py); the corpus-side price is a P*20-row
    candidate fetch, never a second scan. Fully deterministic, so the
    oracle replays encode -> ADC top-20 -> exact re-rank end to end."""
    idx = _pq_index_for(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return idx.search(spark, probes, k=5, refine=20, refine_from=emb)


_SUB_DIFF = "list_transform(generate_series(1, 64), i -> {a}[i] - {b}[i])"


_IVFPQ_ORACLE = f"""
    WITH ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 16),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM ev WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM ev e CROSS JOIN cent c) t WHERE rn = 1),
    resid AS (
      SELECT e.vec_id, a.cid, {_SUB_DIFF.format(a='e.v', b='c.cv')} AS rv
      FROM ev e JOIN assign a ON a.vec_id = e.vec_id
                JOIN cent c ON c.cid = a.cid),
    subs AS (SELECT UNNEST(generate_series(0, 3)) AS sub_id),
    cb AS (SELECT s.sub_id, r.vec_id AS code,
                  r.rv[s.sub_id*16+1 : s.sub_id*16+16] AS cvec
           FROM resid r CROSS JOIN subs s WHERE r.vec_id < 16),
    slc AS (SELECT r.vec_id, s.sub_id,
                   r.rv[s.sub_id*16+1 : s.sub_id*16+16] AS svec
            FROM resid r CROSS JOIN subs s),
    enc AS (SELECT vec_id, sub_id, code FROM (
              SELECT sl.vec_id, sl.sub_id, cb.code,
                     ROW_NUMBER() OVER (PARTITION BY sl.vec_id, sl.sub_id
                       ORDER BY ROUND({_l2sq_sql('sl.svec', 'cb.cvec')}, 8)
                                ASC, cb.code ASC) AS rn
              FROM slc sl JOIN cb ON cb.sub_id = sl.sub_id) t
            WHERE rn = 1),
    plist AS (
      SELECT probe_id, cid, pv FROM (
        SELECT p.probe_id, c.cid, p.pv,
               ROW_NUMBER() OVER (PARTITION BY p.probe_id
                                  ORDER BY {_cos_sql('p.pv', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM probes p CROSS JOIN cent c) t WHERE rn <= 2),
    presid AS (
      SELECT pl.probe_id, pl.cid,
             {_SUB_DIFF.format(a='pl.pv', b='c.cv')} AS prv
      FROM plist pl JOIN cent c ON c.cid = pl.cid),
    tbl AS (SELECT pr.probe_id, pr.cid, s.sub_id, cb.code,
                   ROUND({_l2sq_sql("pr.prv[s.sub_id*16+1 : s.sub_id*16+16]", 'cb.cvec')}, 8) AS d
            FROM presid pr CROSS JOIN subs s
            JOIN cb ON cb.sub_id = s.sub_id),
    cand AS (SELECT pl.probe_id, pl.cid, a.vec_id
             FROM plist pl JOIN assign a ON a.cid = pl.cid),
    ad AS (SELECT ca.probe_id, ca.vec_id,
                  CAST(SUM(CAST(t.d AS DECIMAL(28,8))) AS DOUBLE) AS dd,
                  COUNT(*) AS nm
           FROM cand ca
           JOIN enc e ON e.vec_id = ca.vec_id
           JOIN tbl t ON t.probe_id = ca.probe_id AND t.cid = ca.cid
                     AND t.sub_id = e.sub_id AND t.code = e.code
           GROUP BY 1, 2)
    SELECT probe_id, vec_id, ROUND(dd, 6) AS adist, rank FROM (
      SELECT probe_id, vec_id, dd,
             CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY dd ASC, vec_id ASC) AS INT) AS rank
      FROM ad WHERE nm = 4) t
    WHERE rank <= 5
    """


@query("ivfpq_topk", oracle=_IVFPQ_ORACLE)
def ivfpq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the full FAISS recipe oracle-checked end to end: coarse
    cells prune candidates (nprobe=2 of 16), residual-encoded PQ (m=4,
    16 codes) scores them via per-(probe, cell) ADC tables, exact-
    DECIMAL partial sums, top-5 smallest. Residual encoding is the
    classic formulation — codes describe what the cell centroid didn't
    explain — and everything (coarse assign, residuals, codebooks,
    tables, ranking) replays identically in the DuckDB twin."""
    from cses2humio_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return ivfpq_topk(
        emb, probes, cent, m=4, k_codes=16, dim=64, k=5, nprobe=2
    )


@query("ivfpq_index_search", oracle=_IVFPQ_ORACLE)
def ivfpq_index_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search against the PERSISTED IVF-PQ index — the production twin
    of the fused ``ivfpq_topk`` (same oracle SQL: identical results is
    the split's correctness contract). The stored codes carry their
    coarse-cell id and the segments are PARTITIONED by it, so the
    nprobe prune is one equi-join against cell-pruned files; the search
    plan has no assignment or encode stage."""
    from cses2humio_spark.operators.ann_index import PQIndex

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _standing_index(
        "ivfpq", spark, sf_dir, "embeddings",
        lambda d, _c: PQIndex(d, m=4, k_codes=16, dim=64, mode="ivfpq"),
        _embeddings,
        centroids=emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cid"), "embedding"
        ),
    )
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return idx.search(spark, probes, k=5, nprobe=2)


@query(
    "gif_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
                FROM documents WHERE doc_id < 300),
    g AS (SELECT t.doc_id, ux.x, uy.y,
                 (3*t.doc_id + 5*ux.x + 7*uy.y) % 256 AS idx
          FROM d3 t,
               UNNEST(generate_series(0, t.w - 1)) AS ux(x),
               UNNEST(generate_series(0, t.h - 1)) AS uy(y)),
    m AS (SELECT doc_id,
            ROUND(AVG(idx), 6) AS mean_r,
            ROUND(AVG((idx + 11) % 256), 6) AS mean_g,
            ROUND(AVG((idx + 22) % 256), 6) AS mean_b,
            CAST(SUM(CASE WHEN y = 0 THEN
                   idx + (idx + 11) % 256 + (idx + 22) % 256
                 ELSE 0 END) AS BIGINT) AS top_row_sum,
            CAST(SUM(idx + (idx + 11) % 256 + (idx + 22) % 256)
                 % 1000000000 AS BIGINT) AS byte_checksum
          FROM g GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
           m.mean_r, m.mean_g, m.mean_b, m.top_row_sum, m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """,
)
def gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode, oracle-checked — the second compressed codec
    decoded byte-for-byte (LZW with variable 9..12-bit codes, LSB-first
    bit unpacking, dictionary growth, CLEAR resets and the KwKwK case —
    a wholly different compression family from PNG's zlib): palette
    lookup then the multimodal family's standard stats, with the oracle
    computing everything from the generative index formula without
    touching bytes. n_subblocks (the 255-byte sub-block framing) is
    excluded here — it depends on the LZW output length — and pinned by
    unit test."""
    return _media_stats(spark, sf_dir, "gif", "decode_gif").drop("n_subblocks")


@query(
    "pcx_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
                FROM documents WHERE doc_id < 300),
    g AS (SELECT t.doc_id, ux.x, uy.y,
                 CASE WHEN uy.y % 3 = 2
                      THEN (3*t.doc_id + 7*uy.y) % 256
                      ELSE (3*t.doc_id + 5*ux.x + 7*uy.y) % 256
                 END AS idx
          FROM d3 t,
               UNNEST(generate_series(0, t.w - 1)) AS ux(x),
               UNNEST(generate_series(0, t.h - 1)) AS uy(y)),
    m AS (SELECT doc_id,
            ROUND(AVG(idx), 6) AS mean_r,
            ROUND(AVG((idx + 11) % 256), 6) AS mean_g,
            ROUND(AVG((idx + 22) % 256), 6) AS mean_b,
            CAST(SUM(CASE WHEN y = 0 THEN
                   idx + (idx + 11) % 256 + (idx + 22) % 256
                 ELSE 0 END) AS BIGINT) AS top_row_sum,
            CAST(SUM(idx + (idx + 11) % 256 + (idx + 22) % 256)
                 % 1000000000 AS BIGINT) AS byte_checksum
          FROM g GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
           m.mean_r, m.mean_g, m.mean_b, m.top_row_sum, m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """,
)
def pcx_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCX decode, oracle-checked — the THIRD compression family
    decoded byte-for-byte (RLE with the 0xC0 escape rule, alongside
    PNG's zlib and GIF's LZW): even-stride scanline expansion, padding
    strip, trailing VGA-palette lookup. Every third synthesized row is
    constant so genuine multi-byte runs are exercised (the measured RLE
    ratio is emitted but excluded here — encoded length is not
    SQL-expressible — and pinned by unit test); the oracle computes all
    stats from the generative formula, including the constant-row
    branch, without touching bytes."""
    return _media_stats(spark, sf_dir, "pcx", "decode_pcx").drop("rle_ratio")


@query(
    "tiff_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 5 AS h,
                       CAST(CEIL((4 + doc_id % 5) / 2.0) AS INT) AS n_strips
                FROM documents WHERE doc_id < 300),
    g AS (SELECT t.doc_id, ux.x, uy.y,
                 3*t.doc_id + 5*ux.x + 7*uy.y AS base
          FROM d3 t,
               UNNEST(generate_series(0, t.w - 1)) AS ux(x),
               UNNEST(generate_series(0, t.h - 1)) AS uy(y)),
    m AS (SELECT doc_id,
            ROUND(AVG(base % 256), 6) AS mean_r,
            ROUND(AVG((base + 11) % 256), 6) AS mean_g,
            ROUND(AVG((base + 22) % 256), 6) AS mean_b,
            CAST(SUM(CASE WHEN y = 0 THEN
                   base % 256 + (base + 11) % 256 + (base + 22) % 256
                 ELSE 0 END) AS BIGINT) AS top_row_sum,
            CAST(SUM(base % 256 + (base + 11) % 256 + (base + 22) % 256)
                 % 1000000000 AS BIGINT) AS byte_checksum
          FROM g GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
           d.n_strips, m.mean_r, m.mean_g, m.mean_b, m.top_row_sum,
           m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """,
)
def tiff_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF decode, oracle-checked: the IFD tag walk with
    the format's inline-vs-offset value rule (SHORT/LONG values whose
    byte size fits 4 bytes live inside the entry; larger arrays —
    BitsPerSample, the per-strip offset/count tables — behind offsets)
    plus multi-strip reassembly (RowsPerStrip=2, so strip count is
    ceil(h/2) and IS oracle-checkable, unlike the compression-dependent
    framing of the PNG/GIF twins). The oracle recomputes everything,
    including the strip count, from the closed form."""
    return _media_stats(spark, sf_dir, "tiff", "decode_tiff")


@query(
    "qoi_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
                FROM documents WHERE doc_id < 300),
    g AS (SELECT t.doc_id, ux.x, uy.y,
                 (3*t.doc_id
                  + 5*(CASE WHEN uy.y % 4 = 3 THEN 0 ELSE ux.x END)
                  + 7*uy.y) % 256 AS base
          FROM d3 t,
               UNNEST(generate_series(0, t.w - 1)) AS ux(x),
               UNNEST(generate_series(0, t.h - 1)) AS uy(y)),
    m AS (SELECT doc_id,
            ROUND(AVG(base), 6) AS mean_r,
            ROUND(AVG((base + 11) % 256), 6) AS mean_g,
            ROUND(AVG((base + 22) % 256), 6) AS mean_b,
            CAST(SUM(CASE WHEN y = 0 THEN
                   base + (base + 11) % 256 + (base + 22) % 256
                 ELSE 0 END) AS BIGINT) AS top_row_sum,
            CAST(SUM(base + (base + 11) % 256 + (base + 22) % 256)
                 % 1000000000 AS BIGINT) AS byte_checksum
          FROM g GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
           m.mean_r, m.mean_g, m.mean_b, m.top_row_sum, m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """,
)
def qoi_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL QOI decode, oracle-checked — the FOURTH compression family
    (the 2021 public spec's op-stream: RUN with its 62 cap, the running
    64-slot hashed color INDEX, 2-bit DIFF, LUMA green-delta, literal
    RGB; alongside zlib, LZW and RLE): the synthesizer is a real QOI
    encoder, the formula's +5/+7 steps emit LUMA ops, every fourth row
    is constant (RUN) and revisited colors hit the INDEX. The measured
    compression ratio is excluded (encoded length is not
    SQL-expressible; unit-pinned); the oracle computes all stats,
    including the constant-row branch, from the closed form."""
    return _media_stats(spark, sf_dir, "qoi", "decode_qoi").drop("qoi_ratio")


_JPEG_GRAY_ORACLE = """
    WITH d3 AS (SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh
                FROM documents WHERE doc_id < 300),
    g AS (SELECT t.doc_id, ux.bx, uy.by,
                 (3*t.doc_id + 17*ux.bx + 29*uy.by) % 256 AS v
          FROM d3 t,
               UNNEST(generate_series(0, t.bw - 1)) AS ux(bx),
               UNNEST(generate_series(0, t.bh - 1)) AS uy(by)),
    m AS (SELECT doc_id, ROUND(AVG(v), 6) AS mean_px,
            CAST(8 * SUM(CASE WHEN by = 0 THEN v ELSE 0 END) AS BIGINT)
              AS top_row_sum,
            CAST(64 * SUM(v) % 1000000000 AS BIGINT) AS byte_checksum
          FROM g GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.bw * 8 AS INT) AS width,
           CAST(d.bh * 8 AS INT) AS height,
           CAST(d.bw * d.bh AS INT) AS n_blocks,
           m.mean_px, m.top_row_sum, m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """


@query("jpeg_decode_stats", oracle=_JPEG_GRAY_ORACLE)
def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode, oracle-checked — the FIFTH compression
    family (Annex-K canonical Huffman + run/size AC coding + DCT,
    alongside zlib, LZW, RLE and QOI): the synthesizer is a real JFIF
    encoder and the decoder entropy-decodes, dequantizes, inverse-DCTs,
    level-shifts and clamps. The lossy codec is EXACT here by construction
    — the images are piecewise-constant per 8x8 block, so every block is
    DC-only under the all-ones quant table and the IDCT returns the
    constant bit-for-bit — which is what lets a closed-form SQL oracle
    state the decoded stats; DC prediction chains across blocks with
    varying values, and nonzero-AC blocks (no closed form) are pinned by
    the coefficient-roundtrip unit tests against an independent direct
    IDCT."""
    return _media_stats(spark, sf_dir, "jpeg", "decode_jpeg")


@query("jpeg_sa_decode_stats", oracle=_JPEG_GRAY_ORACLE)
def jpeg_sa_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUCCESSIVE-APPROXIMATION progressive JPEG decode, oracle-checked
    with the IDENTICAL SQL as the sequential and spectral-progressive
    twins: four scans (DC and AC at Al=1, then one-bit refinements)
    through the jcphuff coding discipline — zero-history runs, buffered
    correction bits, EOBn-attached corrections. With this the JPEG
    family covers every coding mode of baseline+progressive Huffman
    JPEG."""
    return _media_stats(spark, sf_dir, "jpeg_sa", "decode_jpeg")


@query("jpeg_progressive_decode_stats", oracle=_JPEG_GRAY_ORACLE)
def jpeg_progressive_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG decode (SOF2, spectral selection), oracle-
    checked with the IDENTICAL SQL as the sequential twin — the
    containers differ (multi-scan coefficient accumulation, per-scan
    bit streams, cross-block EOBn runs, a custom flat Huffman table for
    the AC scan exactly as real progressive encoders ship) but the
    decoded image must not. Successive approximation (Ah/Al != 0)
    remains the honest refusal."""
    return _media_stats(spark, sf_dir, "jpeg_progressive", "decode_jpeg")


@query(
    "jpeg_color_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 1 + doc_id % 2 AS bw, 1 + doc_id % 3 AS bh,
                       CAST((5 * doc_id) % 256 - 128 AS DOUBLE) AS cb,
                       CAST((11 * doc_id) % 256 - 128 AS DOUBLE) AS cr
                FROM documents WHERE doc_id < 300),
    g AS (SELECT t.doc_id, t.cb, t.cr, uy.by,
                 CAST((7*t.doc_id + 13*ux.bx + 19*uy.by) % 256 AS DOUBLE) AS y
          FROM d3 t,
               UNNEST(generate_series(0, t.bw - 1)) AS ux(bx),
               UNNEST(generate_series(0, t.bh - 1)) AS uy(by)),
    px AS (SELECT doc_id, by,
             LEAST(255, GREATEST(0, FLOOR(y + 1.402 * cr + 0.5))) AS r,
             LEAST(255, GREATEST(0,
               FLOOR(y - 0.344136 * cb - 0.714136 * cr + 0.5))) AS gg,
             LEAST(255, GREATEST(0, FLOOR(y + 1.772 * cb + 0.5))) AS b
           FROM g),
    m AS (SELECT doc_id,
            ROUND(AVG(r), 6) AS mean_r,
            ROUND(AVG(gg), 6) AS mean_g,
            ROUND(AVG(b), 6) AS mean_b,
            CAST(8 * SUM(CASE WHEN by = 0 THEN r + gg + b ELSE 0 END)
                 AS BIGINT) AS top_row_sum,
            CAST(64 * SUM(r + gg + b) % 1000000000 AS BIGINT)
              AS byte_checksum
          FROM px GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.bw * 8 AS INT) AS width,
           CAST(d.bh * 8 AS INT) AS height,
           CAST(d.bw * d.bh AS INT) AS n_mcus,
           m.mean_r, m.mean_g, m.mean_b, m.top_row_sum, m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """,
)
def jpeg_color_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline COLOR JPEG decode, oracle-checked — 4:4:4 YCbCr
    with interleaved three-component MCUs, separate luminance/
    chrominance quant + Annex-K Huffman table pairs, per-component DC
    prediction, and the T.871 YCbCr->RGB conversion with half-up
    rounding and out-of-gamut clamping (chroma values span the full
    range, so clamping genuinely fires). DC-only blocks under all-ones
    tables keep the lossy codec exact, so the oracle states the decoded
    RGB — including the conversion arithmetic, in the decoder's exact
    IEEE expression order — in closed form."""
    return _media_stats(spark, sf_dir, "jpeg_color", "decode_jpeg_color")


@query(
    "jpeg_420_decode_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 16 * (1 + doc_id % 2) AS w,
                       CAST((7 * doc_id) % 256 - 128 AS DOUBLE) AS cb,
                       CAST((13 * doc_id) % 256 - 128 AS DOUBLE) AS cr
                FROM documents WHERE doc_id < 300),
    g AS (SELECT t.doc_id, t.cb, t.cr, uy.by,
                 CAST((11*t.doc_id + 23*ux.bx + 31*uy.by) % 256 AS DOUBLE)
                   AS y
          FROM d3 t,
               UNNEST(generate_series(0, t.w // 8 - 1)) AS ux(bx),
               UNNEST(generate_series(0, 1)) AS uy(by)),
    px AS (SELECT doc_id, by,
             LEAST(255, GREATEST(0, FLOOR(y + 1.402 * cr + 0.5))) AS r,
             LEAST(255, GREATEST(0,
               FLOOR(y - 0.344136 * cb - 0.714136 * cr + 0.5))) AS gg,
             LEAST(255, GREATEST(0, FLOOR(y + 1.772 * cb + 0.5))) AS b
           FROM g),
    m AS (SELECT doc_id,
            ROUND(AVG(r), 6) AS mean_r,
            ROUND(AVG(gg), 6) AS mean_g,
            ROUND(AVG(b), 6) AS mean_b,
            CAST(8 * SUM(CASE WHEN by = 0 THEN r + gg + b ELSE 0 END)
                 AS BIGINT) AS top_row_sum,
            CAST(64 * SUM(r + gg + b) % 1000000000 AS BIGINT)
              AS byte_checksum
          FROM px GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(d.w / 16 AS INT) AS n_mcus,
           m.mean_r, m.mean_g, m.mean_b, m.top_row_sum, m.byte_checksum
    FROM d3 d JOIN m ON m.doc_id = d.doc_id
    """,
)
def jpeg_420_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 4:2:0 chroma-subsampled JPEG decode, oracle-checked — the
    multi-block MCU layout (four Y blocks + one Cb + one Cr per 16x16
    MCU, the layout virtually every camera JPEG uses), quarter-
    resolution chroma planes, and nearest-neighbor upsampling. Y varies
    per 8x8 block so the four-blocks-per-MCU interleave order is load-
    bearing (a decoder that walks Y blocks in the wrong order scrambles
    top_row_sum); chroma is constant per doc, so the upsampling filter
    choice cannot leak into the closed-form oracle."""
    return _media_stats(spark, sf_dir, "jpeg_420", "decode_jpeg_color")


@query(
    "mjpeg_avi_frame_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh,
                       3 + doc_id % 4 AS n_frames
                FROM documents WHERE doc_id < 200),
    fr AS (SELECT t.doc_id, t.bw, t.bh, t.n_frames, u.f
           FROM d3 t, UNNEST(generate_series(0, t.n_frames - 1)) AS u(f)
           WHERE u.f % 2 = 0),
    g AS (SELECT fr.doc_id, fr.f, fr.bw, fr.bh, fr.n_frames, uy.by,
                 (3*fr.doc_id + 17*ux.bx + 29*uy.by + 41*fr.f) % 256 AS v
          FROM fr,
               UNNEST(generate_series(0, fr.bw - 1)) AS ux(bx),
               UNNEST(generate_series(0, fr.bh - 1)) AS uy(by))
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(n_frames AS INT) AS n_frames,
           CAST(bw * 8 AS INT) AS width, CAST(bh * 8 AS INT) AS height,
           ROUND(AVG(v), 6) AS mean_px,
           CAST(8 * SUM(CASE WHEN by = 0 THEN v ELSE 0 END) AS BIGINT)
             AS top_row_sum
    FROM g GROUP BY doc_id, f, bw, bh, n_frames
    """,
)
def mjpeg_avi_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Motion-JPEG video decode, oracle-checked: a RIFF/AVI container
    (header tree, movi chunk list, idx1 index — all validated and
    cross-checked by the walker) whose '00dc' chunks are complete baseline
    JPEGs from the Annex-K encoder; every 2nd frame is entropy-decoded,
    inverse-DCT'd and reduced to per-frame grayscale stats. Frames are
    piecewise-constant per 8x8 block so the lossy codec is exact and the
    oracle can state every sampled frame's mean/top-row from the synthesis
    formula. Inter-frame codecs (H.264, VP9) are not implemented."""
    return _media_stats(
        spark, sf_dir, "avi_mjpeg", "decode_avi_mjpeg", id_cut=200, every_k=2
    )


def _minhash_index_for(spark: SparkSession, sf_dir: str):
    from cses2humio_spark.operators.dedup_index import MinHashIndex

    return _standing_index(
        "minhash", spark, sf_dir, "documents",
        lambda d, _c: MinHashIndex(d, n=3, bands=4, rows_per_band=2),
        _documents,
    )


@query(
    "minhash_index_candidates",
    oracle=f"""
    WITH {_SIG_CTE},
    probe AS (SELECT doc_id, band, sig FROM sig WHERE doc_id % 5 = 3)
    SELECT DISTINCT p.doc_id AS probe_id, s.doc_id AS index_id
    FROM probe p JOIN sig s ON s.band = p.band AND s.sig = p.sig
    WHERE p.doc_id != s.doc_id
    """,
)
def minhash_index_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates for an incoming batch against the PERSISTED
    MinHash index (``operators/dedup_index.MinHashIndex`` — the
    build-once/probe-many production shape of crawl dedup): the standing
    corpus's banded signatures live as a versioned on-disk table (built
    once per process, off this query's plan); the probe batch is signed
    by a rowwise projection (no aggregation or key shuffle; fan_out may
    round-robin a single-split local input) and candidates come from ONE
    (band, sig) equi-join — NEITHER side's text rides a shuffle, and the
    corpus text is not read at all. The oracle recomputes both sides'
    signatures from scratch in SQL, which is the correctness contract of
    the split: the index path must return exactly the fused
    computation's pairs."""
    idx = _minhash_index_for(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 5 == 3)
    return idx.query_candidates(probes)


def _minhash_admission_index_for(spark: SparkSession, sf_dir: str):
    """The standing corpus of ``crawl_admission_decisions``: the
    documents outside the admission batch (doc_id % 5 != 3)."""
    from cses2humio_spark.operators.dedup_index import MinHashIndex

    return _standing_index(
        "minhash_admit", spark, sf_dir, "documents",
        lambda d, _c: MinHashIndex(d, n=3, bands=4, rows_per_band=2),
        lambda sp, sf: _documents(sp, sf).filter(F.col("doc_id") % 5 != 3),
    )


@query(
    "crawl_admission_decisions",
    oracle=f"""
    WITH RECURSIVE {_SIG_CTE},
    idx AS (SELECT DISTINCT doc_id FROM sig WHERE doc_id % 5 != 3),
    batch AS (SELECT doc_id FROM documents
              WHERE doc_id % 5 = 3 OR doc_id % 10 = 0),
    fresh AS (SELECT doc_id FROM batch
              WHERE doc_id NOT IN (SELECT doc_id FROM idx)),
    psig AS (SELECT s.doc_id, s.band, s.sig
             FROM sig s JOIN fresh f ON f.doc_id = s.doc_id),
    isig AS (SELECT s.doc_id, s.band, s.sig
             FROM sig s JOIN idx i ON i.doc_id = s.doc_id),
    cpair AS (SELECT DISTINCT p.doc_id AS id_a, i.doc_id AS id_b
              FROM psig p JOIN isig i ON i.band = p.band AND i.sig = p.sig
              WHERE p.doc_id != i.doc_id),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY 1),
    cinter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
               FROM cpair c
               JOIN dsh a ON a.doc_id = c.id_a
               JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
               GROUP BY 1, 2),
    crej AS (SELECT i.id_a AS doc_id, MIN(i.id_b) AS cp
             FROM cinter i
             JOIN sizes sa ON sa.doc_id = i.id_a
             JOIN sizes sb ON sb.doc_id = i.id_b
             WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
                   >= 0.5
             GROUP BY 1),
    bpair AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM psig a JOIN psig b ON a.band = b.band AND a.sig = b.sig
                                     AND a.doc_id < b.doc_id),
    binter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
               FROM bpair c
               JOIN dsh a ON a.doc_id = c.id_a
               JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
               GROUP BY 1, 2),
    bjac AS (SELECT i.id_a, i.id_b
             FROM binter i
             JOIN sizes sa ON sa.doc_id = i.id_a
             JOIN sizes sb ON sb.doc_id = i.id_b
             WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
                   >= 0.5),
    bi AS (SELECT id_a AS src, id_b AS dst FROM bjac
           UNION ALL SELECT id_b, id_a FROM bjac),
    reach AS (SELECT doc_id AS id, doc_id AS label FROM fresh
              UNION
              SELECT b.src, r.label FROM reach r JOIN bi b ON b.dst = r.id),
    comp AS (SELECT id AS doc_id, MIN(label) AS rep FROM reach GROUP BY id)
    SELECT b.doc_id,
           CASE WHEN ix.doc_id IS NOT NULL THEN 'already_indexed'
                WHEN cr.cp IS NOT NULL THEN 'corpus_dup'
                WHEN co.rep <> b.doc_id THEN 'batch_dup'
                ELSE 'admitted' END AS reason,
           CAST(CASE WHEN ix.doc_id IS NOT NULL THEN b.doc_id
                     WHEN cr.cp IS NOT NULL THEN cr.cp
                     WHEN co.rep <> b.doc_id THEN co.rep
                     ELSE NULL END AS BIGINT) AS partner
    FROM batch b
    LEFT JOIN idx ix ON ix.doc_id = b.doc_id
    LEFT JOIN crej cr ON cr.doc_id = b.doc_id
    LEFT JOIN comp co ON co.doc_id = b.doc_id
    """,
)
def crawl_admission_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-admission DECISION loop, oracle-checked end to end
    (VERDICT r8 task #3): an incoming batch (every 5th document plus
    some re-crawled ids already live in the index) is decided against
    the PERSISTED MinHash index in one call —
    ``MinHashIndex.admit_batch`` returns (doc_id, reason, partner) with
    reasons already_indexed / corpus_dup (exact shingle Jaccard >= 0.5
    against a live indexed partner, min partner id) / batch_dup
    (non-representative member of a verified within-batch near-dup
    cluster; connected components, min-id representative) / admitted.
    The oracle recomputes the whole decision from scratch in SQL —
    signatures, candidate equi-joins on both sides, exact Jaccard
    verification, and the within-batch components via a recursive CTE —
    the split-correctness convention of ``minhash_index_candidates``.
    Scale shape: index and batch signatures meet in ONE (band, sig)
    equi-join; corpus text is read only for candidate partner ids."""
    idx = _minhash_admission_index_for(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 3)
    batch = docs.filter(
        (F.col("doc_id") % 5 == 3) | (F.col("doc_id") % 10 == 0)
    )
    return idx.admit_batch(batch, corpus, threshold=0.5)


@query(
    "decontaminating_admission_decisions",
    oracle=f"""
    WITH RECURSIVE {_SIG_CTE},
    t8 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g8 AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS g
           FROM t8, UNNEST(generate_series(1, len(toks) - 7)) AS u(i)
           WHERE len(toks) >= 8),
    ev8 AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 7 = 0),
    idx AS (SELECT DISTINCT doc_id FROM sig WHERE doc_id % 5 != 3),
    batch AS (SELECT doc_id FROM documents
              WHERE doc_id % 5 = 3 OR doc_id % 10 = 0),
    fresh AS (SELECT doc_id FROM batch
              WHERE doc_id NOT IN (SELECT doc_id FROM idx)),
    cst AS (SELECT tr.doc_id, COUNT(*) AS n_ngrams,
                   SUM(CASE WHEN ev8.g IS NOT NULL THEN 1 ELSE 0 END)
                     AS n_matched
            FROM (SELECT DISTINCT g8.doc_id, g8.g
                  FROM g8 JOIN fresh f ON f.doc_id = g8.doc_id) tr
            LEFT JOIN ev8 ON ev8.g = tr.g
            GROUP BY 1),
    cont AS (SELECT doc_id FROM cst
             WHERE n_matched / CAST(n_ngrams AS DOUBLE) >= 0.5),
    clean AS (SELECT doc_id FROM fresh
              WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
    psig AS (SELECT s.doc_id, s.band, s.sig
             FROM sig s JOIN clean f ON f.doc_id = s.doc_id),
    isig AS (SELECT s.doc_id, s.band, s.sig
             FROM sig s JOIN idx i ON i.doc_id = s.doc_id),
    cpair AS (SELECT DISTINCT p.doc_id AS id_a, i.doc_id AS id_b
              FROM psig p JOIN isig i ON i.band = p.band AND i.sig = p.sig
              WHERE p.doc_id != i.doc_id),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY 1),
    cinter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
               FROM cpair c
               JOIN dsh a ON a.doc_id = c.id_a
               JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
               GROUP BY 1, 2),
    crej AS (SELECT i.id_a AS doc_id, MIN(i.id_b) AS cp
             FROM cinter i
             JOIN sizes sa ON sa.doc_id = i.id_a
             JOIN sizes sb ON sb.doc_id = i.id_b
             WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
                   >= 0.5
             GROUP BY 1),
    bpair AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM psig a JOIN psig b ON a.band = b.band AND a.sig = b.sig
                                     AND a.doc_id < b.doc_id),
    binter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
               FROM bpair c
               JOIN dsh a ON a.doc_id = c.id_a
               JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
               GROUP BY 1, 2),
    bjac AS (SELECT i.id_a, i.id_b
             FROM binter i
             JOIN sizes sa ON sa.doc_id = i.id_a
             JOIN sizes sb ON sb.doc_id = i.id_b
             WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
                   >= 0.5),
    bi AS (SELECT id_a AS src, id_b AS dst FROM bjac
           UNION ALL SELECT id_b, id_a FROM bjac),
    reach AS (SELECT doc_id AS id, doc_id AS label FROM clean
              UNION
              SELECT b.src, r.label FROM reach r JOIN bi b ON b.dst = r.id),
    comp AS (SELECT id AS doc_id, MIN(label) AS rep FROM reach GROUP BY id)
    SELECT b.doc_id,
           CASE WHEN ix.doc_id IS NOT NULL THEN 'already_indexed'
                WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                WHEN cr.cp IS NOT NULL THEN 'corpus_dup'
                WHEN co.rep <> b.doc_id THEN 'batch_dup'
                ELSE 'admitted' END AS reason,
           CAST(CASE WHEN ix.doc_id IS NOT NULL THEN b.doc_id
                     WHEN ct.doc_id IS NOT NULL THEN NULL
                     WHEN cr.cp IS NOT NULL THEN cr.cp
                     WHEN co.rep <> b.doc_id THEN co.rep
                     ELSE NULL END AS BIGINT) AS partner
    FROM batch b
    LEFT JOIN idx ix ON ix.doc_id = b.doc_id
    LEFT JOIN cont ct ON ct.doc_id = b.doc_id
    LEFT JOIN crej cr ON cr.doc_id = b.doc_id
    LEFT JOIN comp co ON co.doc_id = b.doc_id
    """,
)
def decontaminating_admission_decisions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Admission + DECONTAMINATION in one decision pass (VERDICT r9 #6
    — the production crawl shape: the eval-suite leak filter and the
    dedup filter run inside the same batch decision). Same index,
    corpus slice and batch as ``crawl_admission_decisions``, plus every
    7th document playing the held-out eval suite: a fresh batch doc
    whose distinct 8-gram overlap with the eval set is >= 0.5 takes
    reason ``contaminated`` (partner NULL), is never signed, never
    verified, and never eligible as a within-batch cluster
    representative — decontamination FIRST, dedup on the survivors.
    The oracle recomputes the whole composed decision from scratch:
    signatures, the broadcast-fingerprint contamination stats, both
    candidate joins, exact Jaccard, and the within-batch components
    seeded from the DECONTAMINATED set only. Scale shape unchanged
    from admit_batch plus ONE broadcast join of eval fingerprints
    (eval suites are thousands of docs against a corpus of billions)."""
    idx = _minhash_admission_index_for(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 3)
    batch = docs.filter(
        (F.col("doc_id") % 5 == 3) | (F.col("doc_id") % 10 == 0)
    )
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    return idx.admit_batch(
        batch,
        corpus,
        threshold=0.5,
        eval_docs=eval_docs,
        contamination_threshold=0.5,
        eval_n=8,
    )


def _embedding_admission_index_for(spark: SparkSession, sf_dir: str):
    """The standing corpus of ``vector_admission_decisions`` (vec_id %
    5 != 3), geometry from ``auto_band_params`` of the corpus size."""
    from cses2humio_spark.operators.dedup_index import EmbeddingLshIndex
    from cses2humio_spark.operators.similarity import auto_band_params

    def factory(d, corpus):
        w, b = auto_band_params(corpus.count())
        return EmbeddingLshIndex(d, dim=64, n_planes=w, n_bands=b)

    return _standing_index(
        "emb_lsh", spark, sf_dir, "embeddings", factory,
        lambda sp, sf: _embeddings(sp, sf).filter(F.col("vec_id") % 5 != 3),
    )


@query(
    "vector_admission_decisions",
    oracle=f"""
    WITH RECURSIVE
    ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    prm AS (SELECT w, GREATEST(1, 60 // w) AS b FROM (
              SELECT LEAST(GREATEST(4,
                       CAST(CEIL(LOG2(GREATEST(COUNT(*) / 128.0, 2.0))) AS BIGINT)),
                     60) AS w
              FROM embeddings WHERE vec_id % 5 != 3) t),
    bplanes AS (SELECT pid, pv FROM (VALUES {_planes_values_sql(64, 60)}) AS t(pid, pv)),
    idx AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 != 3),
    batch AS (SELECT vec_id FROM embeddings
              WHERE vec_id % 5 = 3 OR vec_id % 10 = 0),
    fresh AS (SELECT vec_id FROM batch
              WHERE vec_id NOT IN (SELECT vec_id FROM idx)),
    bsigs AS (SELECT e.vec_id, pid // prm.w AS band,
                     CAST(SUM(CASE WHEN {_dot_sql('e.v', 'pv')} > 0
                                   THEN (CAST(1 AS BIGINT) << (pid % prm.w))
                                   ELSE 0 END) AS BIGINT) AS band_sig
              FROM ev e CROSS JOIN bplanes CROSS JOIN prm
              WHERE pid < prm.w * prm.b
              GROUP BY e.vec_id, pid // prm.w),
    psig AS (SELECT s.vec_id, s.band, s.band_sig
             FROM bsigs s JOIN fresh f ON f.vec_id = s.vec_id),
    isig AS (SELECT s.vec_id, s.band, s.band_sig
             FROM bsigs s JOIN idx i ON i.vec_id = s.vec_id),
    cpair AS (SELECT DISTINCT p.vec_id AS id_a, i.vec_id AS id_b
              FROM psig p JOIN isig i
                ON i.band = p.band AND i.band_sig = p.band_sig
              WHERE p.vec_id != i.vec_id),
    cver AS (SELECT c.id_a AS vec_id, MIN(c.id_b) AS cp
             FROM cpair c
             JOIN ev a ON a.vec_id = c.id_a
             JOIN ev b2 ON b2.vec_id = c.id_b
             WHERE {_cos_sql('a.v', 'b2.v')} >= 0.3
             GROUP BY 1),
    bpair AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM psig a JOIN psig b
                ON a.band = b.band AND a.band_sig = b.band_sig
                   AND a.vec_id < b.vec_id),
    bver AS (SELECT p.id_a, p.id_b
             FROM bpair p
             JOIN ev a ON a.vec_id = p.id_a
             JOIN ev b2 ON b2.vec_id = p.id_b
             WHERE {_cos_sql('a.v', 'b2.v')} >= 0.3),
    bi AS (SELECT id_a AS src, id_b AS dst FROM bver
           UNION ALL SELECT id_b, id_a FROM bver),
    reach AS (SELECT vec_id AS id, vec_id AS label FROM fresh
              UNION
              SELECT e2.src, r.label FROM reach r JOIN bi e2 ON e2.dst = r.id),
    comp AS (SELECT id AS vec_id, MIN(label) AS rep FROM reach GROUP BY id)
    SELECT b.vec_id,
           CASE WHEN ix.vec_id IS NOT NULL THEN 'already_indexed'
                WHEN cr.cp IS NOT NULL THEN 'corpus_dup'
                WHEN co.rep <> b.vec_id THEN 'batch_dup'
                ELSE 'admitted' END AS reason,
           CAST(CASE WHEN ix.vec_id IS NOT NULL THEN b.vec_id
                     WHEN cr.cp IS NOT NULL THEN cr.cp
                     WHEN co.rep <> b.vec_id THEN co.rep
                     ELSE NULL END AS BIGINT) AS partner
    FROM batch b
    LEFT JOIN idx ix ON ix.vec_id = b.vec_id
    LEFT JOIN cver cr ON cr.vec_id = b.vec_id
    LEFT JOIN comp co ON co.vec_id = b.vec_id
    """,
)
def vector_admission_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SEMANTIC DEDUP's decision stage, oracle-checked end to
    end (VERDICT r8 task #8): an incoming embedding micro-batch is
    decided against the PERSISTED hyperplane-LSH signature index
    (``operators/dedup_index.EmbeddingLshIndex`` — the vector twin of
    the MinHash admission loop). Reasons already_indexed / corpus_dup
    (exact cosine >= 0.3 against a live indexed partner's vector, min
    partner id) / batch_dup (verified within-batch cluster
    non-representative; alternating-star components) / admitted. The
    oracle recomputes everything from scratch in SQL — the adaptive band
    geometry via the ``auto_band_params`` closed form over the CORPUS
    count, the hyperplane signatures, both candidate equi-joins, exact
    cosine verification, and the within-batch components via a recursive
    CTE. Scale shape: index and batch signatures meet in ONE
    (band, band_sig) equi-join (one bigint stored per corpus vector);
    corpus vectors are joined back for candidate partner ids only."""
    idx = _embedding_admission_index_for(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 3)
    batch = emb.filter(
        (F.col("vec_id") % 5 == 3) | (F.col("vec_id") % 10 == 0)
    )
    return idx.admit_batch(batch, corpus, threshold=0.3)


@query(
    "decontaminating_vector_admission",
    oracle=f"""
    WITH RECURSIVE
    ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    prm AS (SELECT w, GREATEST(1, 60 // w) AS b FROM (
              SELECT LEAST(GREATEST(4,
                       CAST(CEIL(LOG2(GREATEST(COUNT(*) / 128.0, 2.0))) AS BIGINT)),
                     60) AS w
              FROM embeddings WHERE vec_id % 5 != 3) t),
    bplanes AS (SELECT pid, pv FROM (VALUES {_planes_values_sql(64, 60)}) AS t(pid, pv)),
    idx AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 != 3),
    batch AS (SELECT vec_id FROM embeddings
              WHERE vec_id % 5 = 3 OR vec_id % 10 = 0),
    fresh AS (SELECT vec_id FROM batch
              WHERE vec_id NOT IN (SELECT vec_id FROM idx)),
    evset AS (SELECT v FROM ev WHERE vec_id % 7 = 0),
    cont AS (SELECT DISTINCT f.vec_id
             FROM fresh f
             JOIN ev a ON a.vec_id = f.vec_id
             JOIN evset e2 ON {_cos_sql('a.v', 'e2.v')} >= 0.8),
    clean AS (SELECT vec_id FROM fresh
              WHERE vec_id NOT IN (SELECT vec_id FROM cont)),
    bsigs AS (SELECT e.vec_id, pid // prm.w AS band,
                     CAST(SUM(CASE WHEN {_dot_sql('e.v', 'pv')} > 0
                                   THEN (CAST(1 AS BIGINT) << (pid % prm.w))
                                   ELSE 0 END) AS BIGINT) AS band_sig
              FROM ev e CROSS JOIN bplanes CROSS JOIN prm
              WHERE pid < prm.w * prm.b
              GROUP BY e.vec_id, pid // prm.w),
    psig AS (SELECT s.vec_id, s.band, s.band_sig
             FROM bsigs s JOIN clean f ON f.vec_id = s.vec_id),
    isig AS (SELECT s.vec_id, s.band, s.band_sig
             FROM bsigs s JOIN idx i ON i.vec_id = s.vec_id),
    cpair AS (SELECT DISTINCT p.vec_id AS id_a, i.vec_id AS id_b
              FROM psig p JOIN isig i
                ON i.band = p.band AND i.band_sig = p.band_sig
              WHERE p.vec_id != i.vec_id),
    cver AS (SELECT c.id_a AS vec_id, MIN(c.id_b) AS cp
             FROM cpair c
             JOIN ev a ON a.vec_id = c.id_a
             JOIN ev b2 ON b2.vec_id = c.id_b
             WHERE {_cos_sql('a.v', 'b2.v')} >= 0.3
             GROUP BY 1),
    bpair AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM psig a JOIN psig b
                ON a.band = b.band AND a.band_sig = b.band_sig
                   AND a.vec_id < b.vec_id),
    bver AS (SELECT p.id_a, p.id_b
             FROM bpair p
             JOIN ev a ON a.vec_id = p.id_a
             JOIN ev b2 ON b2.vec_id = p.id_b
             WHERE {_cos_sql('a.v', 'b2.v')} >= 0.3),
    bi AS (SELECT id_a AS src, id_b AS dst FROM bver
           UNION ALL SELECT id_b, id_a FROM bver),
    reach AS (SELECT vec_id AS id, vec_id AS label FROM clean
              UNION
              SELECT e2.src, r.label FROM reach r JOIN bi e2 ON e2.dst = r.id),
    comp AS (SELECT id AS vec_id, MIN(label) AS rep FROM reach GROUP BY id)
    SELECT b.vec_id,
           CASE WHEN ix.vec_id IS NOT NULL THEN 'already_indexed'
                WHEN ct.vec_id IS NOT NULL THEN 'contaminated'
                WHEN cr.cp IS NOT NULL THEN 'corpus_dup'
                WHEN co.rep <> b.vec_id THEN 'batch_dup'
                ELSE 'admitted' END AS reason,
           CAST(CASE WHEN ix.vec_id IS NOT NULL THEN b.vec_id
                     WHEN ct.vec_id IS NOT NULL THEN NULL
                     WHEN cr.cp IS NOT NULL THEN cr.cp
                     WHEN co.rep <> b.vec_id THEN co.rep
                     ELSE NULL END AS BIGINT) AS partner
    FROM batch b
    LEFT JOIN idx ix ON ix.vec_id = b.vec_id
    LEFT JOIN cont ct ON ct.vec_id = b.vec_id
    LEFT JOIN cver cr ON cr.vec_id = b.vec_id
    LEFT JOIN comp co ON co.vec_id = b.vec_id
    """,
)
def decontaminating_vector_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semantic admission + DECONTAMINATION in one pass — the vector
    twin of ``decontaminating_admission_decisions`` (both twins carry
    the same composed contract, r10): same persisted LSH index, corpus
    slice and batch as ``vector_admission_decisions``, plus every 7th
    embedding playing the held-out eval suite. A fresh batch vector
    within exact cosine 0.8 of ANY eval vector (measured bimodal on the
    synthetic corpus: 14/100 of the sf0.01 fresh set, stable across
    thresholds 0.6-0.9) takes reason ``contaminated`` (partner NULL),
    is never signed, and never anchors a within-batch cluster. The eval
    gate ships the suite as a matrix in a mapInPandas closure over the
    bounded micro-batch — batch_rows x suite_rows exact cosines
    computed blockwise with dimension-ordered float64 accumulation (so
    borderline comparisons agree with the oracle's fold bit-for-bit),
    each side read exactly once, never corpus-touching; the oracle
    recomputes the composed decision from scratch including the gate."""
    idx = _embedding_admission_index_for(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 3)
    batch = emb.filter(
        (F.col("vec_id") % 5 == 3) | (F.col("vec_id") % 10 == 0)
    )
    eval_vectors = emb.filter(F.col("vec_id") % 7 == 0)
    return idx.admit_batch(
        batch,
        corpus,
        threshold=0.3,
        eval_vectors=eval_vectors,
        eval_threshold=0.8,
    )


@query(
    "avi_av_demux_stats",
    oracle="""
    WITH d3 AS (SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh,
                       3 + doc_id % 4 AS nf, 100 + doc_id % 50 AS nper
                FROM documents WHERE doc_id < 150),
    px AS (SELECT d.doc_id,
                  (3*d.doc_id + 17*ux.bx + 29*uy.by + 41*uf.f) % 256 AS v
           FROM d3 d,
                UNNEST(generate_series(0, d.nf - 1)) AS uf(f),
                UNNEST(generate_series(0, d.bw - 1)) AS ux(bx),
                UNNEST(generate_series(0, d.bh - 1)) AS uy(by)),
    vm AS (SELECT doc_id, ROUND(AVG(v), 6) AS video_mean_px
           FROM px GROUP BY doc_id),
    au AS (SELECT d.doc_id,
                  ((31*d.doc_id + 17*uj.j) % 65536) - 32768 AS s
           FROM d3 d,
                UNNEST(generate_series(0, d.nf * d.nper - 1)) AS uj(j)),
    ar AS (SELECT doc_id,
                  ROUND(SQRT(AVG(CAST(s AS DOUBLE) * s)), 6) AS audio_rms
           FROM au GROUP BY doc_id)
    SELECT d.doc_id, CAST(d.nf AS INT) AS n_frames,
           CAST(d.bw * 8 AS INT) AS width, CAST(d.bh * 8 AS INT) AS height,
           vm.video_mean_px,
           CAST(d.nf * d.nper AS BIGINT) AS n_samples,
           CAST(16000 AS INT) AS sample_rate, ar.audio_rms
    FROM d3 d
    JOIN vm ON vm.doc_id = d.doc_id
    JOIN ar ON ar.doc_id = d.doc_id
    """,
)
def avi_av_demux_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL two-stream audio+video demux, oracle-checked: a valid AVI
    with interleaved 'vids'/MJPG and 'auds'/PCM16 streams per document
    (the layout real muxers emit); ONE container walk validates both
    header chains, the strict per-frame interleaving and the idx1, then
    routes video chunks through the baseline-JPEG decoder and audio
    chunks through the PCM16 parser
    (``operators/multimodal.py::demux_avi_av``). Both stream formulas
    are closed-form (piecewise-constant frames -> exact lossy video;
    the WAV family's sample formula -> exact int64 square sums), so the
    oracle states every per-document stat without touching bytes."""
    return _media_stats(spark, sf_dir, "avi_av", "demux_avi_av", id_cut=150)


@query(
    "stratified_weighted_sample",
    oracle="""
    WITH k AS (SELECT doc_id, lang,
            CAST(GREATEST(1, length(text)) AS DOUBLE) AS w,
            ROUND(ln((((doc_id * 2654435761 + 1013904223) % 4294967296)
                      + 0.5) / 4294967296.0)
                  / CAST(GREATEST(1, length(text)) AS DOUBLE), 9) AS k
          FROM documents),
    r AS (SELECT doc_id, lang, w, k,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY k DESC, doc_id) AS rk
          FROM k)
    SELECT doc_id, lang, w, k, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 20
    """,
)
def stratified_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED weighted sampling without replacement — the balanced
    variant of ``weighted_sample_top100``: the same deterministic
    Efraimidis-Spirakis keys (integer-LCG uniform, ln(u)/w), but the
    top-k runs PER LANGUAGE, so every stratum contributes its own 20
    best-keyed documents regardless of corpus skew — the op behind
    "equal per-language budgets" training mixes. One partitioned ranking
    window (parallel per stratum, Spark's WindowGroupLimit pushes the
    rank-20 filter below the sort) — no global sort anywhere. The
    weight is floored at 1 (GREATEST(1, length)) on both engines: a
    zero-length document would otherwise divide ln(u) by zero and ride
    a -Infinity key through fragile cross-engine infinity
    ordering/ROUND semantics (ADVICE r7)."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        (F.col("doc_id") * F.lit(2654435761) + F.lit(1013904223))
        % F.lit(4294967296)
        + 0.5
    ) / 4294967296.0
    w = F.greatest(F.lit(1), F.length("text")).cast("double")
    from pyspark.sql.window import Window

    keyed = docs.select(
        "doc_id", "lang", w.alias("w"), F.round(F.log(u) / w, 9).alias("k")
    )
    wl = Window.partitionBy("lang").orderBy(F.col("k").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "lang", "w", "k", F.col("rk").cast("int").alias("rk"))
    )


@query(
    "embedding_dedup_cluster_reps",
    oracle="WITH RECURSIVE " + _EMB_NEARDUP_CTES + """,
    dup AS (SELECT id_a, id_b FROM c WHERE cos >= 0.3),
    bi AS (SELECT id_a AS src, id_b AS dst FROM dup
           UNION ALL SELECT id_b, id_a FROM dup),
    reach AS (
      SELECT vec_id AS id, vec_id AS label FROM embeddings
      UNION
      SELECT b.src, r.label FROM reach r JOIN bi b ON b.dst = r.id
    )
    SELECT id AS vec_id, CAST(MIN(label) AS BIGINT) AS cluster_rep
    FROM reach GROUP BY id
    """,
)
def embedding_dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VECTOR-side dedup decision — the embedding twin of
    ``near_dup_cluster_reps``: adaptive banded hyperplane LSH -> exact
    cosine >= 0.3 verify -> connected components -> every vector mapped
    to its cluster representative (min vec_id; singletons to
    themselves). Semantic dedup keeps one of each PARAPHRASE cluster,
    where MinHash keeps one of each verbatim cluster.

    Memory shape (found the hard way in a default-1g-driver session):
    the pair set is localCheckpoint-ed BEFORE the component loop — the
    LSH stage embeds w*b 64-double hyperplane literal arrays in its
    codegen, and re-optimizing that subtree inside every iteration's
    action exhausts small driver heaps — and the components come from
    ``alternating_star_components`` (per-round lineage truncation,
    constant plan depth, O(log^2 n) rounds regardless of cluster
    diameter), with the shuffle-verify strategy so no broadcast vector
    table is pinned across the loop. The CC iteration shuffles (id,
    label) pairs only — vectors never ride it."""
    from cses2humio_spark.operators.dedup import alternating_star_components
    from cses2humio_spark.operators.similarity import (
        auto_band_params,
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    w, b = auto_band_params(emb.count())
    pairs = embedding_near_dup_pairs(
        emb, dim=64, threshold=0.3, n_planes=w, n_bands=b,
        broadcast_vectors=False,
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    return alternating_star_components(
        emb.select("vec_id"), pairs, id_col="vec_id"
    ).select("vec_id", "cluster_rep")


def _text_index_for(spark: SparkSession, sf_dir: str):
    """Positional, so ONE index serves both the BM25 ranking query and
    the phrase query (the ranking path never reads the pos column —
    column pruning keeps its scan as lean as a flat index's)."""
    from cses2humio_spark.operators.text_index import InvertedTextIndex

    return _standing_index(
        "text", spark, sf_dir, "documents",
        lambda d, _c: InvertedTextIndex(d, n_buckets=64, positional=True),
        _documents,
    )


@query("bm25_index_search", oracle=_BM25_ORACLE)
def bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the PERSISTED inverted index
    (``operators/text_index.InvertedTextIndex``) — the build-once /
    search-many split of ``bm25_search_top20``, sharing that query's
    oracle VERBATIM: identical SQL checking a physically different plan
    is the split-correctness contract (the ``pq_index_search`` pattern).
    The fused twin re-tokenizes the corpus per run; this one reads
    posting lists for the three query terms only — the term filter rides
    the ``tb`` partition column, so the scan touches at most 3 of 64
    token-bucket directories regardless of corpus size, and the only
    corpus-sized input is the narrow (doc_id, dl) table the collection
    statistics come from. At 100 TB this is the difference between a
    full-corpus tokenize per query and a few pruned posting-list
    directories."""
    idx = _text_index_for(spark, sf_dir)
    return idx.search(spark, list(_BM25_TERMS), k=20, k1=_BM25_K1, b=_BM25_B)


_PHRASE = ("table", "scan")


@query(
    "phrase_index_search",
    oracle=rf"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    occ AS (SELECT doc_id,
              CAST(length(list_filter(
                     range(1, GREATEST(length(tk) - 1, 0) + 1),
                     i -> tk[i] = '{_PHRASE[0]}' AND tk[i+1] = '{_PHRASE[1]}'
                   )) AS INTEGER) AS n_occ
            FROM tk)
    SELECT doc_id, n_occ FROM occ WHERE n_occ > 0
    """,
)
def phrase_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search ("{table scan}" at consecutive token
    positions) over the persisted POSITIONAL inverted index — the
    capability a flat BM25 index cannot express, and the reason real
    search indexes store positions. The oracle restates adjacency from
    first principles on the raw token arrays (every position i with
    tk[i]='table' and tk[i+1]='scan'); the engine answers it WITHOUT
    touching document text: per-term posting lists (pruned to 2 of 64
    token-bucket directories) equi-join on doc_id — only docs
    containing BOTH terms survive — then a pure-codegen array HOF
    counts positions p of the first term with the second at p+1.
    Positions never explode into rows; they ride inside their posting
    row end to end, so the shuffle carries one row per (surviving doc,
    term) regardless of how often the terms repeat. k-term phrases are
    the same plan with k-1 joins (pinned in tests/test_text_index.py);
    ranking stays with bm25_index_search on the SAME index artifact."""
    idx = _text_index_for(spark, sf_dir)
    return idx.search_phrase(spark, list(_PHRASE))


@query(
    "prefix_index_search",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, UNNEST({_TOKS}) AS tok FROM documents),
    m AS (SELECT doc_id, COUNT(*) AS tf_sum,
                 COUNT(DISTINCT tok) AS n_terms
          FROM toks WHERE tok LIKE 's%' GROUP BY doc_id)
    SELECT doc_id, tf_sum, n_terms FROM m
    ORDER BY tf_sum DESC, doc_id LIMIT 20
    """,
)
def prefix_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard ``s*`` term search over the persisted inverted index —
    the third retrieval mode on the ONE index artifact (exact-term BM25
    ranking, consecutive-token phrases, and now prefix matching). The
    oracle recounts from the raw token stream; the engine touches only
    posting rows that survive the parquet StartsWith pushed filter —
    document text is never read, and the trade is documented where it
    lives (`operators/text_index.search_prefix`): a hash token bucket
    cannot prune a prefix, so this scan relies on row-group statistics
    rather than directory pruning."""
    idx = _text_index_for(spark, sf_dir)
    return idx.search_prefix(spark, "s", k=20)


_RRF_INDEX_ORACLE = rf"""
    WITH toks AS (SELECT doc_id, UNNEST({_TOKS}) AS tok FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2),
    tdf AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    bm AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                     + {_BM25_B} * dl.dl / avgdl))
             ), 6) AS s
      FROM tf JOIN tdf ON tdf.tok = tf.tok
              JOIN dl ON dl.doc_id = tf.doc_id
              CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id)
                     AS r FROM bm QUALIFY r <= 50),
    ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings),
    subs AS (SELECT UNNEST(generate_series(0, 3)) AS sub_id),
    cb AS (SELECT s.sub_id, e.vec_id AS code,
                  e.v[s.sub_id*16+1 : s.sub_id*16+16] AS cvec
           FROM ev e CROSS JOIN subs s WHERE e.vec_id < 16),
    slc AS (SELECT e.vec_id, s.sub_id,
                   e.v[s.sub_id*16+1 : s.sub_id*16+16] AS svec
            FROM ev e CROSS JOIN subs s),
    enc0 AS (SELECT sl.vec_id, sl.sub_id, cb.code,
                    ROUND({_l2sq_sql('sl.svec', 'cb.cvec')}, 8) AS d
             FROM slc sl JOIN cb ON cb.sub_id = sl.sub_id),
    enc AS (SELECT vec_id, sub_id, code FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                          ORDER BY d ASC, code ASC) AS rn FROM enc0) t
            WHERE rn = 1),
    pt AS (SELECT vec_id AS probe_id, sub_id, code, d
           FROM enc0 WHERE vec_id = 0),
    ad AS (SELECT pt.probe_id, enc.vec_id,
                  CAST(SUM(CAST(pt.d AS DECIMAL(28,8))) AS DOUBLE) AS dd
           FROM enc JOIN pt ON pt.sub_id = enc.sub_id
                           AND pt.code = enc.code
           GROUP BY 1, 2),
    vec AS (SELECT vec_id AS doc_id,
                   ROW_NUMBER() OVER (ORDER BY dd ASC, vec_id ASC) AS r
            FROM ad QUALIFY r <= 50),
    fused AS (
      SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
             COALESCE(1.0 / (60 + lex.r), 0.0)
               + COALESCE(1.0 / (60 + vec.r), 0.0) AS rrf
      FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
    )
    SELECT doc_id, ROUND(rrf, 6) AS rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 10
    """


@query("rrf_index_hybrid_top10", oracle=_RRF_INDEX_ORACLE)
def rrf_index_hybrid_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval ENTIRELY on persisted indexes: the BM25 arm reads
    the standing ``InvertedTextIndex`` posting lists (3 of 64 token-bucket
    directories, document text never scanned) and the ANN arm reads the
    standing ``PQIndex`` codes (m small ints per vector, no encode stage),
    fused by reciprocal rank (k=60) exactly like the fused twin
    ``rrf_hybrid_top10`` — which re-tokenizes the corpus and re-scores raw
    vectors inline on every run. This is the production RAG shape: both
    arms are build-once/search-many, and a query's corpus-sized inputs are
    ONE narrow doc-length scan (the BM25 collection statistics) plus the
    codes scan.

    Determinism: the ANN arm's ADC ranking is exact-DECIMAL and
    cross-engine reproducible, so the oracle replays encode -> ADC -> rank
    verbatim (the ``pq_index_search`` contract); the lexical arm ranks
    over 6-decimal-ROUNDED scores with doc-id tie-break, so the index
    search over-fetches to k=60 and the rank-50 cut happens on the rounded
    frame — the ``limit`` boundary never depends on last-ulp float sum
    order. Fusion joins two 50-row frames."""
    tidx = _text_index_for(spark, sf_dir)
    lex60 = tidx.search(
        spark, list(_BM25_TERMS), k=60, k1=_BM25_K1, b=_BM25_B
    )
    w_lex = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lex = (
        lex60.withColumn("rl", F.row_number().over(w_lex))
        .filter(F.col("rl") <= 50)
        .select("doc_id", "rl")
    )
    pidx = _pq_index_for(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    vec = pidx.search(spark, probe, k=50).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("rv")
    )
    return _rrf_fuse(lex, vec)
