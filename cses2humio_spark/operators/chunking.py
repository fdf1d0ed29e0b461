"""Document chunking for RAG / training-window construction: split each
document's token stream into fixed-size overlapping windows.

Spark-first design: tokenize + windowing are pure codegen higher-order
functions (``sequence`` -> ``transform`` -> ``slice``) followed by one
``posexplode`` — a narrow map-side row-expansion with NO shuffle. At 100 TB
the row count grows by ~``n_tokens / stride`` per document but every chunk
row carries only (id, idx, size, fingerprint) unless the caller asks for
the text, so the bytes that move stay bounded by the caller's projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cses2humio_spark.functions.text import tokens


def token_chunks(
    text: Column, chunk_size: int = 40, stride: int = 30
) -> Column:
    """Array of token-window chunks (each an array<string>) over the
    whitespace tokenization of ``text``.

    Chunk ``i`` covers 1-based token positions ``i*stride+1 ..
    i*stride+chunk_size``; the number of chunks is
    ``1 + ceil((n - chunk_size) / stride)`` (one chunk when ``n <=
    chunk_size``), so consecutive chunks overlap by ``chunk_size -
    stride`` tokens and every token is covered by at least one chunk.
    """
    if not 0 < stride <= chunk_size:
        raise ValueError(
            f"need 0 < stride <= chunk_size, got stride={stride}, "
            f"chunk_size={chunk_size}"
        )
    toks = tokens(text)
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.lit(1)
        + F.ceil((n - F.lit(chunk_size)).cast("double") / F.lit(stride)).cast("int")
    )
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, chunk_size),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 40,
    stride: int = 30,
    keep_text: bool = False,
) -> DataFrame:
    """One row per (document, chunk): ``(id, chunk_idx, n_tokens,
    chunk_fp[, chunk_text])``. ``chunk_fp`` is the md5 of the
    ' '-rejoined chunk — an engine-portable fingerprint usable for
    chunk-level dedup downstream.
    """
    chunks = token_chunks(F.col(text_col), chunk_size, stride)
    out = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk_toks")
    ).select(
        id_col,
        "chunk_idx",
        F.size("chunk_toks").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk_toks")).alias("chunk_fp"),
        *(
            [F.concat_ws(" ", "chunk_toks").alias("chunk_text")]
            if keep_text
            else []
        ),
    )
    return out
