"""Sliding-window document chunking for training-data pipelines.

LLM pretraining and RAG indexing both consume fixed-size token windows
with overlap, not whole documents. This operator splits each document
into ``size``-token chunks advancing by ``size - overlap`` tokens,
entirely with JVM-side array expressions (``split`` → ``sequence`` →
``posexplode`` → ``slice``): no Python boundary, and the explode
factor is ~n_tokens/step per document — linear in corpus size,
embarrassingly parallel, no shuffle at all (narrow transformations
only).

Trailing-window rule: a start offset is kept if it is 0 or if the
window contributes at least one token beyond the previous window's
coverage (``n_tokens - start > overlap``); this avoids emitting a
final chunk that is a strict suffix-subset of its predecessor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Explode documents into overlapping token-window chunks.

    Output: (id_col, chunk_id, n_tokens, chunk_text), one row per
    window; chunk_id is the 0-based window index within the document.
    """
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size: {overlap}, {size}")
    step = size - overlap
    # the token array is selected into a column once: the filter
    # lambda is interpreted per start offset, so a split expression
    # inside it would re-split the text for every window
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step)),
        lambda s: (s == 0) | (n - s > overlap),
    )
    return (
        docs.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            id_col, "__toks", F.posexplode(starts).alias("chunk_id", "__start")
        )
        .select(
            id_col,
            "chunk_id",
            F.least(F.lit(size), n - F.col("__start")).alias("n_tokens"),
            F.array_join(
                F.slice(toks, F.col("__start") + 1, size), " "
            ).alias("chunk_text"),
        )
    )
