"""Document chunking for training-data pipelines: split each document
into overlapping fixed-size token windows.

Pure column expressions (sequence → slice → concat_ws; no Python), so
chunking 100 TB of text is a single narrow-transform scan — no shuffle
at all until something downstream needs one.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chillastic_spark import functions as CF


def _check_window(size: int, stride: int) -> None:
    """stride must be in [1, size]: stride > size would SKIP tokens
    (breaking the every-token-covered contract) and emit a final
    window starting past the array end — empty chunk_text with a
    NEGATIVE n_chunk_tokens corrupting downstream token accounting."""
    if not (1 <= stride <= size):
        raise ValueError(
            f"chunking requires 1 <= stride <= size, got size={size} "
            f"stride={stride}"
        )


def chunk_expr(w: Column, size: int, stride: int) -> Column:
    """Array of space-joined token windows [i·stride, i·stride+size) —
    every token appears in ≥1 chunk; last window may be short.

    n_chunks = 1 + ceil(max(n_tokens - size, 0) / stride), expressed as
    floor((n - size + stride - 1) / stride) + 1 clamped at ≥ 1. With
    stride <= size (enforced) the last window start is always < n, so
    no window is empty and n - i·stride >= 1 for every emitted i.
    """
    _check_window(size, stride)
    n = F.size(w)
    n_chunks = F.greatest(
        F.floor((n - size + stride - 1) / stride).cast("int") + 1, F.lit(1)
    )
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i * stride + 1, size)),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_chunk_tokens) — one row per
    overlapping window. Tokenise once (two-step projection), then
    posexplode the window array.

    Token-less docs (NULL/empty/whitespace-only text) emit NO chunks —
    the token_count()=0 convention, and what the UDTF twin does. The
    unfiltered shape emitted phantom rows: a NULL-text doc produced one
    chunk with n_chunk_tokens = size (greatest(NULL,1)=1 window whose
    NULL length skipped the least()), inflating downstream token
    accounting by ``size`` per NULL doc; empty docs counted their ''
    phantom token as 1."""
    w = df.select(
        F.col(id_col).alias("doc_id"), CF.words(text_col).alias("__w")
    ).filter(
        F.size(F.filter(F.col("__w"), lambda t: t != F.lit(""))) >= 1
    )
    # pre-project the chunk array (and token count) so posexplode reads
    # attributes, not a generator re-evaluating the window expression
    arr = w.select(
        "doc_id",
        F.size(F.col("__w")).alias("__n"),
        chunk_expr(F.col("__w"), size, stride).alias("__chunks"),
    )
    return arr.select(
        "doc_id",
        F.posexplode(F.col("__chunks")).alias("chunk_idx", "chunk_text"),
        F.col("__n"),
    ).select(
        "doc_id",
        "chunk_idx",
        "chunk_text",
        # window token count is pure arithmetic — no re-tokenisation
        F.least(F.lit(size), F.col("__n") - F.col("chunk_idx") * stride).alias(
            "n_chunk_tokens"
        ),
    )


def chunk_text_udtf(size: int = 50, stride: int = 40):
    """The same windowing as a Python UDTF (Spark 4 table function) —
    the §2.10 UDTF surface: the reference's null-dropping mutate is
    "UDTF-like 1→0/1" (SURVEY §2.10); this is the full 1→N shape,
    LATERAL-joinable from SQL once registered:

        spark.udtf.register("chunk_text", chunk_text_udtf(50, 40))
        spark.sql("SELECT doc_id, c.* FROM documents, "
                  "LATERAL chunk_text(text) AS c")

    The expression-based :func:`chunk_documents` stays the hot path
    (codegen, no Python); the UDTF form exists for SQL users and for
    chunkers whose logic outgrows column expressions. The class is
    defined inside this factory so cloudpickle ships it BY VALUE —
    executors don't import chillastic_spark (see operators/mutate.py).
    """
    from pyspark.sql.functions import udtf

    win, step = int(size), int(stride)
    _check_window(win, step)

    class _ChunkText:
        def eval(self, text: str):
            if text is None:
                return
            import re as _re

            # Tokenisation must agree with functions.words() exactly:
            # regex split, NOT str.split() — words() splits '' to ['']
            # (one empty token), so the expression/UDTF pair must agree
            # on empty/whitespace-only docs. The explicit char class is
            # Java's \s ([ \t\n\x0B\f\r]); Python's \s and str.strip()
            # are Unicode-aware and would diverge on e.g. \xa0.
            _ws = " \t\n\x0b\f\r"
            toks = _re.split(f"[{_ws}]+", text.strip(_ws))
            if toks == [""]:
                # token-less doc: no chunks (the chunk_documents /
                # token_count()=0 convention)
                return
            n = len(toks)
            n_chunks = max((n - win + step - 1) // step + 1, 1)
            for i in range(n_chunks):
                piece = toks[i * step : i * step + win]
                yield i, " ".join(piece), len(piece)

    return udtf(_ChunkText, returnType="chunk_idx int, chunk_text string, n int")
