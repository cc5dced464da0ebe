"""Shared text-shaping helpers (tokens, shingles, min-hash components).

All JVM-side built-ins — no UDFs. Every hash is md5-based so the DuckDB
oracle reproduces values exactly; min-hash comparisons operate on fixed-width
lowercase hex prefixes, where lexicographic order == numeric order, so
``MIN`` over strings is a valid min-hash without any hex->int conversion.

Spark/SQL twins live side by side (``*_expr`` / ``*_sql``) so tokenization
semantics cannot silently drift between the engine and the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from databricks_observe_spark.memo import index
from databricks_observe_spark.sources.tables import documents_split


@index("doc_tokens")
def doc_tokens(t: dict[str, DataFrame]) -> DataFrame:
    """Materialized (doc_id, w: array<string>) token frame, memoized in the
    context so every shingle/fingerprint/tf-idf consumer shares one pass.

    Materialization matters: inside a higher-order ``transform`` the lambda
    is interpreted and would re-split the text once per element
    (O(tokens^2) per doc); over a plain array column each slice is O(k).
    At scale this is "tokenize once, write, then derive". It reads the
    split memo (``sources/tables.py:documents_split``), so everything
    derived from this index runs partition-parallel.
    """
    return (
        documents_split(t).select("doc_id", F.split("text", " ").alias("w"))
    ).localCheckpoint()


def shingle_expr(k: int, tokens_col: str = "w") -> F.Column:
    """Distinct word k-gram shingles over a materialized token array.

    Sub-k-token docs yield one truncated shingle (slice semantics), exactly
    mirrored by :func:`shingled_sql`'s list slicing.
    """
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size({tokens_col}) - {k - 1}, 1)),"
            f" i -> concat_ws(' ', slice({tokens_col}, i, {k})))"
        )
    )


def shingle_regex_expr(k: int, text_col: str = "text") -> F.Column:
    """Distinct word k-gram shingles in ONE codegen regex pass over the raw
    text — the hot-path twin of :func:`shingle_expr`.

    The zero-width lookahead captures k space-separated tokens at every
    token start while the consuming ``[^ ]* `` advances the matcher one
    token, so overlapping shingles never leave whole-stage codegen
    (``transform``'s lambda is interpreted per element). Measured 2.4x
    faster on the sf0.1 shingle index with bit-identical output. The
    ``*`` quantifier (not ``+``) is load-bearing: ``split`` produces
    EMPTY tokens for leading/trailing/consecutive spaces, and the slice
    semantics keep them — pinned by the randomized differential test in
    tests/test_formats.py::test_shingle_regex_matches_slice_semantics.
    Sub-k docs keep the slice semantics (whole text as one truncated
    shingle).

    k == 1 is rejected: the consuming ``[^ ]* `` needs a trailing space,
    so a 1-gram pattern would silently drop the final token (latent
    edge — no current caller uses k < 2; a 1-gram caller should
    split+distinct instead).
    """
    if k < 2:
        raise ValueError(
            "shingle_regex_expr requires k >= 2 (the consuming token needs "
            "a following separator); use split+array_distinct for 1-grams"
        )
    tc = F.col(text_col)
    n_tokens = F.size(F.split(tc, " "))
    rx = f"(?s)(?=((?:[^ ]* ){{{k - 1}}}[^ ]*))[^ ]* "
    return F.array_distinct(
        F.when(n_tokens < k, F.array(tc)).otherwise(
            F.regexp_extract_all(tc, F.lit(rx), 1)
        )
    )


def shingled_sql(k: int) -> str:
    """DuckDB twin of exploding :func:`shingle_expr` over documents."""
    return f"""
  SELECT DISTINCT doc_id,
         array_to_string(w[i.i : i.i + {k - 1}], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) tok
  CROSS JOIN LATERAL (SELECT unnest(range(1, greatest(len(w) - {k - 2}, 2))) AS i) i
"""


def minhash_expr(i: int, shingle_col: str = "shingle") -> F.Column:
    """Min-hash component i: min over shingles of an 8-hex-char md5 slice.

    Components are packed 4-per-md5: component i reads hex chars
    ``[(i%4)*8, (i%4)*8+8)`` of ``md5((i//4) || ':' || shingle)`` — distinct
    bits of a cryptographic hash act as independent hash functions, so 16
    components cost 4 md5 evaluations per shingle instead of 16 (the md5 is
    CSE'd across the four aggregates sharing a salt; measured 2.2x on the
    signature build).
    """
    salt, off = i // 4, (i % 4) * 8 + 1
    return F.min(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(shingle_col))), off, 8
        )
    ).alias(f"mh{i}")


def minhash_sql(i: int, shingle_col: str = "shingle") -> str:
    """DuckDB twin of :func:`minhash_expr`."""
    salt, off = i // 4, (i % 4) * 8 + 1
    return f"MIN(substr(md5('{salt}:' || {shingle_col}), {off}, 8)) AS mh{i}"


def md5_bucket_expr(id_col: str = "doc_id", n: int = 100) -> F.Column:
    """Content-stable 0..n-1 bucket from the first 4 hex chars of
    ``md5(id)`` — the shared idiom behind deterministic sampling and
    train/val/test splitting (membership depends only on the id digest,
    never on row position, partitioning, or an RNG seed). Twin of
    :func:`md5_bucket_sql`."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % n
    )


def md5_bucket_sql(id_col: str = "doc_id", n: int = 100) -> str:
    """DuckDB twin of :func:`md5_bucket_expr` (identical hex-prefix cast
    and modulus, so bucket membership matches bit-for-bit)."""
    return (
        f"CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 4))::BIGINT"
        f" AS BIGINT) % {n}"
    )
