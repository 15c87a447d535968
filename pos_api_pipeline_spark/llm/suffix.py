"""Exact repeated-substring spans (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better" — the ExactSubstr dedup,
re-expressed for Spark's execution model instead of a single-node
suffix array).

ExactSubstr marks every token covered by a substring of length ≥ L
that occurs at least twice in the corpus — cross-document or twice
inside ONE document (``curation.repeated_substring_spans`` counts
distinct documents and misses the latter). Only that covered point
set is exported, never per-suffix repeat lengths, and it has a
direct characterization, the cover identity: a position is covered
by some repeated substring of length ≥ L iff it is covered by some
repeated L-gram (⊆: a repeated substring's L-windows are repeated;
⊇: a repeated L-gram IS a repeated substring of length L). So no
suffix ranking is needed: hash every positional L-gram, keep the
identities occurring ≥ 2 times, and merge the kept grams into
maximal per-document islands — ``curation._gram_spans``, the same
engine the fixed-k and decontamination span operators run on. One
corpus pass, O(n·L) hashing and O(n)-row shuffles, independent of
document length; the DuckDB oracle states the same identity in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pos_api_pipeline_spark.llm.curation import (
    _gram_spans,
    excise_token_spans,
)


def repeated_spans_exact(
    df: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact variable-length repeated-substring spans: maximal
    per-document token spans covered by a substring of ≥ ``min_len``
    tokens that occurs at least twice in the corpus (any mix of
    cross- and within-document). Output: (id_col, span_start,
    span_end, n_tokens), positions 0-based inclusive; the id column
    keeps the input's type.

    Computed through the cover identity (module docstring): the kept
    gram identities are the ``min_len``-grams counted ≥ 2 over all
    occurrences."""

    def repeated(grams: DataFrame) -> DataFrame:
        return (
            grams.groupBy("h1", "h2")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") >= 2)
            .select("h1", "h2")
        )

    spans = _gram_spans(df, min_len, text_col, id_col, repeated)
    return spans.select(
        id_col,
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
    )


def remove_repeated_spans(
    df: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply ExactSubstr dedup (Lee et al. 2022): rebuild every
    document with all ``repeated_spans_exact`` ranges excised — the
    released deduplicate-text-datasets tool's policy of removing
    EVERY occurrence of a duplicated substring (the cover is defined
    over all occurrences, so no copy is privileged). Documents with
    no repeats pass through normalized; ``n_tokens`` is the original
    token count (same contract as
    ``curation.remove_contaminated_spans``, which shares the
    excision).

    Output: (id_col, cleaned, n_tokens, n_tokens_removed).
    """
    spans = repeated_spans_exact(
        df, min_len=min_len, text_col=text_col, id_col=id_col
    )
    return excise_token_spans(df, spans, text_col, id_col)
