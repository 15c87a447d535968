"""Corpus-curation operators a large-scale training-data pipeline
needs beyond dedup: repetition statistics (Gopher-style filters),
train/test decontamination, PII redaction, and text normalization.

All pure Catalyst expressions or explode+groupBy shapes — no Python
UDFs — so every operator is whole-stage-codegen'd and scales with
partitions. The distributed shapes follow the repo's plan-pathology
rules: computed arrays are exploded with ``explode_outer`` plus a
null filter (so InferFiltersFromGenerate cannot splice the
tokenize tree into the scan), and n-gram arrays are materialized
into a real column before any expression references them twice.

These operators have no counterpart in the reference POS pipeline —
they are the corpus-side surface the build brief mandates next to it.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pos_api_pipeline_spark.llm.text import spread_small_scan, tokens

# ---------------------------------------------------------------------------
# Repetition statistics (the Gopher repetition filters, per document)
# ---------------------------------------------------------------------------


def _all_ngrams(text_col: str, n: int) -> tuple[Column, Column]:
    """(tokens, ALL n-gram occurrences — NOT distinct). Distinctness
    would erase exactly the signal repetition stats measure."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    tc = F.col("_toks")
    k = F.size(tc) - (n - 1)
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(tc, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks, grams


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document n-gram repetition profile: the cheap signals
    behind the Gopher/MassiveText repetition filters (fraction of
    duplicate n-grams, fraction taken by the single most frequent
    n-gram). High values flag boilerplate and degenerate generations.

    Distributed shape: one projection materializes the n-gram array,
    explode_outer → two-level aggregation (per (doc, gram) counts,
    then per-doc max/sum). Both aggregations get map-side partial
    combine; nothing is quadratic in document length, unlike the
    per-doc ``transform × filter`` form. Documents with fewer than
    ``n`` tokens survive with zero counts and null fractions.
    """
    toks, grams = _all_ngrams(text_col, n)
    base = (
        df.select(F.col(id_col).alias("id"), F.col(text_col))
        .withColumn("_toks", toks)
        .withColumn("_grams", grams)
        .select("id", "_grams")
    )
    ex = base.select("id", F.explode_outer("_grams").alias("gram"))
    per_gram = ex.groupBy("id", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = per_gram.groupBy("id").agg(
        F.sum(F.when(F.col("gram").isNotNull(), F.col("c")).otherwise(0)).alias(
            "n_ngrams"
        ),
        F.count(F.col("gram")).alias("n_distinct"),
        F.max(F.when(F.col("gram").isNotNull(), F.col("c"))).alias("top_count"),
    )
    n_ngrams = F.col("n_ngrams")
    return stats.select(
        F.col("id").alias(id_col),
        n_ngrams.cast("long").alias("n_ngrams"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.coalesce(F.col("top_count"), F.lit(0)).cast("long").alias("top_count"),
        F.when(
            n_ngrams > 0,
            F.lit(1.0) - F.col("n_distinct") / n_ngrams,
        ).alias("dup_ngram_fraction"),
        F.when(n_ngrams > 0, F.col("top_count") / n_ngrams).alias(
            "top_ngram_fraction"
        ),
    )


def filter_repetitive(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    max_dup_fraction: float = 0.5,
    max_top_fraction: float = 0.2,
) -> DataFrame:
    """Drop documents whose n-gram repetition exceeds the bounds —
    the filter form of ``repetition_stats`` (null fractions pass)."""
    stats = repetition_stats(df, text_col, id_col, n).select(
        id_col, "dup_ngram_fraction", "top_ngram_fraction"
    )
    joined = df.join(stats, id_col, "left")
    kept = joined.filter(
        (F.coalesce(F.col("dup_ngram_fraction"), F.lit(0.0)) <= max_dup_fraction)
        & (F.coalesce(F.col("top_ngram_fraction"), F.lit(0.0)) <= max_top_fraction)
    )
    return kept.drop("dup_ngram_fraction", "top_ngram_fraction")


# ---------------------------------------------------------------------------
# Train/test decontamination (benchmark n-gram overlap)
# ---------------------------------------------------------------------------


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    exact: bool = False,
) -> DataFrame:
    """Per-document benchmark contamination: how many of the
    document's distinct n-gram shingles appear anywhere in the
    benchmark set (the standard 13-gram decontamination check run
    before training on scraped corpora).

    Plan: the benchmark's union-of-shingles is tiny relative to the
    corpus (eval sets are MBs against TBs), so it is collected to a
    distinct one-column frame and **broadcast** — the 100 TB corpus
    side never shuffles; each partition probes the hash map. Shingles
    travel as xxhash64 keys so the probe side carries 8 bytes per
    shingle, not the string.

    Collision tradeoff of the hashed default: a 64-bit collision
    between an unrelated corpus shingle and a benchmark shingle is a
    false-positive hit (~1e13 doc shingles x 1e7 bench shingles /
    2^64 ≈ a handful of spurious drops at 100 TB). The direction is
    conservative — contamination is over-, never under-reported. Pass
    ``exact=True`` to probe the raw shingle strings instead: zero
    false positives, portable across hash implementations, at the
    cost of shipping strings (still broadcast-sized — eval sets are
    small).

    Returns (id_col, n_shingles, n_contaminated,
    contamination_fraction) for every input document, zeros for
    documents with no shingles or no hits.
    """
    from pos_api_pipeline_spark.llm.dedup import with_shingles

    bench_text = bench_text_col or text_col
    bench_sh = (
        with_shingles(
            benchmark.select(F.col(bench_text).alias("text")).withColumn(
                "_bid", F.monotonically_increasing_id()
            ),
            text_col="text",
            id_col="_bid",
            n=n,
            out_col="sh",
            hashed=not exact,
        )
        .select(F.explode_outer("sh").alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    doc_sh = with_shingles(
        docs,
        text_col=text_col,
        id_col=id_col,
        n=n,
        out_col="sh",
        hashed=not exact,
    ).withColumn("n_shingles", F.size("sh"))
    ex = doc_sh.select(
        "id", "n_shingles", F.explode_outer("sh").alias("h")
    )
    hits = ex.join(
        F.broadcast(bench_sh.withColumn("_hit", F.lit(1))), "h", "left"
    )
    out = hits.groupBy("id").agg(
        F.first("n_shingles").alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
    )
    return out.select(
        F.col("id").alias(id_col),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_contaminated") / F.col("n_shingles"),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination_fraction"),
    )


def gram_bloom_filter(
    keys: DataFrame,
    key_col: str = "h",
    num_bits: int | None = None,
    num_hashes: int = 5,
) -> tuple[DataFrame, int, int]:
    """Distributed Bloom filter over a long key column, built with
    DataFrame ops (Spark's own bloom_filter_agg is not exposed to
    SQL): each key sets ``num_hashes`` bits at positions
    (h + i·h') mod m (Kirsch–Mitzenmacher double hashing, h' a
    re-hash of the key), bits are packed 64 per word via a
    ``bit_or`` partial aggregation on the word index, and the whole
    filter collapses to ONE row carrying a ``map<long,long>`` — the
    repo's scalar-carry pattern, so probing is a broadcast of the
    filter bytes, never of the key set.

    ``num_bits`` defaults to ~10 bits per key (next power of two,
    ≥ 16384) → ≈0.9 % false positives at 5 hashes. Returns
    (one-row frame with column ``bf``, num_bits, num_hashes)."""
    if num_bits is None:
        n_keys = keys.select(key_col).distinct().count()
        num_bits = max(16384, 1 << (10 * max(n_keys, 1)).bit_length())
    elif num_bits < 64 or num_bits % 64 != 0:
        # The dense word array holds num_bits // 64 longs; a bit in a
        # partial top word would silently fall outside it, turning
        # Bloom "guaranteed miss" into a false negative (and the probe
        # side's element_at out-of-range under ANSI).
        raise ValueError(
            f"num_bits must be a multiple of 64 (>= 64), got {num_bits}"
        )
    # reduce mod m BEFORE combining: raw h1 + i*h2 overflows long
    # under ANSI mode; pmod keeps every term < num_bits (≤ 2^40ish)
    h1 = F.pmod(F.col(key_col), F.lit(num_bits))
    h2 = F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_bits))
    bits = F.explode(
        F.array(
            *[
                F.pmod(h1 + F.lit(i).cast("long") * h2, F.lit(num_bits))
                for i in range(num_hashes)
            ]
        )
    ).alias("bit")
    words = (
        keys.select(bits)
        .select(
            F.shiftright(F.col("bit"), 6).alias("word"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.col("bit").bitwiseAND(F.lit(63)).cast("int"),
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    # Dense array, NOT a map: Spark's map element_at is a LINEAR scan
    # of the entries (ArrayBasedMapData), which turned the probe into
    # O(words) per hash — 51 s at sf1. The dense form pays zeros for
    # empty words but probes O(1); practical to ~2^30 bits (128 MB
    # row). Beyond that, probe the words frame with a shuffled join
    # instead of a scalar carry.
    n_words = num_bits // 64
    bf = words.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word", "bits"))
        ).alias("_m")
    ).select(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(n_words - 1).cast("long")),
            lambda w: F.coalesce(
                F.element_at(F.col("_m"), w), F.lit(0).cast("long")
            ),
        ).alias("bf")
    )
    return bf, num_bits, num_hashes


def _bloom_might_contain(
    key, num_bits: int, num_hashes: int, bf_col: str = "bf"
):
    """Probe predicate for ``gram_bloom_filter`` output: true iff
    every probed bit is set. ``bf`` is a dense word array, so each
    probe is one O(1) element_at (1-based)."""
    h1 = F.pmod(key, F.lit(num_bits))
    h2 = F.pmod(F.xxhash64(key), F.lit(num_bits))
    def probe(i):
        bit = F.pmod(h1 + i.cast("long") * h2, F.lit(num_bits))
        word = F.shiftright(bit, 6)
        mask = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"), bit.bitwiseAND(F.lit(63)).cast("int")
        )
        return (
            F.element_at(F.col(bf_col), (word + 1).cast("int"))
            .bitwiseAND(mask)
            != 0
        )
    return F.forall(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)), probe
    )


def contamination_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    num_bits: int | None = None,
    num_hashes: int = 5,
) -> DataFrame:
    """``contamination`` for the regime where the benchmark gram set
    outgrows the broadcast threshold (cross-corpus dedup, very large
    eval suites): instead of broadcasting the distinct gram hashes
    (8 bytes/gram), broadcast a Bloom filter (~10 BITS/gram — ~6×
    smaller, tunable), probe it map-side, and send only the
    candidate grams (true hits + the ~1 % false positives) through
    an exact shuffled semi-probe against the un-broadcast benchmark
    set. Bloom misses are guaranteed misses, so the exact verify
    restores bit-identical output to ``contamination`` — the filter
    only decides how little of the corpus stream reaches the
    shuffle.

    Same output contract as ``contamination`` (hashed probe path).
    """
    from pos_api_pipeline_spark.llm.dedup import with_shingles

    bench_text = bench_text_col or text_col
    # localCheckpoint (r12, guide §3.3): the distinct benchmark gram
    # set has THREE consumers — the sizing count, the Bloom build and
    # the exact verify join — and the lambda-bearing shingle tree
    # never canonicalizes, so each consumer re-scanned and
    # re-shingled the benchmark. Materialize it once.
    bench_sh = (
        with_shingles(
            benchmark.select(F.col(bench_text).alias("text")).withColumn(
                "_bid", F.monotonically_increasing_id()
            ),
            text_col="text",
            id_col="_bid",
            n=n,
            out_col="sh",
            hashed=True,
        )
        .select(F.explode_outer("sh").alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    bf, num_bits, num_hashes = gram_bloom_filter(
        bench_sh, "h", num_bits, num_hashes
    )
    doc_sh = with_shingles(
        docs, text_col=text_col, id_col=id_col, n=n, out_col="sh",
        hashed=True,
    ).withColumn("n_shingles", F.size("sh"))
    # One NULL marker row per document rides the candidate stream
    # (r12): it passes the Bloom gate (null-safe OR), matches nothing
    # in the verify join, and keeps every doc — including
    # zero-shingle and zero-candidate ones — alive to the single
    # per-id aggregation. The pre-r12 form re-scanned the corpus for
    # a (id, n_shingles) base frame and joined the counts back to it
    # (corpus-grain join at scale); the marker costs one 16-byte row
    # per doc through the shuffle instead.
    ex = doc_sh.select(
        "id",
        "n_shingles",
        F.explode(
            F.concat(
                F.array(F.lit(None).cast("long")), F.coalesce(
                    F.col("sh"), F.array().cast("array<long>")
                )
            )
        ).alias("h"),
    )
    cand = ex.join(F.broadcast(bf)).filter(
        F.col("h").isNull()
        | _bloom_might_contain(F.col("h"), num_bits, num_hashes)
    )
    verified = cand.join(
        bench_sh.withColumn("_hit", F.lit(1)), "h", "left"
    )
    per_id = verified.groupBy("id").agg(
        F.max("n_shingles").alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
    )
    return per_id.select(
        F.col("id").alias(id_col),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_contaminated") / F.col("n_shingles"),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination_fraction"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fraction: float = 0.0,
    exact: bool = False,
) -> DataFrame:
    """Drop documents whose contamination_fraction exceeds
    ``max_fraction`` (default: any benchmark overlap at all drops the
    document — the conservative pre-training policy). ``exact=True``
    probes raw shingle strings instead of xxhash64 keys (see
    ``contamination`` for the collision tradeoff)."""
    scores = contamination(
        docs, benchmark, n, text_col, id_col, exact=exact
    ).select(id_col, "contamination_fraction")
    return (
        docs.join(scores, id_col, "left")
        .filter(
            F.coalesce(F.col("contamination_fraction"), F.lit(0.0))
            <= max_fraction
        )
        .drop("contamination_fraction")
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
# NANP phone numbers: optional +1/1 prefix, parenthesized or bare
# 3-digit area code, '-', '.', or space separators. Under-redaction is
# the unsafe direction for PII, so the pattern is deliberately the
# permissive union of the common writings:
#   555-123-4567  555.123.4567  555 123 4567  (555) 123-4567
#   +1-555-123-4567  1 555 123 4567
# The leading \b sits AFTER the optional prefix because '+' is a
# non-word char (a boundary before it would never match).
PHONE_RE = (
    r"(?:\+?1[-. ]?)?(?:\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b"
)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Regex PII redaction: emails → <EMAIL>, IPv4 → <IP>, phone
    numbers → <PHONE>, with per-type match counts. Applied in that
    fixed order (emails can embed digit runs; IPs must be consumed
    before the looser phone pattern sees their digits).

    Each count is computed on the text AFTER the earlier patterns have
    been replaced, so a span matching two patterns is attributed to
    the pattern that actually consumed it and
    ``n_emails + n_ips + n_phones`` equals the number of replacements
    present in ``out_col``.

    Single narrow projection per row — no shuffle, no UDF; at 100 TB
    this is a map-only stage that pipelines with whatever scan or
    filter precedes it.
    """
    c = F.col(text_col)
    after_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    red = F.regexp_replace(after_ip, PHONE_RE, "<PHONE>")
    return (
        df.withColumn("n_emails", F.regexp_count(c, F.lit(EMAIL_RE)))
        .withColumn("n_ips", F.regexp_count(after_email, F.lit(IPV4_RE)))
        .withColumn("n_phones", F.regexp_count(after_ip, F.lit(PHONE_RE)))
        .withColumn(out_col, red)
    )


# ---------------------------------------------------------------------------
# Text normalization
# ---------------------------------------------------------------------------


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "normalized"
) -> DataFrame:
    """Canonical text form for hashing/dedup: strip ASCII control
    characters, lowercase, collapse whitespace runs to single spaces,
    trim. Emits before/after char counts so shrinkage is observable.

    Deliberately ASCII-conservative (no Unicode NFC/NFKC — Spark has
    no native normalizer and a Python UDF would drop the hot path out
    of codegen; at scale, normalize Unicode at ingest in the source
    connector instead)."""
    c = F.col(text_col)
    cleaned = F.regexp_replace(c, r"[\x00-\x1F\x7F]", " ")
    norm = F.trim(F.regexp_replace(F.lower(cleaned), r"\s+", " "))
    return (
        df.withColumn("n_chars_raw", F.length(c))
        .withColumn(out_col, norm)
        .withColumn("n_chars_norm", F.length(norm))
    )


# ---------------------------------------------------------------------------
# URL / domain extraction (provenance analysis)
# ---------------------------------------------------------------------------

# RE2/Java-portable: no lookaround. Host chars then optional port/path.
URL_RE = r"https?://[A-Za-z0-9.-]+(?::\d+)?(?:/[^\s]*)?"
_HOST_RE = r"https?://([A-Za-z0-9.-]+)"


def extract_urls(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Explode every URL in every document to (id, url, domain) rows
    — the provenance signal behind per-domain mixing weights and
    domain-level filtering. Map-side regexp + explode, no shuffle;
    ``domain`` is the lowercased host (port and path stripped).
    Documents without URLs contribute no rows (use a left join
    against ids downstream to keep them)."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)
    ex = df.select(
        F.col(id_col).alias("id"), F.explode_outer(urls).alias("url")
    ).filter(F.col("url").isNotNull())
    return ex.select(
        F.col("id").alias(id_col),
        "url",
        F.lower(F.regexp_extract("url", _HOST_RE, 1)).alias("domain"),
    )


def domain_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide (domain, n_urls, n_docs): the table a curation run
    eyeballs for over-represented hosts and feeds into
    ``sampling.mixture_sample`` weights. One shuffle on domain."""
    u = extract_urls(df, text_col, id_col)
    return u.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct(id_col).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Corpus-level line deduplication (boilerplate removal)
# ---------------------------------------------------------------------------


def line_document_frequency(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Document frequency of every distinct (trimmed) line in the
    corpus — the statistic behind web-pipeline boilerplate removal
    (nav bars, cookie banners, copyright footers repeat across sites;
    real prose does not).

    One explode + one shuffle on the line value: lines are
    de-duplicated within a document by the distinct on (line, id)
    before counting, so a line repeated inside one document counts
    that document once. Returns (line, df).
    """
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(F.split(F.col(text_col), "\n")).alias("_raw"),
    ).filter(F.col("_raw").isNotNull())
    return (
        lines.select(F.trim(F.col("_raw")).alias("line"), "id")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    max_df: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "cleaned",
) -> DataFrame:
    """Remove every line whose corpus-wide document frequency reaches
    ``max_df`` from every document (RefinedWeb/CCNet-style boilerplate
    dedup), preserving the order of the surviving lines.

    Scale shape — three shuffles, none carrying raw documents twice:

    1. line DF (``line_document_frequency``): explode + distinct +
       count, keyed on the line value;
    2. the heavy-line set (only lines with ``df >= max_df`` — the
       boilerplate vocabulary, orders of magnitude smaller than the
       line stream) equi-joins back against the exploded lines. AQE
       converts this to a broadcast join whenever the heavy set fits;
       no explicit ``broadcast()`` because at 100 TB the set's size
       is corpus-dependent and a forced broadcast is the OOM path.
    3. reassembly: one groupBy on the document id; line order is
       restored by sorting the collected (pos, line) structs, so no
       per-document window or global sort is involved.

    Lines are compared TRIMMED (leading/trailing whitespace does not
    disguise boilerplate), and blank lines shared by ``max_df``
    documents are removed like any other repeated line. Documents
    whose every line is boilerplate survive with ``out_col = ''``.

    Returns (id_col, out_col, n_lines, n_removed).
    """
    lines = (
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode_outer(F.split(F.col(text_col), "\n")).alias(
                "pos", "_raw"
            ),
        )
        .filter(F.col("_raw").isNotNull())
        .withColumn("line", F.trim(F.col("_raw")))
    )
    heavy = (
        line_document_frequency(docs, text_col, id_col)
        .filter(F.col("df") >= max_df)
        .select("line", F.lit(1).alias("_heavy"))
    )
    tagged = lines.join(heavy, "line", "left")
    kept_struct = F.when(
        F.col("_heavy").isNull(), F.struct(F.col("pos"), F.col("line"))
    )
    return (
        tagged.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("line"),
                ),
                "\n",
            ).alias(out_col),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.coalesce(F.col("_heavy"), F.lit(0))).alias("n_removed"),
        )
        .select(
            F.col("id").alias(id_col),
            out_col,
            F.col("n_lines").cast("int").alias("n_lines"),
            F.col("n_removed").cast("int").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Mojibake repair (UTF-8 bytes mis-decoded as cp1252/Latin-1)
# ---------------------------------------------------------------------------

# Fixed repair order; every entry is a literal (no regex), so the
# chain stays a single codegen'd projection and the DuckDB oracle can
# replay it with plain replace(). Longest-first within each prefix
# family so 'â€¦' never loses its tail to a shorter sibling.
MOJIBAKE_REPAIRS: tuple[tuple[str, str], ...] = (
    ("â€¦", "…"),  # â€¦ -> …
    ("â€™", "’"),  # â€™ -> ’
    ("â€˜", "‘"),  # â€˜ -> ‘
    ("â€œ", "“"),  # â€œ -> “
    ("â€“", "–"),  # â€“ -> –
    ("â€”", "—"),  # â€” -> —
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¨", "è"),  # Ã¨ -> è
    ("Ã¡", "á"),  # Ã¡ -> á
    ("Ã³", "ó"),  # Ã³ -> ó
    ("Ã±", "ñ"),  # Ã± -> ñ
    ("Ã¼", "ü"),  # Ã¼ -> ü
    ("Ã¶", "ö"),  # Ã¶ -> ö
    ("Ã§", "ç"),  # Ã§ -> ç
    ("Ã¯", "ï"),  # Ã¯ -> ï
    ("Â«", "«"),  # Â« -> «
    ("Â»", "»"),  # Â» -> »
    ("Â°", "°"),  # Â° -> °
    ("Â ", " "),  # Â + nbsp -> space
)


def fix_mojibake(
    df: DataFrame, text_col: str = "text", out_col: str = "fixed"
) -> DataFrame:
    """Repair the classic double-encoding artifacts (UTF-8 bytes
    decoded as cp1252: 'â€™' for ''', 'Ã©' for 'é', ...) with a fixed
    chain of literal replacements — the pragmatic subset of ftfy that
    covers the overwhelming majority of real-web mojibake without a
    Python UDF.

    Map-only: one projection per row, whole-stage codegen'd; at
    100 TB this pipelines with the scan like any other narrow
    transform. Emits before/after char counts (mojibake repair always
    shrinks or preserves length, so ``n_chars_fixed <= n_chars_raw``
    is a cheap invariant to monitor).
    """
    c = F.col(text_col)
    fixed = c
    for bad, good in MOJIBAKE_REPAIRS:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    return (
        df.withColumn("n_chars_raw", F.length(c))
        .withColumn(out_col, fixed)
        .withColumn("n_chars_fixed", F.length(F.col(out_col)))
    )


def shared_shingle_stats(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fraction of its distinct n-gram shingles that
    occur in at least one OTHER document — the corpus-overlap signal
    behind boilerplate detection and near-dup triage: a document
    whose shingles are mostly shared is template/recycled content,
    one near zero is original. Complements ``repetition_stats``
    (intra-document) and ``line_document_frequency`` (line-grain)
    at the shingle grain.

    Scale shape: one shingle materialization
    (``dedup.with_shingles``, hashed via the md5-prefix portable
    hash so the shuffle key is a fixed-width long AND the DuckDB
    oracle can reproduce it), one explode, then the corpus document
    frequency as a COUNT WINDOW over the hash partition of the SAME
    exploded frame — not a groupBy-then-rejoin, which re-evaluates
    the lambda-bearing shingle subplan once per join side (no
    exchange reuse through lambdas; the tf_idf/unigram discipline,
    measured ~1.8x here at sf1) — and one groupBy per doc. Shingles
    are distinct within a document, so the DF count per hash is
    exactly the number of containing documents. No all-pairs work
    anywhere — cost is linear in total shingle volume, and a hot
    boilerplate shingle costs one wide window partition, not an
    O(m²) fan-out.

    Output: (id, n_shingles, n_shared, shared_fraction); null
    fraction for documents too short to have a shingle.
    """
    from pyspark.sql import Window

    from pos_api_pipeline_spark.llm.dedup import with_shingles

    # with_shingles standardizes the id column name to "id".
    sh = with_shingles(
        df, text_col=text_col, id_col=id_col, n=n,
        out_col="_sh", hashed=True, portable=True,
    ).select("id", "_sh")
    ex = sh.select(
        "id", F.explode_outer("_sh").alias("h")
    ).filter(F.col("h").isNotNull())
    cwd = ex.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    per_doc = (
        cwd.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") > 1).cast("long")).alias("n_shared"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias(
                "n_shingles"
            ),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias(
                "n_shared"
            ),
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_shared").cast("double") / F.col("n_shingles"),
            ).alias("shared_fraction"),
        )
    )


def _span_tokens(text_col: str) -> Column:
    """The span family's tokenizer: lowercased whitespace tokens,
    empties dropped — shared by the gram stream, the span text and
    the excision, so positions agree across all three."""
    return tokens(F.lower(F.col(text_col)))


def _gram_stream(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos, h1, h2): one row per positional k-token gram, its
    identity a 128-bit pair of independent xxhash64 streams (a false
    merge needs a simultaneous 2⁻¹²⁸-scale collision in both). The
    rows carry no tokens, so whatever shuffle follows moves four
    longs per gram.

    localCheckpointed lazily (materialized inside the first action):
    the stream typically feeds both a gram-identity aggregate and the
    sieve's stream side, and the lambda-bearing tokenize tree never
    canonicalizes, so without the cut the corpus would be scanned and
    re-hashed per consumer."""
    toked = spread_small_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
    ).select("id", _span_tokens(text_col).alias("_toks"))
    # sequence(1, 0) runs BACKWARDS — guard short docs to an empty
    # gram array; explode_outer + null filter keeps the tokenize tree
    # out of an inferred scan filter.
    gram_strs = F.when(
        F.size("_toks") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - F.lit(k - 1)),
            lambda i: F.array_join(F.slice("_toks", i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toked.select("id", F.posexplode_outer(gram_strs).alias("pos", "_g"))
        .filter(F.col("_g").isNotNull())
        .select(
            "id",
            F.col("pos").cast("long").alias("pos"),
            F.xxhash64("_g").alias("h1"),
            F.xxhash64(F.lit(7), "_g").alias("h2"),
        )
        .localCheckpoint(eager=False)
    )


def _gram_spans(
    df: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    kept: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The one gram-span engine behind ``repeated_substring_spans``,
    ``contaminated_spans`` and ``suffix.repeated_spans_exact``: every
    positional k-gram whose identity is in ``kept(grams)`` (an
    (h1, h2) frame built from the gram stream or from elsewhere) is
    flagged by a semi-join sieve, and flagged grams are merged into
    MAXIMAL per-document spans by one gaps-and-islands window — a
    flagged gram starting more than k tokens after the previous one
    opens a new island, so overlapping or token-adjacent grams fuse.

    A sieve rather than a window over the gram partition: a window
    puts every occurrence of one boilerplate gram in a single task,
    while the semi-join's stream side is AQE-skew-splittable.

    Output: (id_col, span_start, span_end, n_grams), token positions
    0-based inclusive; the id column keeps the input's type."""
    from pyspark.sql import Window

    grams = _gram_stream(df, k, text_col, id_col)
    flagged = grams.join(kept(grams), ["h1", "h2"], "left_semi")
    w = Window.partitionBy("id").orderBy("pos")
    new_island = F.when(
        F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)
    ).otherwise(F.lit(1))
    islands = flagged.withColumn("_ni", new_island).withColumn(
        "island",
        F.sum("_ni").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    ).select(
        F.col("id").alias(id_col), "span_start", "span_end", "n_grams"
    )


def _with_span_text(
    spans: DataFrame, docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Attach ``span_tokens``: the span's tokens re-joined with single
    spaces. The text joins back once per SPAN, after aggregation, and
    is tokenized after the join — only documents with a span pay for
    it, and the gram stream never carries the token array."""
    joined = spans.join(
        docs.select(F.col(id_col), F.col(text_col).alias("_text")), id_col
    )
    return joined.select(
        id_col,
        "span_start",
        "span_end",
        "n_grams",
        F.array_join(
            F.slice(
                _span_tokens("_text"),
                F.col("span_start") + 1,
                F.col("span_end") - F.col("span_start") + 1,
            ),
            " ",
        ).alias("span_tokens"),
    )


def repeated_substring_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring detection at the k-token
    grain — the fixed-length form of Lee et al. 2022's exact
    substring dedup ("Deduplicating Training Data Makes Language
    Models Better"): every k-token window occurring in ≥ ``min_docs``
    distinct documents is flagged (a repeat inside one document
    counts once), and flagged windows are merged into MAXIMAL spans
    per document, so a 200-token license block shared by thousands
    of pages comes back as one span per page, not 193 window hits.
    ``suffix.repeated_spans_exact`` is the every-occurrence form.

    Shape: ``_gram_spans`` with a distinct-document count per gram
    identity as the kept set — linear in corpus tokens, and a hot
    gram's partial counts combine map-side before its one exchange.

    Output: (id_col, span_start, span_end, n_grams, span_tokens) with
    token positions 0-based inclusive.
    """

    def shared(grams: DataFrame) -> DataFrame:
        return (
            grams.groupBy("h1", "h2")
            .agg(F.countDistinct("id").alias("_nd"))
            .filter(F.col("_nd") >= min_docs)
            .select("h1", "h2")
        )

    spans = _gram_spans(df, k, text_col, id_col, shared)
    return _with_span_text(spans, df, text_col, id_col)


def contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Span-grain benchmark decontamination (the surgical form of
    ``decontaminate``): every MAXIMAL token span of a corpus document
    whose k-gram windows all appear in the benchmark set — the output
    a span-removal pass consumes when dropping whole documents is too
    lossy (Lee et al. 2022 §4; The Pile / RedPajama decontamination).
    ``contamination`` answers "how contaminated is this doc";
    this answers "which exact ranges must be cut".

    Plan: ``_gram_spans`` with the benchmark's distinct gram
    identities — hashed by the same gram stream — as the kept set.
    Eval sets are MBs against TBs, so that set is an explicit
    **broadcast** and the corpus never shuffles on the gram identity;
    the only wide step is the per-document island window.

    Output: (id_col, span_start, span_end, n_grams, span_tokens),
    token positions 0-based inclusive.
    """
    bench_text = bench_text_col or text_col
    bench_grams = (
        _gram_stream(
            benchmark.select(
                F.monotonically_increasing_id().alias("_bid"),
                F.col(bench_text).alias("_text"),
            ),
            k,
            "_text",
            "_bid",
        )
        .select("h1", "h2")
        .distinct()
    )
    spans = _gram_spans(
        docs, k, text_col, id_col, lambda _grams: F.broadcast(bench_grams)
    )
    return _with_span_text(spans, docs, text_col, id_col)


def remove_contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Apply the surgical cut: rebuild each document with every
    ``contaminated_spans`` range excised, keeping the rest of the
    page — the span-removal policy (Lee et al. 2022 §4) where
    ``decontaminate`` drops whole documents.

    The rebuilt text is TOKEN-level (surviving tokens re-joined with
    single spaces): original whitespace inside and around the cuts is
    not preserved, which is exactly what a tokenizer-bound training
    pipeline consumes. Documents with no contamination pass through
    with ``n_tokens_removed = 0`` (their text is also re-joined, so
    the column is uniformly normalized).

    Plan: the spans aggregate to ONE array row per contaminated
    document (documents are pages, spans per page are few), which
    left-joins the token frame; the excision is a higher-order
    ``filter`` over token positions — map-side, no extra shuffle
    beyond the span derivation itself.

    Output: (id_col, cleaned, n_tokens, n_tokens_removed).
    """
    spans = contaminated_spans(
        docs, benchmark, k, text_col, id_col, bench_text_col
    )
    return excise_token_spans(docs, spans, text_col, id_col)


def excise_token_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-level span excision shared by decontamination
    (``remove_contaminated_spans``) and self-repeat dedup
    (``llm/suffix.py:remove_repeated_spans``): rebuild each document
    with every (span_start, span_end) range in ``spans`` cut out,
    lowercased surviving tokens re-joined with single spaces. Every
    input document appears in the output (no spans → clean
    pass-through); ``n_tokens`` is the ORIGINAL token count.

    Plan: spans aggregate to one array row per affected document,
    left-join the token frame, higher-order position filter —
    map-side beyond the span derivation itself."""
    per_doc = spans.groupBy(F.col(id_col).alias("id")).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("a"), F.col("span_end").alias("b"))
        ).alias("_cuts")
    )
    # Null text must normalize like everything else: split(NULL) is
    # NULL, size(NULL) is -1 under non-ANSI defaults, and array_join
    # of NULL is NULL — coalescing the token array to empty keeps the
    # "uniformly normalized" contract (cleaned='', n_tokens=0).
    toks = F.coalesce(
        _span_tokens(text_col), F.array().cast("array<string>")
    )
    toked = docs.select(
        F.col(id_col).alias("id"), F.col(text_col)
    ).withColumn("_toks", toks)
    cut = F.coalesce(F.col("_cuts"), F.array())
    in_any_span = lambda i: F.exists(  # noqa: E731 — tiny local pred
        cut, lambda s: (i >= s["a"]) & (i <= s["b"])
    )
    # sequence(0, -1) runs BACKWARDS for empty docs, which would
    # zip null-padded phantom tokens; guard to an empty index array.
    positions = F.when(
        F.size("_toks") >= 1,
        F.sequence(F.lit(0), F.size("_toks") - 1),
    ).otherwise(F.array().cast("array<int>"))
    survivors = F.filter(
        F.zip_with(
            F.col("_toks"),
            positions,
            lambda t, i: F.struct(t.alias("t"), in_any_span(i).alias("x")),
        ),
        lambda s: ~s["x"],
    )
    return (
        toked.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.array_join(
                F.transform(survivors, lambda s: s["t"]), " "
            ).alias("cleaned"),
            F.size("_toks").cast("long").alias("n_tokens"),
            (
                F.size("_toks")
                - F.size(F.transform(survivors, lambda s: s["t"]))
            )
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )
