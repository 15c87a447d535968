"""repeated_spans_exact (llm/suffix.py): the gram-cover engine vs an
independent brute-force reference that enumerates every substring,
plus the semantics the fixed-k distinct-document form cannot express
(within-document repeats) and the plan discipline (no
single-partition windows)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pos_api_pipeline_spark.llm.suffix import repeated_spans_exact


def _brute_spans(docs: dict[int, list[str]], min_len: int):
    """Direct definition, no suffix arrays: enumerate EVERY substring
    of length ≥ min_len, count exact occurrences corpus-wide, mark
    covered positions, merge contiguous runs."""
    occ: dict[tuple, int] = {}
    for toks in docs.values():
        for i in range(len(toks)):
            for j in range(i + min_len, len(toks) + 1):
                t = tuple(toks[i:j])
                occ[t] = occ.get(t, 0) + 1
    covered: dict[int, set[int]] = {d: set() for d in docs}
    for d, toks in docs.items():
        for i in range(len(toks)):
            for j in range(i + min_len, len(toks) + 1):
                if occ[tuple(toks[i:j])] >= 2:
                    covered[d].update(range(i, j))
    out = []
    for d, pts in covered.items():
        for p in sorted(pts):
            if out and out[-1][0] == d and out[-1][2] == p - 1:
                out[-1][2] = p
            else:
                out.append([d, p, p])
    return sorted(
        (d, s, e, e - s + 1) for d, s, e in out
    )


def _spark_spans(spark, docs: dict[int, list[str]], min_len: int):
    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items()], "doc_id long, text string"
    )
    rows = repeated_spans_exact(df, min_len=min_len).collect()
    return sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_tokens) for r in rows
    )


def test_matches_brute_force_on_random_corpus(spark):
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(8)]  # tiny vocab → dense repeats
    docs = {
        d: [rng.choice(vocab) for _ in range(rng.randint(0, 40))]
        for d in range(30)
    }
    assert _spark_spans(spark, docs, 4) == _brute_spans(docs, 4)


def test_matches_brute_force_larger_min_len(spark):
    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(30)]
    block = [rng.choice(vocab) for _ in range(12)]
    docs = {}
    for d in range(20):
        toks = [rng.choice(vocab) for _ in range(rng.randint(5, 30))]
        if d % 3 == 0:  # plant a shared 12-token block mid-doc
            cut = len(toks) // 2
            toks = toks[:cut] + block + toks[cut:]
        docs[d] = toks
    assert _spark_spans(spark, docs, 8) == _brute_spans(docs, 8)


def test_within_document_repeat_is_found(spark):
    # the k-gram form (min_docs≥2 distinct docs) misses this by design
    block = "a b c d e f g h".split()
    docs = {
        0: block + ["x", "y"] + block,  # repeated twice in ONE doc
        1: ["p", "q", "r", "s", "t", "u", "v", "w"],
    }
    got = _spark_spans(spark, docs, 8)
    assert got == [(0, 0, 7, 8), (0, 10, 17, 8)]


def test_identical_documents_whole_span(spark):
    toks = [f"k{i}" for i in range(10)]
    docs = {0: toks, 1: list(toks), 2: ["solo", "doc", "here"]}
    got = _spark_spans(spark, docs, 4)
    assert got == [(0, 0, 9, 10), (1, 0, 9, 10)]


def test_variable_length_span_is_maximal(spark):
    # a 20-token shared block must come back as ONE 20-token span,
    # not fixed-k fragments — overlapping repeated grams fuse
    block = [f"b{i}" for i in range(20)]
    docs = {
        0: ["u0"] + block + ["u1"],
        1: ["v0", "v1"] + block,
    }
    got = _spark_spans(spark, docs, 8)
    assert got == [(0, 1, 20, 20), (1, 2, 21, 20)]


def test_empty_and_short_docs(spark):
    docs = {0: [], 1: ["one"], 2: ["one"]}
    assert _spark_spans(spark, docs, 2) == []


def test_no_single_partition_window(spark):
    # the scale discipline: the island merge must never funnel the
    # corpus through one task — assert no empty-partitionBy Window
    df = spark.createDataFrame(
        [(d, "a b c d e f g h i j") for d in range(4)],
        "doc_id long, text string",
    )
    plan = (
        repeated_spans_exact(df, min_len=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan


def test_hot_identical_corpus_stays_linear(spark):
    # skew stress: thousands of byte-identical docs → every gram has
    # thousands of exact twins. The count aggregate combines them
    # map-side and the sieve streams them, so the work stays linear.
    import time as _time

    n = 3000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("same boilerplate sentence repeated in every document here").alias(
            "text"
        ),
    )
    t0 = _time.perf_counter()
    spans = repeated_spans_exact(docs, min_len=4)
    rows = spans.collect()
    assert _time.perf_counter() - t0 < 60
    # every doc fully covered: one whole-doc span each
    assert len(rows) == n
    assert all(r.span_start == 0 and r.n_tokens == 8 for r in rows)


def test_remove_repeated_spans_excises_every_occurrence(spark):
    from pos_api_pipeline_spark.llm.suffix import remove_repeated_spans

    block = "a b c d e f g h".split()
    docs = {
        0: ["u0"] + block + ["u1"],
        1: block + ["v0"],
        2: ["w0", "w1", "w2"],  # untouched
    }
    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.cleaned, r.n_tokens, r.n_tokens_removed)
        for r in remove_repeated_spans(df, min_len=8).collect()
    }
    # the shared 8-token block is cut from BOTH occurrences
    # (deduplicate-text-datasets policy), the rest survives in order
    assert got[0] == ("u0 u1", 10, 8)
    assert got[1] == ("v0", 9, 8)
    assert got[2] == ("w0 w1 w2", 3, 0)


def test_bigram_logprob_strategies_agree(spark):
    # the sf1 crossover measurement: window >= join at every probed
    # scale (1.56x at sf1) -> window default; join kept for AQE skew
    from pos_api_pipeline_spark.llm.text import bigram_logprob

    docs = spark.createDataFrame(
        [(d, " ".join(f"w{(d * 3 + i) % 11}" for i in range(15)))
         for d in range(40)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, bigram_logprob(docs, strategy="window").collect()))
    b = sorted(map(tuple, bigram_logprob(docs, strategy="join").collect()))
    assert a == b
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bigram_logprob(docs, strategy="nope")


def test_empty_return_inherits_id_type(spark):
    """min_len > max doc length must not change the id column's type:
    a string-keyed corpus gets a string id back (r8 advice — the old
    hardcoded 'id long' empty frame broke downstream unions/joins)."""
    from pos_api_pipeline_spark.llm.suffix import remove_repeated_spans

    df = spark.createDataFrame(
        [("doc-a", "a b c"), ("doc-b", "a b c")], "doc_id string, text string"
    )
    out = repeated_spans_exact(df, min_len=50)
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "span_start", "span_end", "n_tokens",
    ]
    assert out.count() == 0
    # and the downstream consumer still composes with it
    kept = remove_repeated_spans(df, min_len=50)
    assert kept.count() == 2
    # long ids keep long, too (no accidental flip the other way)
    df2 = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    assert (
        repeated_spans_exact(df2, min_len=50)
        .schema["doc_id"].dataType.simpleString()
        == "bigint"
    )
