"""Tests of the benchmark itself: input generators, output checks, the
tail-percentile rule, and agreement between BENCHMARK.json and what
run.py reports. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from collections import Counter
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def _pos_stream(seed: int) -> list:
    inputs = gen.PosMonthInputs(seed)
    out = [inputs.history()]
    out += [inputs.tick_page() for _ in range(4)]
    out.append(inputs.close_page())
    return out


# --------------------------------------------------------------------------
# Generators
# --------------------------------------------------------------------------


def test_generators_are_deterministic_per_seed():
    assert _pos_stream(7) == _pos_stream(7)
    assert gen.documents(7, 300) == gen.documents(7, 300)
    assert _pos_stream(7) != _pos_stream(8)
    assert gen.documents(7, 300) != gen.documents(8, 300)


def test_receipt_lines_are_unique_and_pages_ascend():
    inputs = gen.PosMonthInputs(3)
    pages = [inputs.history()] + [inputs.tick_page()[1] for _ in range(5)]
    pages.append(inputs.close_page()[1])
    keys = Counter(
        (r["receipt_number"], li["item_name"]) for p in pages for r in p for li in r["line_items"]
    )
    assert max(keys.values()) == 1
    stamps = [r["created_at"] for p in pages for r in p]
    assert stamps == sorted(stamps)
    # Every live receipt is newer than the seeded watermark.
    assert all(r["created_at"] > inputs.watermark() for p in pages[1:] for r in p)
    assert all(len(p) <= 175 for p in pages[1:])


def test_receipts_carry_combo_modifiers():
    receipts = gen.PosMonthInputs(1).history()
    mods = {m["name"] for r in receipts for li in r["line_items"]
            if "Combo" in li["item_name"] for m in li["line_modifiers"]}
    assert {"Hamburguesa", "Refresco", "Mayonesa"} <= mods


def test_ticks_run_mid_month_over_the_live_month_so_far():
    inputs = gen.PosMonthInputs(5)
    history = inputs.history()
    live = "%d-%02d" % inputs.live
    seeded_days = {r["receipt_date"][:10] for r in history if r["receipt_date"].startswith(live)}
    assert len(seeded_days) == inputs.FIRST_TICK_DAY - 1
    assert len({r["receipt_date"][:7] for r in history}) == inputs.HISTORY_MONTHS + 1
    # Every day of history arrives at the live page rate.
    per_day = Counter(r["receipt_date"][:10] for r in history)
    assert set(per_day.values()) == {inputs.PAGE}
    days = [inputs.tick_page()[0] for _ in range(10)]
    assert days[0].day == inputs.FIRST_TICK_DAY
    assert all(d.day != 1 for d in days)
    run_date, batch = inputs.close_page()
    assert run_date.day == 1
    assert {r["receipt_date"][:7] for r in batch} == {inputs.report_months()[0]}


def test_documents_plant_exact_and_near_copies():
    docs = gen.documents(2, 1000)
    copies = gen.exact_copy_ids(docs)
    assert 40 < len(copies) < 150
    deltas = gen.split_deltas(docs, 12)
    assert sum(map(len, deltas)) == len(docs)
    assert [d["doc_id"] for d in deltas[0]] == list(range(len(deltas[0])))


def test_document_words_follow_one_zipf_ranking_for_every_seed():
    from collections import Counter

    for seed in (1, 2, 3):
        counts = Counter(w for d in gen.documents(seed, 1000) for w in d["text"].split()
                         if w not in gen.STOP)
        assert [w for w, _ in counts.most_common(3)] == gen.WORDS[:3]


# --------------------------------------------------------------------------
# Output checks reject corrupted outputs
# --------------------------------------------------------------------------


def test_lake_check_rejects_a_dropped_row():
    receipts = gen.PosMonthInputs(4).history()
    want = gen.receipt_lines(receipts)
    assert checks.lake_totals(want, want) == []
    dropped = receipts[0]["line_items"][0]["total_money"]
    assert checks.lake_totals((want[0] - 1, want[1] - dropped), want)


def _kpi_md(rows: list[tuple[str, float, int]]) -> str:
    body = "\n".join(f"| {m} | {r} | {n} |" for m, r, n in rows)
    return ("# Monthly Report\n\n## Top Products\n\n| item_name | count |\n| --- | --- |\n| A | 1 |\n\n"
            f"## Kpis\n\n| month_tag | revenue | n_receipts |\n| --- | --- | --- |\n{body}\n")


def test_monthly_kpi_check_reads_the_report_table():
    want = {"2024-05": (1250.0, 10), "2024-04": (990.0, 8)}
    good = _kpi_md([("2024-04", 990.0, 8), ("2024-05", 1250.0, 10)])
    assert checks.monthly_kpis(good, want) == []
    assert checks.monthly_kpis(_kpi_md([("2024-04", 990.0, 8), ("2024-05", 1200.0, 10)]), want)
    assert checks.monthly_kpis(_kpi_md([("2024-05", 1250.0, 10)]), want)


def test_dag_status_check_follows_the_branch_rule():
    daily = dict(checks.DAILY_STATUSES)
    assert checks.dag_statuses(daily, first_of_month=False) == []
    assert checks.dag_statuses(daily, first_of_month=True)
    assert checks.dag_statuses({**daily, "end": "failed"}, first_of_month=False)


def test_pdf_check(tmp_path):
    good, bad = tmp_path / "a.pdf", tmp_path / "b.pdf"
    good.write_bytes(b"%PDF-1.4 ...")
    bad.write_bytes(b"<html>")
    assert checks.pdfs([good]) == []
    assert checks.pdfs([bad])
    assert checks.pdfs([tmp_path / "missing.pdf"])


def test_curation_checks():
    assert checks.no_repeats([1, 2, 3], "corpus") == []
    assert checks.no_repeats([1, 2, 2], "corpus")
    assert checks.within_budget(20_000, 20_000) == []
    assert checks.within_budget(20_001, 20_000)
    assert checks.id_sets("train", [1, 2], [2, 1]) == []
    assert checks.id_sets("train", [1], [1, 2])
    assert checks.disjoint("cc", [1, 2], {3}) == []
    assert checks.disjoint("cc", [1, 3], {3})


# --------------------------------------------------------------------------
# Fixed work per run, and the traced run's time attribution
# --------------------------------------------------------------------------


def test_every_run_of_a_workload_does_the_same_ticks():
    import workloads

    pos, llm = workloads.PosMonth, workloads.LlmCuration
    assert pos.TICKS > 0 and llm.TICKS == llm.N_DELTAS
    # The close's page is dated the day after the last tick, inside the month.
    assert gen.PosMonthInputs.FIRST_TICK_DAY + pos.TICKS <= gen.PosMonthInputs.LAST_TICK_DAY


def test_wrapped_calls_read_facts_from_the_enclosing_span():
    tracer = spans.Tracer(True, "t")
    with tracer.span("plans.run_production_etl") as outer:
        outer.attrs["own_rows"] = 42
        with tracer.span("plans.daily_incremental_run"):
            with tracer.span("lake.merge_and_overwrite") as inner:
                assert tracer.inherited(inner, "own_rows") == 42
                assert tracer.inherited(inner, "missing") is None


def test_entry_self_time_is_what_no_inner_span_names():
    tracer = spans.Tracer(True, "t")
    s = tracer.spans
    for sp in (spans.Span(0, "plans.run_production_etl", None, 0.0, 10.0),
               spans.Span(1, "plans.daily_incremental_run", 0, 1.0, 8.0),
               spans.Span(2, "lake.merge_and_overwrite", 1, 2.0, 6.0),
               spans.Span(3, "plans.run_production_etl", None, 10.5, 12.0)):
        s.append(sp)
    lifecycle = {"ticks_s": [10.0, 1.5], "batch_s": 0.5, "rows": []}
    m = run.layer_metrics(tracer, 0, lifecycle, {}, 4, 0.0)
    assert m["trace.entry_self_s"] == pytest.approx(3.0 + 1.5)
    assert m["trace.outside_s"] == pytest.approx(12.0 - 11.5)
    assert m["trace.inner_self_s"] == pytest.approx(7.0)
    assert m["plans.daily_incremental_run.self_s"] == pytest.approx(3.0)


# --------------------------------------------------------------------------
# Statistics
# --------------------------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    assert stats.tail(list(range(10))) is None
    pct, value = stats.tail(list(range(1, 101)))
    assert (pct, value) == (90.0, 90)
    assert sum(v > value for v in range(1, 101)) == 10
    samples = [0.5 * i for i in range(20)]
    pct, value = stats.tail(samples)
    assert pct == 50.0 and sum(v > value for v in samples) == 10
    assert stats.tail(list(range(11)))[1] == 0


def test_spread_matches_the_quartile_rule():
    assert stats.spread([1.0] * 5) == 0.0
    assert stats.spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)


# --------------------------------------------------------------------------
# BENCHMARK.json agrees with run.py
# --------------------------------------------------------------------------


def test_benchmark_json_matches_reported_metrics():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert spec["paths"] == ["perfbench"]
