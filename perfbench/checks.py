"""Output checks. Each returns a list of failure messages (empty when
the output is right) and works on plain Python values, so a check can
be tested on a corrupted output without running the pipeline."""

from __future__ import annotations

from collections import Counter
from pathlib import Path

DAILY_STATUSES = {
    "start": "success",
    "run_daily_incremental_etl": "success",
    "check_if_first_day_of_month": "success",
    "run_monthly_report_task": "skipped",
    "run_cumulative_report_task": "skipped",
    "skip_reporting_task": "success",
    "end": "success",
}
CLOSE_STATUSES = {
    **DAILY_STATUSES,
    "run_monthly_report_task": "success",
    "run_cumulative_report_task": "success",
    "skip_reporting_task": "skipped",
}


def dag_statuses(statuses: dict, first_of_month: bool) -> list[str]:
    """Every task status as the branch rule says for the run date."""
    want = CLOSE_STATUSES if first_of_month else DAILY_STATUSES
    return [
        f"task {task}: {statuses.get(task)!r}, expected {status!r}"
        for task, status in want.items()
        if statuses.get(task) != status
    ]


def equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, expected {want!r}"]


def lake_totals(got: tuple[int, float], want: tuple[int, float]) -> list[str]:
    """Lake line count and Σ total_money equal the generator's totals."""
    return equal("lake lines", got[0], want[0]) + equal("lake total_money", got[1], want[1])


def markdown_table(md: str, section: str) -> list[dict[str, str]]:
    """Rows of the table under ``## <section>`` in a rendered report."""
    lines = md.splitlines()
    try:
        start = lines.index(f"## {section}")
    except ValueError:
        return []
    block = []
    for ln in lines[start + 1:]:
        if ln.startswith("## "):
            break
        if ln.startswith("|"):
            block.append(ln)
    rows = [[c.strip() for c in ln.strip("|").split("|")] for ln in block]
    if len(rows) < 2:
        return []
    return [dict(zip(rows[0], r)) for r in rows[2:]]


def monthly_kpis(md: str, want: dict[str, tuple[float, int]]) -> list[str]:
    """The monthly report's per-month revenue and distinct receipts equal
    the generator's, for exactly the months the report covers."""
    got = {
        r["month_tag"]: (float(r["revenue"]), int(r["n_receipts"]))
        for r in markdown_table(md, "Kpis")
    }
    return equal("monthly kpis", got, want)


def cumulative_kpis(md: str, want: tuple[float, int]) -> list[str]:
    rows = markdown_table(md, "Kpis")
    if len(rows) != 1:
        return [f"cumulative kpis: {len(rows)} rows, expected 1"]
    got = (float(rows[0]["total_revenue"]), int(rows[0]["n_receipts"]))
    return equal("cumulative kpis", got, want)


def pdfs(paths: list[Path]) -> list[str]:
    out = []
    for p in paths:
        if not p.exists():
            out.append(f"missing {p.name}")
        elif not p.read_bytes().startswith(b"%PDF-"):
            out.append(f"{p.name} is not a PDF")
    return out


def figures(paths: list[Path]) -> list[str]:
    if not paths:
        return ["no figures written"]
    return [f"figure {p.name} missing or empty" for p in paths
            if not p.exists() or p.stat().st_size == 0]


def no_repeats(ids: list, what: str) -> list[str]:
    twice = sorted(i for i, n in Counter(ids).items() if n > 1)
    return [f"{what}: {len(twice)} ids land twice, e.g. {twice[:3]}"] if twice else []


def within_budget(tokens: int, budget: int) -> list[str]:
    return [] if tokens <= budget else [f"training set holds {tokens} tokens > budget {budget}"]


def id_sets(what: str, got: list, want: list) -> list[str]:
    g, w = set(got), set(want)
    if g == w:
        return []
    return [f"{what}: {len(g - w)} extra, {len(w - g)} missing "
            f"(e.g. extra {sorted(g - w)[:3]}, missing {sorted(w - g)[:3]})"]


def disjoint(what: str, got: list, forbidden: set) -> list[str]:
    hit = sorted(set(got) & forbidden)
    return [f"{what}: {len(hit)} ids kept that must go, e.g. {hit[:3]}"] if hit else []

