"""Seeded input generators for the lifecycle benchmark.

Everything here is pure Python driven by one ``random.Random(seed)``:
the same seed gives byte-identical receipts and documents. The
program under test only ever sees what these functions return — the
fetcher pages for the POS DAG and the document deltas for curation.

Receipt invariants the output checks rely on:

- ``(receipt_number, item_name)`` is unique across everything a seed
  generates, so the lake's latest-wins dedup keeps every line and the
  expected totals are exact;
- prices are whole pesos, so float sums are exact;
- receipts are stamped 15:00-23:59 UTC, so the lake partition (local
  time, UTC-6) and the report month tag (UTC) agree on the day;
- each page is sorted by ``created_at``.
"""

from __future__ import annotations

import calendar
import datetime as dt
import itertools
import random

# (item_name, price). Combo rows carry Hamburguesa/Refresco/Mayonesa
# modifiers so the combo explode and the basket miner have real work.
MENU = [
    ("Papas Fritas", 45.0),
    ("Papas Gajo", 55.0),
    ("Malteada Chocolate", 65.0),
    ("Malteada Fresa", 65.0),
    ("Hamburguesa Sencilla", 95.0),
    ("Doble Chicken", 130.0),
    ("Hot Dog", 50.0),
    ("Refresco", 30.0),
    ("Agua Fresca", 25.0),
    ("Alitas BBQ", 120.0),
    ("Nuggets", 70.0),
    ("Ensalada", 85.0),
]
COMBOS = [("Combo Sencillo", 150.0), ("Combo Doble", 210.0), ("Combo Familiar", 390.0)]
BURGERS = ["Smash", "Chiken", "Clasica", "BBQ"]
SODAS = ["Coca", "Sprite", "Fanta"]
MAYOS = ["Ajo", "Chipotle", "Natural"]
ORDERS = ["Mesa 1", "Mesa-2", "Para Llevar", "Llevar 01", "A domicilio", "Mesa 3"]
PAYMENTS = ["CASH", "CARD"]

# Curation vocabulary: alphabetic words of 3-8 letters plus Gopher
# stopwords, so most documents pass the rule filter.
WORDS = (
    "spark table query stream window filter merge batch vector column "
    "shard token corpus budget packer sample ledger receipt basket order "
    "engine driver worker stage shuffle bucket signal market orchard "
    "harbor meadow canyon forest river planet rocket silver copper amber "
    "violet yellow purple orange garden kitchen window pillow candle mirror"
).split()
STOP = ["the", "to", "of", "and", "with", "that", "have", "be"]
# Word frequencies follow Zipf's law (weight 1/rank), as in natural text,
# so the most frequent character pairs, and with them the BPE merges, are
# nearly the same for every seed. Uniform words make the top pairs nearly
# tie: each seed then learns other merges in other batches, at up to three
# times the cost (RESULTS.md).
WORD_CUM_WEIGHTS = list(itertools.accumulate(1.0 / rank for rank in range(1, len(WORDS) + 1)))


def iso(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def _combo_modifiers(rng: random.Random, n_burgers: int) -> list[dict]:
    mods = [{"name": "Hamburguesa", "option": rng.choice(BURGERS)} for _ in range(n_burgers)]
    mods.append({"name": "Refresco", "option": rng.choice(SODAS)})
    mods += [{"name": "Mayonesa", "option": rng.choice(MAYOS)} for _ in range(n_burgers)]
    return mods


def _receipt(rng: random.Random, number: str, ts: dt.datetime) -> dict:
    n_plain = rng.choice((1, 1, 2, 2, 3))
    lines = []
    for name, price in rng.sample(MENU, n_plain):
        qty = rng.choice((1, 1, 2))
        lines.append({
            "item_name": name, "cost": price * 0.4, "price": price,
            "total_money": price * qty, "line_modifiers": [],
        })
    if rng.random() < 0.35:
        name, price = rng.choice(COMBOS)
        lines.append({
            "item_name": name, "cost": price * 0.4, "price": price,
            "total_money": price,
            "line_modifiers": _combo_modifiers(rng, 1 + (name == "Combo Familiar")),
        })
    stamp = iso(ts)
    return {
        "receipt_number": number,
        "receipt_date": stamp,
        "created_at": stamp,
        "updated_at": stamp,
        "order": rng.choice(ORDERS),
        "payments": [{"type": rng.choice(PAYMENTS)}],
        "line_items": lines,
    }


def receipts_for_day(rng: random.Random, day: dt.date, n: int, tag: str) -> list[dict]:
    """``n`` receipts on ``day``, ascending ``created_at``, stamped
    15:00-23:59 UTC."""
    base = dt.datetime(day.year, day.month, day.day, 15, 0)
    span_s = 9 * 3600 // n
    offsets = sorted(rng.randrange(i * span_s, (i + 1) * span_s) for i in range(n))
    return [
        _receipt(rng, f"{tag}-{day:%Y%m%d}-{i:05d}", base + dt.timedelta(seconds=s))
        for i, s in enumerate(offsets)
    ]


def month_days(year: int, month: int) -> list[dt.date]:
    return [dt.date(year, month, d) for d in range(1, calendar.monthrange(year, month)[1] + 1)]


def add_months(year: int, month: int, k: int) -> tuple[int, int]:
    idx = year * 12 + (month - 1) + k
    return idx // 12, idx % 12 + 1


def receipt_lines(receipts: list[dict]) -> tuple[int, float]:
    """(line count, Σ total_money) — what the lake must hold after
    ingesting ``receipts``."""
    n = sum(len(r["line_items"]) for r in receipts)
    total = sum(li["total_money"] for r in receipts for li in r["line_items"])
    return n, total


def month_kpis(receipts: list[dict]) -> dict[str, tuple[float, int]]:
    """{'YYYY-MM': (revenue, distinct receipts)} keyed by the UTC month
    of ``receipt_date`` — the monthly report's ``kpis`` grain."""
    acc: dict[str, list] = {}
    for r in receipts:
        tag = r["receipt_date"][:7]
        rev, ids = acc.setdefault(tag, [0.0, set()])
        acc[tag][0] = rev + sum(li["total_money"] for li in r["line_items"])
        ids.add(r["receipt_number"])
    return {k: (v[0], len(v[1])) for k, v in acc.items()}


def page_fetcher(page: list[dict]):
    """The injectable REST fetcher: one page, no next cursor."""
    return lambda cursor: (page, None)


class PosMonthInputs:
    """A year in the life of the POS lake, closed mid-month.

    The shop's traffic is one full page a day: the 175 receipts an
    incremental fetch is capped at (the reference's ``etl/extract.py:318``),
    fetched once per daily DAG run. Every figure below is counted in those
    days. ``HISTORY_MONTHS`` whole months before the live month M, and M's
    days before ``FIRST_TICK_DAY``, seed the lake, about 135k lines. The
    ticks then ingest one page for each day from ``FIRST_TICK_DAY`` on, so
    the report branch stays skipped and every merge rewrites half a month.
    The close is the first-of-month run on the 1st of M+1: it ingests the
    page of the day after the last tick, still inside M, and reports on M."""

    PAGE = 175
    HISTORY_MONTHS = 11
    FIRST_TICK_DAY = 15
    LAST_TICK_DAY = 27

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.tag = f"s{seed}"
        self.start = (2023 + self.rng.randrange(2), 1 + self.rng.randrange(12))
        self.live = add_months(*self.start, self.HISTORY_MONTHS)
        self.next_day = dt.date(*self.live, self.FIRST_TICK_DAY)

    def history(self) -> list[dict]:
        days = [d for k in range(self.HISTORY_MONTHS) for d in month_days(*add_months(*self.start, k))]
        days += month_days(*self.live)[:self.FIRST_TICK_DAY - 1]
        return [r for day in days for r in receipts_for_day(self.rng, day, self.PAGE, self.tag)]

    def watermark(self) -> str:
        """Midnight UTC before the first tick day: after every history
        receipt, before every live one."""
        return iso(dt.datetime(*self.live, self.FIRST_TICK_DAY))

    def tick_page(self) -> tuple[dt.date, list[dict]]:
        day = self.next_day
        if day.day > self.LAST_TICK_DAY:
            raise RuntimeError(f"no tick day left in {self.live}")
        self.next_day = day + dt.timedelta(days=1)
        return day, receipts_for_day(self.rng, day, self.PAGE, self.tag)

    def close_page(self) -> tuple[dt.date, list[dict]]:
        """(run date, page): the page is dated the day after the last
        tick, and the run date is the 1st of the next month."""
        page = receipts_for_day(self.rng, self.next_day, self.PAGE, self.tag + "c")
        return dt.date(*add_months(*self.live, 1), 1), page

    def report_months(self) -> list[str]:
        prev = add_months(*self.live, -1)
        return [f"{y}-{m:02d}" for y, m in (self.live, prev)]


def _sentence(rng: random.Random, n: int) -> list[str]:
    words = rng.choices(WORDS, cum_weights=WORD_CUM_WEIGHTS, k=n)
    return [rng.choice(STOP) if rng.random() < 0.15 else w for w in words]


def documents(seed: int, n_docs: int) -> list[dict]:
    """Documents with the shape of the engine's ``documents`` table.

    About 8 % are exact copies and 8 % near copies (two words changed)
    of an earlier document, and 5 % are too short for the rule filter.
    Ids ascend, so a copy always has a higher id than its original.
    Copies are made of originals only, never of other copies: every
    planted duplicate group is a star around its original, not a chain
    whose length, and with it the number of connected-components
    rounds, changes with the seed."""
    rng = random.Random(seed)
    originals: list[list[str]] = []
    out = []
    for doc_id in range(n_docs):
        r = rng.random()
        if originals and r < 0.08:
            words = list(rng.choice(originals))
        elif originals and r < 0.16:
            words = list(rng.choice(originals))
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        elif r < 0.21:
            words = _sentence(rng, rng.randint(3, 8))
            originals.append(words)
        else:
            words = _sentence(rng, rng.randint(30, 90))
            originals.append(words)
        text = " ".join(words)
        out.append({
            "doc_id": doc_id, "text": text, "lang": rng.choice(("en", "es")),
            "source": f"src{doc_id % 4}", "n_chars": len(text),
        })
    return out


def split_deltas(docs: list[dict], k: int) -> list[list[dict]]:
    """Consecutive id ranges: delta i only repeats docs of deltas ≤ i."""
    step = -(-len(docs) // k)
    return [docs[i * step:(i + 1) * step] for i in range(k)]


def exact_copy_ids(docs: list[dict]) -> set[int]:
    """Ids whose text repeats a lower id's text: every dedup must drop them."""
    seen: set[str] = set()
    out = set()
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        if d["text"] in seen:
            out.add(d["doc_id"])
        seen.add(d["text"])
    return out
