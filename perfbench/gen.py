"""Seeded inputs for the benchmark: the HHS capacity history that seeds the
base lake, the weekly CSV batches of ``ingest_weekly`` and the request
sequence of ``dashboard_reads``.

Everything is drawn from ``random.Random`` seeded with a string derived from
the workload seed, so one seed always gives byte-identical CSV files and the
same request sequence. The generator also keeps the rows it wrote (valid rows
and the reject reason each bad row must get), which ``oracle.py`` uses to
recompute every expected answer in pure Python.
"""

from __future__ import annotations

import csv
import datetime as dt
import functools
import hashlib
import io
import random
from collections import Counter
from dataclasses import dataclass, field

# 50 states + DC + the five territories HHS reports: the ≈50 regions of
# FIXTURES.md §A1.
REGIONS = (
    "Alabama", "Alaska", "American Samoa", "Arizona", "Arkansas", "California",
    "Colorado", "Connecticut", "Delaware", "District of Columbia", "Florida",
    "Georgia", "Guam", "Hawaii", "Idaho", "Illinois", "Indiana", "Iowa",
    "Kansas", "Kentucky", "Louisiana", "Maine", "Maryland", "Massachusetts",
    "Michigan", "Minnesota", "Mississippi", "Missouri", "Montana", "Nebraska",
    "Nevada", "New Hampshire", "New Jersey", "New Mexico", "New York",
    "North Carolina", "North Dakota", "Northern Mariana Islands", "Ohio",
    "Oklahoma", "Oregon", "Pennsylvania", "Puerto Rico", "Rhode Island",
    "South Carolina", "South Dakota", "Tennessee", "Texas", "Utah", "Vermont",
    "Virgin Islands", "Virginia", "Washington", "West Virginia", "Wisconsin",
    "Wyoming",
)

HEADER = (
    "date", "state", "inpatient_beds", "inpatient_beds_used",
    "total_staffed_adult_icu_beds", "staffed_adult_icu_bed_occupancy",
)

# Half a year: every run builds the lake in its set-up, and with a whole year
# a run took 50-70 s, too long for the number of runs a comparison needs.
HISTORY_DAYS = 182
FIRST_DAY = dt.date(2024, 1, 1)
LAST_HISTORY_DAY = FIRST_DAY + dt.timedelta(days=HISTORY_DAYS - 1)
BATCH_NEW_DAYS = 7  # each weekly CSV: 7 new days + 1 restated day
BAD_ROW_SHARE = 0.03

DATE_KINDS = ("metrics_latest", "metrics_compare", "capacity_latest", "dashboard_kpis")
OTHER_KINDS = ("available_dates", "coverage", "coverage_best_date", "runs_latest")
REQUEST_KINDS = DATE_KINDS + OTHER_KINDS
RECENT_DAYS = 14
RECENT_SHARE = 0.8
COVERAGE_MIN_ROWS = (1, 30, 45, 56)

# One bad-row recipe per FIXTURES.md §A6 case, with the reason the
# program must give it (first match wins).
_BAD_CASES = (
    ("date_null", "date is required"),
    ("date_malformed", "date is required"),
    ("region_null", "region is required"),
    ("total_null", "total_beds is required"),
    ("occupied_null", "occupied_beds is required"),
    ("total_negative", "total_beds cannot be negative"),
    ("occupied_negative", "occupied_beds cannot be negative"),
    ("occupied_exceeds", "occupied_beds cannot exceed total_beds"),
    ("icu_negative", "icu_beds cannot be negative"),
    ("icu_occupied_negative", "icu_occupied cannot be negative"),
    ("icu_occupied_exceeds", "icu_occupied cannot exceed icu_beds"),
    ("date_null_total_negative", "date is required"),
)


@dataclass
class Batch:
    """One CSV file: its valid rows keyed by (date, region) and the reason
    each bad row must be rejected with."""

    name: str
    text: str
    valid: dict[tuple[dt.date, str], tuple[int, int, int | None, int | None]]
    reasons: Counter = field(default_factory=Counter)
    path: str = ""

    @property
    def rows_in(self) -> int:
        return len(self.valid) + sum(self.reasons.values())

    @functools.cached_property
    def days(self) -> list[dt.date]:
        return sorted({d for d, _ in self.valid})

    @functools.cached_property
    def dates(self) -> list[str]:
        return [d.isoformat() for d in self.days]


def _rng(seed: int, purpose: str) -> random.Random:
    return random.Random(f"perfbench:{seed}:{purpose}")


def _capacity_row(rng: random.Random, size: int) -> tuple[int, int, int | None, int | None]:
    """(total, occupied, icu_beds, icu_occupied) for one region-day: occupancy
    40-100 % of capacity, ≈5 % NULL ICU fields, a few zero-capacity rows
    (the §A7 division-guard edge cases)."""
    u = rng.random()
    if u < 0.002:
        return 0, 0, None, None
    total = max(1, int(size * rng.uniform(0.95, 1.05)))
    occupied = int(total * rng.uniform(0.4, 1.0))
    if u < 0.05:
        return total, occupied, None, None
    icu = max(0, int(total * rng.uniform(0.06, 0.14)))
    if u < 0.06:
        return total, occupied, icu, None
    if u < 0.065:
        icu = 0
    icu_occ = int(icu * rng.uniform(0.4, 1.0))
    return total, occupied, icu, icu_occ


def _fmt(v) -> str:
    return "" if v is None else str(v)


def _bad_row(case: str, day: dt.date, region: str) -> list[str]:
    date, total, occ, icu, icu_occ = day.isoformat(), "1000", "700", "100", "60"
    if case == "date_null":
        date = ""
    elif case == "date_malformed":
        date = f"{day.year}-13-45"
    elif case == "region_null":
        region = ""
    elif case == "total_null":
        total = ""
    elif case == "occupied_null":
        occ = ""
    elif case == "total_negative":
        total = "-1"
    elif case == "occupied_negative":
        occ = "-5"
    elif case == "occupied_exceeds":
        occ = "1500"
    elif case == "icu_negative":
        icu, icu_occ = "-2", ""
    elif case == "icu_occupied_negative":
        icu_occ = "-1"
    elif case == "icu_occupied_exceeds":
        icu_occ = "150"
    elif case == "date_null_total_negative":
        date, total = "", "-1"
    else:
        raise ValueError(case)
    return [date, region, total, occ, icu, icu_occ]


def _render(rng: random.Random, name: str, cells: dict, bad_offset: int) -> Batch:
    """Write valid rows plus ≈3 % bad rows (cycling through every §A6 case)
    in a seeded order."""
    rows = [[d.isoformat(), r, *(_fmt(v) for v in vals)] for (d, r), vals in cells.items()]
    keys = list(cells)
    reasons: Counter = Counter()
    n_bad = max(len(_BAD_CASES), round(BAD_ROW_SHARE * len(rows)))
    for i in range(n_bad):
        case, reason = _BAD_CASES[(bad_offset + i) % len(_BAD_CASES)]
        day, region = keys[rng.randrange(len(keys))]
        rows.append(_bad_row(case, day, region))
        reasons[reason] += 1
    rng.shuffle(rows)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADER)
    w.writerows(rows)
    return Batch(name, buf.getvalue(), dict(cells), reasons)


def region_sizes(seed: int) -> dict[str, int]:
    rng = _rng(seed, "sizes")
    return {r: int(rng.lognormvariate(8.3, 0.8)) + 50 for r in REGIONS}


def history(seed: int) -> Batch:
    """The base lake's CSV: 182 days × 56 regions. About 1 % of region-days
    are missing, ≈3 % of days are partial reporting days (≈60 % of regions),
    and the last day is partial, as a live feed's newest day is."""
    rng = _rng(seed, "history")
    sizes = region_sizes(seed)
    cells = {}
    for i in range(HISTORY_DAYS):
        day = FIRST_DAY + dt.timedelta(days=i)
        partial = day == LAST_HISTORY_DAY or rng.random() < 0.03
        for r in REGIONS:
            if rng.random() < (0.4 if partial else 0.01):
                continue
            cells[(day, r)] = _capacity_row(rng, sizes[r])
    return _render(rng, "history", cells, bad_offset=0)


def weekly_batches(seed: int, n: int) -> list[Batch]:
    """``n`` weekly CSVs after the history. Batch ``b`` (1-based) restates the
    last day of the week before it and adds the next 7 days, every region
    reporting except ≈1 % of region-days."""
    sizes = region_sizes(seed)
    out = []
    for b in range(1, n + 1):
        rng = _rng(seed, f"week{b}")
        first = LAST_HISTORY_DAY + dt.timedelta(days=BATCH_NEW_DAYS * (b - 1))
        cells = {}
        for k in range(BATCH_NEW_DAYS + 1):
            day = first + dt.timedelta(days=k)
            for r in REGIONS:
                if rng.random() < 0.01:
                    continue
                cells[(day, r)] = _capacity_row(rng, sizes[r])
        out.append(_render(rng, f"week{b:03d}", cells, bad_offset=b))
    return out


def requests(seed: int, n: int, history_dates: list[dt.date]) -> list[dict]:
    """``n`` dashboard requests in blocks of eight, one of each kind per
    block in a seeded order, so every run sees the same mix. In each block
    one of the four date-taking kinds passes ``date=None`` (the default
    latest view); the others pick 80 % of dates from the last 14 history
    days and 20 % uniformly from the whole history."""
    rng = _rng(seed, "requests")
    recent = history_dates[-RECENT_DAYS:]
    out: list[dict] = []
    block = 0
    while len(out) < n:
        kinds = list(REQUEST_KINDS)
        rng.shuffle(kinds)
        none_kind = DATE_KINDS[block % len(DATE_KINDS)]
        for kind in kinds:
            req: dict = {"kind": kind}
            if kind in DATE_KINDS:
                if kind == none_kind:
                    req["date"] = None
                elif rng.random() < RECENT_SHARE:
                    req["date"] = rng.choice(recent)
                else:
                    req["date"] = rng.choice(history_dates)
            elif kind in ("coverage", "coverage_best_date"):
                req["min_rows"] = rng.choice(COVERAGE_MIN_ROWS)
            elif kind == "available_dates":
                req["full"] = rng.random() < 0.5
            else:
                req["limit"] = 20
            out.append(req)
        block += 1
    return out[:n]


def digest(batches: list[Batch], reqs: list[dict]) -> str:
    """sha256 over every CSV byte and the request sequence: equal seeds must
    give equal digests."""
    h = hashlib.sha256()
    for b in batches:
        h.update(b.name.encode())
        h.update(b.text.encode())
    for r in reqs:
        h.update(repr(sorted(r.items())).encode())
    return h.hexdigest()
