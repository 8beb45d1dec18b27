"""Pure-Python expected answers, recomputed from the generator's rows.

The formulas follow FIXTURES.md: the strain index of §A4 (banker's rounding
of the clamped score, as the metrics job stores it), the ETL and API
variants of the occupancy ratios (§A7), and the previous-*calendar*-day
delta of §A8. Stored ratios are rounded to 4 places half-up on the decimal
form of the double, which is what Spark's ``round`` does.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

Cell = tuple[int, int, "int | None", "int | None"]


def round4(x: float | None) -> float | None:
    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def icu_ratio(icu: int | None, icu_occ: int | None) -> float | None:
    if icu is None or icu <= 0 or icu_occ is None:
        return None
    return icu_occ / icu


def strain(total: int, occ: int, icu: int | None, icu_occ: int | None) -> float:
    bed = occ / total if total > 0 else 0.0
    ic = icu_ratio(icu, icu_occ)
    bed_score = bed * 100.0
    icu_score = ic * 100.0 if ic is not None else bed_score
    raw = min(100.0, max(0.0, 0.4 * bed_score + 0.6 * icu_score))
    return round(raw * 100.0) / 100.0


class Lake:
    """The (date, region) → capacity cells the lake should hold."""

    def __init__(self, cells: dict[tuple[dt.date, str], Cell]):
        self.cells = dict(cells)

    def apply(self, valid: dict[tuple[dt.date, str], Cell]) -> None:
        self.cells.update(valid)

    def rows_on(self, day: dt.date) -> list[tuple[str, Cell]]:
        return sorted((r, c) for (d, r), c in self.cells.items() if d == day)

    def dates(self) -> list[dt.date]:
        return sorted({d for d, _ in self.cells})

    def metrics_latest(self, day):
        return [
            (day, r, round4(c[1] / c[0] if c[0] > 0 else 0.0),
             round4(icu_ratio(c[2], c[3])), strain(*c))
            for r, c in self.rows_on(day)
        ]

    def capacity_latest(self, day):
        return [
            (day, r, c[0], c[1], c[2], c[3],
             round4(c[1] / c[0] if c[0] > 0 else None), round4(icu_ratio(c[2], c[3])))
            for r, c in self.rows_on(day)
        ]

    def metrics_compare(self, day):
        prev = day - dt.timedelta(days=1)
        out = []
        for r, c in self.rows_on(day):
            s = strain(*c)
            p = self.cells.get((prev, r))
            ps = strain(*p) if p is not None else None
            out.append((day, r, s, ps, None if ps is None else s - ps))
        return out

    def coverage(self, min_rows):
        counts = Counter(d for d, _ in self.cells)
        return [(d, n) for d, n in sorted(counts.items()) if n >= min_rows]

    def available_dates(self, full):
        ds = self.dates()
        if full:
            return [(d,) for d in ds]
        return [(ds[0], ds[-1], len(ds))]


def same(a, b) -> bool:
    """Row-list equality; floats within 1e-9 (relative), everything else exact."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def check_request(lake: Lake, req: dict, rows: list[tuple], latest: dt.date,
                  runs: list[tuple]) -> str | None:
    """None when ``rows`` (the collected answer to ``req``) is right, else a
    one-line reason."""
    kind = req["kind"]
    day = req.get("date") or latest
    if kind == "metrics_latest":
        want = lake.metrics_latest(day)
    elif kind == "capacity_latest":
        want = lake.capacity_latest(day)
    elif kind == "metrics_compare":
        want = lake.metrics_compare(day)
    elif kind == "dashboard_kpis":
        ml = lake.metrics_latest(day)
        strains = [m[4] for m in ml]
        top = max(strains)
        if len(rows) != 1:
            return f"{kind}: {len(rows)} rows"
        region, hi, avg, crisis = rows[0]
        ok = (
            hi == top
            and region in {m[1] for m in ml if m[4] == top}
            and math.isclose(avg, sum(strains) / len(strains), rel_tol=1e-9)
            and crisis == sum(1 for s in strains if s > 80)
        )
        return None if ok else f"{kind} {day}: got {rows[0]}"
    elif kind == "available_dates":
        want = lake.available_dates(req["full"])
    elif kind == "coverage":
        want = lake.coverage(req["min_rows"])
    elif kind == "coverage_best_date":
        want = lake.coverage(req["min_rows"])[-1:]
    elif kind == "runs_latest":
        # started_at comes from the program's clock, so check the order
        # and compare everything else.
        starts = [r[3] for r in rows]
        if starts != sorted(starts, reverse=True):
            return f"{kind}: not newest first"
        rows = [(r[0], r[2], r[5], r[6], r[7]) for r in rows]
        want = runs[: req["limit"]]
    else:
        raise ValueError(kind)
    if not same([tuple(r) for r in rows], want):
        return f"{kind} {req}: {len(rows)} rows differ from the recomputation"
    return None


def reject_counts(csv_dir: str) -> Counter:
    """Reject reasons found in the rejects CSV the ingest wrote."""
    import csv
    import glob
    import os

    out: Counter = Counter()
    for part in glob.glob(os.path.join(csv_dir, "*.csv")):
        with open(part, newline="") as f:
            for row in csv.DictReader(f):
                out[row["_reject_reason"]] += 1
    return out
