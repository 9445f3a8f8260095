"""Seeded XSMB crawl-drop generator and the plain expected-mart model.

A drop is one CSV per draw day in the reference crawler's format: UTF-8 BOM,
header `prize,number_value,full_date,created_at`, 27 prize rows per day with
the crawler's prize map. A fixed share of days carries one extra row that the
transform must drop: a short row, an unparseable date, or a one-digit
Giai Bay value.

The model recomputes the served mart and statistic from the same draws in
plain Python (no Spark), following the pipeline's documented semantics:
Giai Bay rows only, last two digits as an int, dd-MM-yyyy dates, one mart row
per number seen, probability = occurrences / distinct draw days as
DECIMAL(38,4), ties broken by the lowest number.

Usage: python3 xsmb.py <out_dir> <seed> <first_day yyyy-mm-dd> <days>
"""
import datetime as dt
import decimal
import random
import sys

# (prize, rows per day, digits) -- the crawler's prize map, 27 rows a day.
PRIZES = [
    ("Giải Đặc Biệt", 1, 5), ("Giải Nhất", 1, 5), ("Giải Nhì", 2, 5),
    ("Giải Ba", 6, 5), ("Giải Tư", 4, 4), ("Giải Năm", 6, 4),
    ("Giải Sáu", 3, 3), ("Giải Bảy", 4, 2),
]
G7 = "Giải Bảy"
HEADER = "prize,number_value,full_date,created_at"
# One day in JUNK_EVERY gets one junk row, cycling through the three kinds.
JUNK_EVERY = 5


def day_rows(seed, day):
    """The 27 prize rows of `day` (plus junk on a fixed share of days), as
    (prize, number_value, full_date, created_at) string tuples. Each day
    has its own generator, so a day's rows do not depend on the range."""
    rng = random.Random(seed * 1_000_003 + day.toordinal())
    ds = day.strftime("%d-%m-%Y")
    created = day.strftime("%Y-%m-%d") + "T11:15:00.000Z"
    rows = []
    for prize, n, digits in PRIZES:
        for _ in range(n):
            rows.append((prize, str(rng.randrange(10 ** digits)).zfill(digits), ds, created))
    k = day.toordinal()
    if k % JUNK_EVERY == 0:
        kind = (k // JUNK_EVERY) % 3
        if kind == 0:
            rows.append((G7, str(rng.randrange(100)).zfill(2)))  # short row
        elif kind == 1:
            rows.append((G7, str(rng.randrange(100)).zfill(2), "99-99-" + day.strftime("%Y"), created))
        else:
            rows.append((G7, str(rng.randrange(10)), ds, created))  # one digit
    return rows


def csv_bytes(rows):
    return ("﻿" + HEADER + "\n" + "".join(",".join(r) + "\n" for r in rows)).encode("utf-8")


def file_name(day):
    return "xsmb_" + day.strftime("%d%m%Y") + ".csv"


def valid_draws(rows):
    """(date, number) for each row the transform keeps."""
    out = []
    for r in rows:
        if len(r) < 3 or r[0] != G7:
            continue
        num = r[1].strip()
        if len(num) < 2 or not num[-2:].isdigit():
            continue
        try:
            d = dt.datetime.strptime(r[2].strip(), "%d-%m-%Y").date()
        except ValueError:
            continue
        out.append((d, int(num[-2:])))
    return out


class Model:
    """Running expected warehouse state, fed one day at a time."""

    def __init__(self):
        self.occ = {}        # number -> occurrences
        self.last = {}       # number -> last date seen
        self.dates = set()   # draw days with at least one kept row
        self.pairs = set()   # distinct (date, number): the fact grain

    def add(self, rows):
        for d, n in valid_draws(rows):
            self.occ[n] = self.occ.get(n, 0) + 1
            self.last[n] = max(self.last.get(n, d), d)
            self.dates.add(d)
            self.pairs.add((d, n))

    def mart(self):
        """number_value -> expected /mart/all row."""
        draws = len(self.dates)
        last = max(self.dates)
        ctx = decimal.Context(prec=60)
        out = {}
        for n, occ in self.occ.items():
            # Spark divides DECIMAL(20,10) by INT at scale 21, then casts to
            # DECIMAL(38,4); both steps round half-up.
            q = ctx.divide(decimal.Decimal(occ), decimal.Decimal(draws))
            q = q.quantize(decimal.Decimal(1).scaleb(-21), decimal.ROUND_HALF_UP)
            q = q.quantize(decimal.Decimal("0.0001"), decimal.ROUND_HALF_UP)
            out[str(n)] = {
                "number_value": str(n),
                "total_occurrences": decimal.Decimal(occ),
                "total_draws": draws,
                "probability": q,
                "last_appeared_date": self.last[n].isoformat(),
                "days_since_last": (last - self.last[n]).days,
            }
        return out

    def statistic(self):
        most = min(self.occ, key=lambda n: (-self.occ[n], n))
        least = min(self.occ, key=lambda n: (self.occ[n], n))
        return {
            "totalOccurrences": len(self.dates),
            "mostNumber": str(most),
            "leastNumber": str(least),
            "lastUpdate": max(self.last.values()).isoformat(),
        }


def write_days(out_dir, seed, first, days):
    import os
    os.makedirs(out_dir, exist_ok=True)
    for i in range(days):
        day = first + dt.timedelta(days=i)
        with open(os.path.join(out_dir, file_name(day)), "wb") as f:
            f.write(csv_bytes(day_rows(seed, day)))


if __name__ == "__main__":
    write_days(sys.argv[1], int(sys.argv[2]),
               dt.date.fromisoformat(sys.argv[3]), int(sys.argv[4]))
