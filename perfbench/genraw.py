"""Seeded generator for Inside-Airbnb-shaped raw inputs of the ETL cycle.

Writes ``{Country}_{City}_{kind}_{date}.csv.gz`` files for a day-1 full
load (``day1/``) and a one-city day-2 delta (``day2/``), carrying the
messy value distributions of FIXTURES.md §1: junk and overflowing ids,
``$1,234.00`` money strings with ``\\r``, the boolean ladder with padded
values, calendars that span Sunday week edges, orphan rows, duplicate
review ids (within a file and against the prior load), names longer
than 255 characters and comments longer than 4000.

The output is byte-identical for a given seed and size (gzip with
mtime 0, one ``random.Random`` stream). Next to the files it writes
``facts.json``: what the generator knows the warehouse must contain
(reject count, distinct valid listing ids, fact row counts), which the
benchmark checks the pipeline's output against.

    python3 perfbench/genraw.py OUT_DIR [SEED]
"""

from __future__ import annotations

import csv
import datetime as dt
import gzip
import io
import json
import os
import random
import sys

INT64_MAX = 2**63 - 1

# day-1 cities; the day-2 delta re-sends the first one
CITIES = [("France", "Paris"), ("Spain", "Madrid")]
DAY1 = "2025-06-01"          # a Sunday: the calendar opens on a week edge
DAY2 = "2025-06-22"
CAL_DAYS = 28                # day-1 calendar: 2025-06-01 .. 06-28
DELTA_CAL_START = dt.date(2025, 6, 15)   # overlaps the last two weeks

LISTING_COLS = ["id", "host_id", "host_name", "host_location",
                "neighbourhood_cleansed", "latitude", "longitude", "price",
                "number_of_reviews", "review_scores_rating",
                "calculated_host_listings_count", "is_local_host"]
CALENDAR_COLS = ["listing_id", "date", "available", "price"]
REVIEW_COLS = ["listing_id", "id", "date", "reviewer_id", "reviewer_name",
               "comments"]

BOOL_LADDER = ["True", "False", "true", "1", "0", "t", "f", "y", "yes",
               "junk", "", " t ", "F"]
AVAILABLE = ["t", "f", "true", "1", "F", " t ", "t\r", "false", "0"]
WORDS = {
    "en": "great place lovely host clean quiet stay would come again".split(),
    "fr": "super séjour appartement très propre hôte accueillant merci".split(),
    "es": "muy buen lugar limpio anfitrión excelente volvería gracias".split(),
    "de": "sehr schöne wohnung sauber ruhig gastgeber danke wieder".split(),
    "ja": "とても 素敵な 部屋 でした また 泊まりたい です ありがとう".split(),
}
NEIGHBOURHOODS = ["Centre", "Nord", "Sud", "Est", "Ouest", "Vieux Port",
                  "Gare", "Université"]


def _money(rng: random.Random, cents: int) -> str:
    """One of the raw money spellings; all parse to ``cents``/100."""
    whole, frac = divmod(cents, 100)
    style = rng.random()
    if style < 0.55:
        return f"${whole:,}.{frac:02d}"
    if style < 0.75:
        return f"${whole:,}.{frac:02d}\r"
    if style < 0.9 and frac == 0:
        return str(whole)
    return f"{whole}.{frac:02d}"


def _text(rng: random.Random, lang: str, n: int) -> str:
    return " ".join(rng.choice(WORDS[lang]) for _ in range(n))


def _long_name(rng: random.Random) -> str:
    return "Ñame-" + "x" * rng.randint(256, 300)


def _csv_gz(path: str, header: list[str], rows: list[list[str]]) -> int:
    buf = io.StringIO()
    # CRLF rows, as Windows-side exports ship them: a field holding a
    # bare \r or \n is then quoted, so every reader splits rows alike
    w = csv.writer(buf, lineterminator="\r\n")
    w.writerow(header)
    w.writerows(rows)
    data = gzip.compress(buf.getvalue().encode("utf-8"), compresslevel=6,
                         mtime=0)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


class _City:
    """Per-city id space so cities never collide on listing or review ids."""

    def __init__(self, index: int, country: str, city: str):
        self.country, self.city = country, city
        self.next_id = 10_000 + index * 1_000_000
        self.next_big = INT64_MAX - 10_000_000 * (index + 1)
        self.next_review = 5_000_000 + index * 10_000_000


def _listing_rows(rng: random.Random, c: _City, n: int,
                  resend: list[int]) -> tuple[list[list[str]], set[int], int]:
    """n new listings plus re-sent (changed) ones → (rows, valid ids, rejects)."""
    rows, valid, rejects = [], set(), 0

    def row(raw_id: str) -> list[str]:
        host = rng.randint(1, max(2, n // 3))
        loc = rng.random()
        return [
            raw_id,
            f"{host}.0" if rng.random() < 0.1 else
            ("" if rng.random() < 0.03 else str(host)),
            _long_name(rng) if rng.random() < 0.02 else f"Hôte {host}",
            (f"{c.city}, {c.country}" if loc < 0.6 else
             f"{c.city}, Region, {c.country}" if loc < 0.75 else
             c.country if loc < 0.9 else ""),
            "" if rng.random() < 0.05 else rng.choice(NEIGHBOURHOODS),
            "junk" if rng.random() < 0.02 else f"{40 + rng.random() * 10:.6f}",
            "4,35" if rng.random() < 0.02 else f"{rng.random() * 10:.6f}",
            "" if rng.random() < 0.03 else
            _money(rng, rng.randint(30, 3000) * 100),
            rng.choice([str(rng.randint(0, 400)), f"{rng.randint(0, 50)}.0",
                        "n/a", "99999999999999999999"]),
            rng.choice(["4.87", "5.0", "", f"{rng.randint(300, 500) / 100:.2f}"]),
            rng.choice([str(rng.randint(1, 20)), "junk"]),
            rng.choice(BOOL_LADDER),
        ]

    for _ in range(n):
        kind = rng.random()
        if kind < 0.02:
            rows.append(row(f"abc{rng.randint(0, 999)}"))          # junk
            rejects += 1
        elif kind < 0.04:
            rows.append(row(str(rng.randint(10**19, 10**20 - 1))))  # >int64
            rejects += 1
        else:
            if kind < 0.06:
                lid = c.next_big                                   # 19 digits
                c.next_big += 1
            else:
                lid = c.next_id
                c.next_id += 1
            rows.append(row(str(lid)))
            valid.add(lid)
    for lid in resend:
        rows.append(row(str(lid)))
        valid.add(lid)
    # duplicate ids inside the batch: MERGE must pre-dedupe them
    for lid in rng.sample(sorted(valid), max(1, len(valid) // 100)):
        rows.append(row(str(lid)))
    rng.shuffle(rows)
    return rows, valid, rejects


def _calendar_rows(rng: random.Random, ids: list[int], start: dt.date,
                   days: int) -> list[list[str]]:
    rows = []
    for lid in ids:
        base = rng.randint(40, 400) * 100
        for d in range(days):
            day = start + dt.timedelta(days=d)
            price = "" if rng.random() < 0.02 else _money(
                rng, base + rng.choice([0, 0, 0, 500, 1250, 7]))
            rows.append([str(lid), day.isoformat(), rng.choice(AVAILABLE),
                         price])
    # orphans (dropped by the FK join) and unparsable dates
    for _ in range(max(1, len(rows) // 200)):
        rows.append([str(rng.randint(9 * 10**8, 10**9)),
                     (start + dt.timedelta(days=rng.randrange(days))).isoformat(),
                     "t", "$10.00"])
        rows.append([str(rng.choice(ids)), "2025-13-45", "t", "$10.00"])
    rng.shuffle(rows)
    return rows


def _review_rows(rng: random.Random, c: _City, ids: list[int],
                 per_listing: int, resend: list[list[str]]
                 ) -> tuple[list[list[str]], list[list[str]]]:
    """→ (rows, distinct loadable rows).

    A loadable review has a castable id, a parsable date and a listing
    in the dimension; within-file duplicates repeat listing and date so
    the dedup winner never changes whether the review loads."""
    rows, loadable = [], []
    for lid in ids:
        for _ in range(rng.randint(0, 2 * per_listing)):
            lang = rng.choice(list(WORDS))
            n = rng.randint(3, 40)
            comments = ("" if rng.random() < 0.02 else
                        _text(rng, lang, 700) if rng.random() < 0.01 else
                        _text(rng, lang, n) + (" | line\nbreak"
                                               if rng.random() < 0.05 else ""))
            day = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(540))
            r = [str(lid), str(c.next_review), day.isoformat(),
                 str(rng.randint(1, 10**6)),
                 _long_name(rng) if rng.random() < 0.02 else f"Guest {lid % 97}",
                 comments]
            c.next_review += 1
            rows.append(r)
            loadable.append(r)
    for r in rng.sample(loadable, max(1, len(loadable) // 50)):
        dup = list(r)
        dup[3] = str(rng.randint(1, 10**6))
        rows.append(dup)
    n_bad = max(1, len(loadable) // 100)
    for _ in range(n_bad):
        rows.append([str(rng.randint(9 * 10**8, 10**9)), str(c.next_review),
                     "2024-05-05", "1", "orphan", "orphan listing"])
        c.next_review += 1
        rows.append([str(rng.choice(ids)), "rev-junk", "2024-05-05", "1",
                     "junk id", "junk review id"])
        rows.append([str(rng.choice(ids)), str(c.next_review), "not a date",
                     "1", "junk date", "unparsable date"])
        c.next_review += 1
    rows.extend(resend)
    rng.shuffle(rows)
    return rows, loadable


def generate(out_dir: str, seed: int, listings_per_city: int = 400,
             reviews_per_listing: int = 3) -> dict:
    """Write day1/ and day2/ under out_dir and return the facts dict."""
    rng = random.Random(seed)
    day1, day2 = os.path.join(out_dir, "day1"), os.path.join(out_dir, "day2")
    os.makedirs(day1, exist_ok=True)
    os.makedirs(day2, exist_ok=True)
    cities = [_City(i, *cc) for i, cc in enumerate(CITIES)]
    facts = {"seed": seed, "listings_per_city": listings_per_city,
             "day1": {"files": 0, "bytes": 0, "rows": {}},
             "day2": {"files": 0, "bytes": 0, "rows": {}}}
    valid_day1: set[int] = set()
    rejects1 = 0
    reviews1: list[list[str]] = []
    city_valid: dict[str, list[int]] = {}

    def write(day: str, c: _City, kind: str, header, rows) -> None:
        d = day1 if day == "day1" else day2
        stamp = DAY1 if day == "day1" else DAY2
        name = f"{c.country}_{c.city}_{kind}_{stamp}.csv.gz"
        facts[day]["bytes"] += _csv_gz(os.path.join(d, name), header, rows)
        facts[day]["files"] += 1
        cnt = facts[day]["rows"]
        cnt[kind] = cnt.get(kind, 0) + len(rows)

    for c in cities:
        rows, valid, rej = _listing_rows(rng, c, listings_per_city, [])
        rejects1 += rej
        valid_day1 |= valid
        ids = sorted(valid)
        city_valid[c.city] = ids
        write("day1", c, "listings", LISTING_COLS, rows)
        write("day1", c, "calendar", CALENDAR_COLS,
              _calendar_rows(rng, ids, dt.date(2025, 6, 1), CAL_DAYS))
        rrows, loadable = _review_rows(rng, c, ids, reviews_per_listing, [])
        reviews1 += loadable
        write("day1", c, "reviews", REVIEW_COLS, rrows)

    # day 2: the first city re-sends a quarter of its listings changed,
    # adds new ones, and re-sends reviews that are already loaded
    c = cities[0]
    changed = rng.sample(city_valid[c.city], len(city_valid[c.city]) // 4)
    rows, valid2, rejects2 = _listing_rows(rng, c, listings_per_city // 4,
                                           sorted(changed))
    write("day2", c, "listings", LISTING_COLS, rows)
    ids2 = sorted(valid2)
    write("day2", c, "calendar", CALENDAR_COLS,
          _calendar_rows(rng, ids2, DELTA_CAL_START, CAL_DAYS))
    already = [list(r) for r in rng.sample(reviews1, len(reviews1) // 10)]
    rrows, loadable2 = _review_rows(rng, c, sorted(valid2 - valid_day1),
                                    reviews_per_listing, already)
    write("day2", c, "reviews", REVIEW_COLS, rrows)

    valid_all = valid_day1 | valid2
    facts["day1"].update(
        rejects=rejects1, distinct_listings=len(valid_day1),
        fact_reviews=len(reviews1))
    facts["day2"].update(
        rejects=rejects2, distinct_listings=len(valid_all),
        fact_reviews=len(reviews1) + len(loadable2))
    facts["day1"]["input_rows"] = sum(facts["day1"]["rows"].values())
    facts["day2"]["input_rows"] = sum(facts["day2"]["rows"].values())
    with open(os.path.join(out_dir, "facts.json"), "w") as f:
        json.dump(facts, f, indent=1, sort_keys=True)
    return facts


if __name__ == "__main__":
    out = sys.argv[1]
    print(json.dumps(generate(out, int(sys.argv[2]) if len(sys.argv) > 2
                              else 0), sort_keys=True))
