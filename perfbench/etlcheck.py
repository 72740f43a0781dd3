"""Output checks for the ETL cycle, run outside the timed region.

Each check reads the persisted warehouse with DuckDB, an engine
independent of the one under test, and compares it with what the
generator knows (``facts.json``) and with a DuckDB recomputation of the
``fact_calendar`` weekly rollup from the same raw files. The audit
timestamp columns are never compared.
"""

from __future__ import annotations

import os

import duckdb

from genraw import CALENDAR_COLS, LISTING_COLS, REVIEW_COLS

COLUMNS = {"listings": LISTING_COLS, "calendar": CALENDAR_COLS,
           "reviews": REVIEW_COLS}
TRUTHY = "('t', 'true', '1')"


def _csv(data_dir: str, kind: str) -> str:
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in COLUMNS[kind])
    return (f"read_csv('{data_dir}/*_{kind}_*.csv.gz', header=true, "
            f"auto_detect=false, columns={{{cols}}}, quote='\"', "
            f"escape='\"', delim=',')")


def _parquet(out_dir: str, table: str) -> str:
    return (f"read_parquet('{out_dir}/{table}/**/*.parquet', "
            f"hive_partitioning=false, union_by_name=true)")


def _valid_ids(data_dirs: list[str]) -> str:
    """Distinct castable listing ids: the keys of dim_listings."""
    scans = " UNION ALL ".join(
        f"SELECT TRY_CAST(id AS BIGINT) AS listing_id "
        f"FROM {_csv(d, 'listings')}" for d in data_dirs)
    return (f"SELECT DISTINCT listing_id FROM ({scans}) "
            f"WHERE listing_id IS NOT NULL")


def _rollup(data_dir: str, ids_sql: str) -> str:
    """T-SQL weekly rollup: Sunday..Saturday, labelled by its Monday;
    AVG of the parsed prices rounded half-up to cents in exact integer
    arithmetic; available days counted over the SQL truthy set."""
    return f"""
        WITH cal AS (
            SELECT TRY_CAST(listing_id AS BIGINT) AS listing_id,
                   TRY_CAST(date AS DATE) AS d,
                   lower(trim(available)) IN {TRUTHY} AS avail,
                   CAST(100 * TRY_CAST(NULLIF(regexp_replace(
                       trim(price), '[$,\r]', '', 'g'), '')
                       AS DECIMAL(10,2)) AS BIGINT) AS cents
            FROM {_csv(data_dir, 'calendar')}),
        keyed AS (
            SELECT cal.* FROM cal JOIN ({ids_sql}) ids USING (listing_id)
            WHERE d IS NOT NULL),
        agg AS (
            SELECT listing_id,
                   CAST(date_trunc('week', d + 1) AS DATE) AS week_start_date,
                   sum(cents) AS s, count(cents) AS c,
                   CAST(sum(CASE WHEN avail THEN 1 ELSE 0 END) AS INTEGER) AS a
            FROM keyed GROUP BY ALL)
        SELECT listing_id, week_start_date,
               CAST(week_start_date + 6 AS DATE) AS week_end_date,
               CASE WHEN c = 0 THEN NULL
                    ELSE (2 * s + c) // (2 * c) END AS avg_cents,
               a AS available_days_per_week
        FROM agg"""


def _actual_calendar(out_dir: str) -> str:
    return f"""
        SELECT listing_id, week_start_date, week_end_date,
               CAST(100 * avg_price_per_week AS BIGINT) AS avg_cents,
               available_days_per_week
        FROM {_parquet(out_dir, 'fact_calendar')}"""


class EtlChecker:
    """Checks one warehouse directory after a day-1 load or a day-2 reload."""

    def __init__(self, facts: dict, day1_dir: str, day2_dir: str):
        self.facts = facts
        self.day1, self.day2 = day1_dir, day2_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        expected1 = _rollup(day1_dir, _valid_ids([day1_dir]))
        self.con.execute(f"CREATE TABLE expected_day1 AS {expected1}")
        fresh = _rollup(day2_dir, _valid_ids([day1_dir, day2_dir]))
        self.con.execute(f"""
            CREATE TABLE expected_day2 AS
            SELECT * FROM expected_day1
            UNION ALL
            SELECT * FROM ({fresh}) f
            WHERE NOT EXISTS (SELECT 1 FROM expected_day1 e
                              WHERE e.listing_id = f.listing_id
                                AND e.week_start_date = f.week_start_date)""")

    def _one(self, sql: str):
        return self.con.execute(sql).fetchone()

    def check(self, out_dir: str, day: str, stats: dict) -> list[str]:
        """→ list of failed checks (empty when the warehouse is right)."""
        f = self.facts[day]
        bad = []

        def expect(name: str, got, want) -> None:
            if got != want:
                bad.append(f"{day} {name}: got {got}, want {want}")

        expect("rejects", stats.get("rejects_listings"), f["rejects"])
        n, distinct = self._one(
            f"SELECT count(*), count(DISTINCT listing_id) "
            f"FROM {_parquet(out_dir, 'dim_listings')}")
        expect("dim_listings distinct ids", distinct, f["distinct_listings"])
        expect("dim_listings primary key", n, distinct)
        n, distinct = self._one(
            f"SELECT count(*), count(DISTINCT review_id) "
            f"FROM {_parquet(out_dir, 'fact_reviews')}")
        expect("fact_reviews rows", n, f["fact_reviews"])
        expect("fact_reviews primary key", n, distinct)
        actual = _actual_calendar(out_dir)
        n, grain, out_of_range, not_monday = self._one(f"""
            SELECT count(*),
                   count(DISTINCT (listing_id, week_start_date)),
                   count(*) FILTER (WHERE available_days_per_week
                                    NOT BETWEEN 0 AND 7),
                   count(*) FILTER (WHERE isodow(week_start_date) <> 1
                                    OR week_end_date <> week_start_date + 6)
            FROM ({actual})""")
        expect("fact_calendar grain unique", grain, n)
        expect("available_days_per_week outside [0, 7]", out_of_range, 0)
        expect("weeks not Monday-labelled", not_monday, 0)
        expected = f"expected_{day}"
        missing, extra = self._one(f"""
            SELECT (SELECT count(*) FROM (SELECT * FROM {expected}
                                          EXCEPT ALL {actual})),
                   (SELECT count(*) FROM ({actual} EXCEPT ALL
                                          SELECT * FROM {expected}))""")
        expect("fact_calendar rows missing vs DuckDB rollup", missing, 0)
        expect("fact_calendar rows extra vs DuckDB rollup", extra, 0)
        return bad

    def fact_fingerprint(self, out_dir: str) -> tuple:
        """Order-independent fingerprint of both fact tables."""
        cal = self._one(f"""
            SELECT count(*), sum(hash(listing_id, week_start_date,
                   week_end_date, avg_price_per_week,
                   available_days_per_week)::HUGEINT)
            FROM {_parquet(out_dir, 'fact_calendar')}""")
        rev = self._one(f"""
            SELECT count(*), sum(hash(review_id, listing_id, date_id,
                   reviewer_id, reviewer_name, comments, review_date,
                   review_lang)::HUGEINT)
            FROM {_parquet(out_dir, 'fact_reviews')}""")
        return cal + rev

    def close(self) -> None:
        self.con.close()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total
