"""End-to-end ETL orchestration — the reference's `main.py` menu option 4
(run_complete_etl, SURVEY §3.1) as one lazy-pipeline call.

File-discovery contract matches the reference (config/settings.py:30-32):
a data directory holding per-city gzip CSVs named
``{Country}_{City}_{kind}_{date}.csv.gz`` with kind ∈ {listings,
calendar, reviews}.

One load path: every run is a reload into a prior warehouse — the
persisted one (``incremental=True``) or an empty one (a day-1 load or a
rebuild). The empty prior plans as an empty LocalRelation, so Catalyst
prunes every union and anti-join against it and a day-1 load plans as a
plain build. Every persisted run, rebuilds included, commits through
the same staged swap (``<name>.__tmp`` → fsynced journal → rename).

Stages (each a DataFrame lineage, materialized only at sink writes):
  discover → clean listings (per-file geography) → dim_listings MERGE +
  id_map → dim_hosts → dim_dates (gap-free union of calendar+review
  dates) → fact_calendar weekly rollup → fact_reviews → views.

Scale shape: per-city raw files parallelize the gzip scans (gzip is not
splittable — file count IS the parallelism); everything downstream is
partitioned Parquet. Facts join dims via broadcast; the only wide
exchanges are the rollup groupBys.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from dataclasses import dataclass, field
from functools import reduce
from glob import glob

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from sql_etl_data_warehouse_inside_airbnb_spark.plans.pipeline import (
    CALENDAR_KEEP,
    LISTINGS_KEEP,
    REVIEWS_KEEP,
    build_dim_dates,
    build_dim_hosts,
    build_dim_listings,
    build_fact_calendar,
    build_fact_reviews,
    cap_reviews,
    clean_listings,
    register_views,
)
from sql_etl_data_warehouse_inside_airbnb_spark.plans.enrich import (
    add_review_lang,
    pretreat_hosts,
    pretreat_listings,
)
from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import (
    read_csv_raw,
    split_quarantine,
)

FILENAME_RE = re.compile(
    r"^(?P<country>[^_]+)_(?P<city>[^_]+)_(?P<kind>listings|calendar|reviews)_")


@dataclass
class WarehouseTables:
    dim_listings: DataFrame
    dim_listing_id_map: DataFrame
    dim_hosts: DataFrame
    dim_dates: DataFrame
    fact_calendar: DataFrame
    fact_reviews: DataFrame
    stats: dict[str, int] = field(default_factory=dict)


def discover_files(data_dir: str) -> dict[str, list[tuple[str, str, str]]]:
    """→ {kind: [(path, city, country), ...]} per the reference's glob
    patterns + filename-geography parse (data_cleaner.py:24-46)."""
    out: dict[str, list[tuple[str, str, str]]] = {
        "listings": [], "calendar": [], "reviews": []}
    for path in sorted(glob(os.path.join(data_dir, "*.csv.gz"))):
        m = FILENAME_RE.match(os.path.basename(path))
        if m:
            out[m.group("kind")].append(
                (path, m.group("city"), m.group("country")))
    return out


CORE_TABLES = ("dim_listings", "dim_listing_id_map", "dim_hosts",
               "dim_dates", "fact_calendar", "fact_reviews")

# The empty warehouse: each core table's schema as _load_existing reads
# it back (enrichment columns dropped). It must match the builders'
# output exactly — a drifted type would widen the day-1 unions and
# change the persisted schema, which the next reload then unions with.
EMPTY_WAREHOUSE = {
    "dim_listings": (
        "listing_id bigint, host_id bigint, host_name string, "
        "host_city string, host_country string, property_country string, "
        "property_city string, property_neighbourhood string, "
        "latitude decimal(9,6), longitude decimal(9,6), "
        "price decimal(10,2), number_of_reviews bigint, "
        "review_scores_rating decimal(3,2), "
        "calculated_host_listings_count bigint, is_local_host boolean, "
        "created_date timestamp, updated_date timestamp"),
    "dim_listing_id_map": (
        "listing_id bigint, listing_raw_id string, part1 string, "
        "part2 string, part3 string, created_date timestamp"),
    "dim_hosts": (
        "host_id bigint, host_name string, host_city string, "
        "host_country string, total_listings int, created_date timestamp"),
    "dim_dates": (
        "date_id int, full_date date, year int, quarter int, month int, "
        "month_name string, day int, day_name string, is_weekend boolean"),
    "fact_calendar": (
        "listing_id bigint, week_start_date date, week_end_date date, "
        "avg_price_per_week decimal(10,2), available_days_per_week int"),
    "fact_reviews": (
        "review_id bigint, listing_id bigint, date_id int, "
        "reviewer_id bigint, reviewer_name string, comments string, "
        "review_date date"),
}

# enrichment columns re-derive each run (pure projections) — stripped
# from a loaded prior so merge schemas align with freshly-typed sources
ENRICHMENT_COLUMNS = ("part_month", "host_country_corrected", "review_lang")


def _empty(spark: SparkSession, schema: str | StructType) -> DataFrame:
    """An empty frame that plans as an empty LocalRelation: the
    ``limit(0)`` lets OptimizeLimitZero + PropagateEmptyRelation prune
    every union and anti-join against it. A bare ``createDataFrame([],
    schema)`` plans as a LogicalRDD and keeps them (a shuffled
    anti-join + union in the day-1 fact_calendar)."""
    return spark.createDataFrame([], schema).limit(0)


def _read_files(spark: SparkSession, entries: list[tuple[str, str, str]],
                keep: list[str],
                per_file=lambda raw, city, country: raw) -> DataFrame:
    """Union of one kind's files, each scanned raw and passed through
    ``per_file(raw, city, country)``. No files read as an empty
    all-string frame of the kind's keep-list, so every builder runs on
    every load."""
    frames = [per_file(read_csv_raw(spark, path), city, country)
              for path, city, country in entries]
    if not frames:
        return _empty(spark, StructType(
            [StructField(c, StringType()) for c in keep]))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  frames)


_SWAP_JOURNAL = ".__swap_pending"


def _roll_forward_swaps(output_dir: str) -> None:
    """Complete a swap a previous run started but didn't finish.

    The journal file is written AFTER every staged table is fully
    materialized and removed only after every swap lands — so its
    presence means all ``.__tmp`` dirs are complete and committing is
    always the right move. Rolling FORWARD (not back) keeps the batch
    atomic: without it, a kill mid-loop leaves a MIXED warehouse
    (some tables new, some old), and a retry would replay the batch's
    id-map/reject appends onto already-merged state."""
    journal = os.path.join(output_dir, _SWAP_JOURNAL)
    if not os.path.exists(journal):
        return
    with open(journal) as f:
        names = [ln.strip() for ln in f if ln.strip()]
    for name in names:
        path = os.path.join(output_dir, name)
        tmp, old = path + ".__tmp", path + ".__old"
        if os.path.exists(tmp):
            if os.path.exists(path):
                shutil.rmtree(old, ignore_errors=True)
                os.rename(path, old)
            os.replace(tmp, path)
        elif not os.path.exists(path) and os.path.exists(old):
            # died between the two renames of this table's swap
            os.rename(old, path)
        shutil.rmtree(old, ignore_errors=True)
    os.remove(journal)


def _empty_warehouse(spark: SparkSession) -> dict[str, DataFrame]:
    return {name: _empty(spark, ddl) for name, ddl in EMPTY_WAREHOUSE.items()}


def _load_existing(spark: SparkSession,
                   output_dir: str) -> dict[str, DataFrame]:
    """Prior warehouse state from a previous run's output; the empty
    warehouse when any core table is absent.

    Runs after _roll_forward_swaps has completed any journaled swap. A
    ``<name>.__old`` without a journal (legacy state) is restored —
    never treated as an absent warehouse, which would silently
    full-rebuild from whatever partial data_dir the retry was given."""
    prior: dict[str, DataFrame] = {}
    for name in CORE_TABLES:
        path = os.path.join(output_dir, name)
        old_path = path + ".__old"
        if os.path.exists(old_path):
            if os.path.exists(path):
                shutil.rmtree(old_path)      # died after swap: stale
            else:
                os.rename(old_path, path)    # died mid-swap: restore
        if not os.path.exists(path):
            return _empty_warehouse(spark)
        prior[name] = spark.read.parquet(path).drop(*ENRICHMENT_COLUMNS)
    return prior


def run_pipeline(spark: SparkSession, data_dir: str,
                 output_dir: str | None = None,
                 incremental: bool = False,
                 reviews_cap: bool = False) -> WarehouseTables:
    """Full ETL as one path: a reload into a prior warehouse — the one
    at ``output_dir`` when ``incremental=True`` (and it exists), else
    the empty warehouse (a day-1 load or a rebuild).

    Every run applies the reference's re-load semantics: listings
    MERGE-upsert into the prior dim (J8, source wins), id-map rows
    append, reviews append-if-absent (J4), calendar weeks
    insert-if-absent on the (listing_id, week_start_date) PK, dim_dates
    extends gap-free with STABLE date_ids (existing ids never renumber
    — IDENTITY semantics), dim_hosts rebuilds from the merged dim (the
    reference's TRUNCATE + reload).

    With ``output_dir`` the tables persist as Parquet (the typed layer),
    committed atomically through the journaled swap (_commit); otherwise
    everything stays lazy. ``reviews_cap`` applies the reference's
    per-file reviews sampling cap (pipeline.cap_reviews, off by
    default)."""
    files = discover_files(data_dir)
    if not files["listings"]:
        raise FileNotFoundError(
            f"no '*_listings_*.csv.gz' files under {data_dir}")

    if output_dir:
        # a journaled half-swap from a crashed run is a committed batch:
        # complete it FIRST, before the prior is read or a new batch is
        # staged over its .__tmp dirs
        _roll_forward_swaps(output_dir)
    prior = (_load_existing(spark, output_dir) if incremental and output_dir
             else _empty_warehouse(spark))

    cleaned = _read_files(
        spark, files["listings"], LISTINGS_KEEP,
        lambda raw, city, country: clean_listings(
            raw, property_city=city, property_country=country))
    # S8 reject capture: raw rows whose id can't type, preserved
    # verbatim + reason (the reference's logs/listings_skipped_rows.csv)
    _, rejects = split_quarantine(cleaned, "id")
    rejects = rejects.withColumn("reject_reason",
                                 F.lit("listing_id_cast_failed"))

    merge_res, id_map = build_dim_listings(
        cleaned, existing=prior["dim_listings"], count_actions=False)
    # post-load enrichment (the reference's pretreatment UPDATEs):
    # US-state -> country fix + is_local_host, recomputed every run
    dim_listings = pretreat_listings(merge_res.df)
    # the id map is a per-LOAD audit trail (reference inserts one row
    # per source row every batch, data_loader.py:292-300), so a re-sent
    # listing in a new batch appends by design — unlike the PK-keyed
    # facts, which dedupe. Same-batch retries are handled by the
    # journaled all-or-nothing swap: a crashed run either committed the
    # WHOLE batch (journal present → rolled forward) or none of it — a
    # retry never replays appends onto a half-merged warehouse.
    # Deliberately re-running a committed batch is a new load and
    # appends again, the reference's own semantics.
    id_map = prior["dim_listing_id_map"].unionByName(id_map)
    dim_hosts = pretreat_hosts(build_dim_hosts(dim_listings))

    calendar_raw = _read_files(spark, files["calendar"], CALENDAR_KEEP)
    # the reference caps PER FILE (modules/data_loader.py:427-431)
    reviews_raw = _read_files(
        spark, files["reviews"], REVIEWS_KEEP,
        lambda raw, *_: cap_reviews(raw) if reviews_cap else raw)

    # IDENTITY semantics: prior date_ids are frozen; only dates the
    # prior dimension lacks get new ids, numbered past its max. A load
    # without date-bearing files keeps the prior dimension as it is
    # (wiping it would orphan every date_id FK in fact_reviews).
    prior_dates = prior["dim_dates"]
    fresh = (build_dim_dates(calendar_raw, reviews_raw).drop("date_id")
             .join(prior_dates.select("full_date"), "full_date",
                   "left_anti"))
    max_id = F.broadcast(prior_dates.agg(F.max("date_id").alias("__max_id")))
    fresh = (fresh.crossJoin(max_id)
             .withColumn("date_id",
                         (F.row_number().over(Window.orderBy("full_date"))
                          + F.coalesce("__max_id", F.lit(0))).cast("int"))
             .drop("__max_id"))
    dim_dates = prior_dates.unionByName(fresh.select(*prior_dates.columns))

    # insert-if-absent on the (listing_id, week_start_date) PK — T-SQL
    # MERGE-free re-load: existing weeks keep their rows
    prior_calendar = prior["fact_calendar"]
    fact_calendar = prior_calendar.unionByName(
        build_fact_calendar(calendar_raw, dim_listings).join(
            prior_calendar.select("listing_id", "week_start_date"),
            ["listing_id", "week_start_date"], "left_anti"))
    fact_reviews = prior["fact_reviews"].unionByName(build_fact_reviews(
        reviews_raw, dim_listings, dim_dates, existing=prior["fact_reviews"]))
    # language detection re-derives over the full fact each run
    fact_reviews = add_review_lang(fact_reviews)

    tables = WarehouseTables(dim_listings, id_map, dim_hosts, dim_dates,
                             fact_calendar, fact_reviews)
    if output_dir:
        _commit(spark, tables, rejects, files, output_dir)
    # the whole star schema is the SQL surface, not just the views
    for name in CORE_TABLES:
        getattr(tables, name).createOrReplaceTempView(name)
    register_views(spark, tables.dim_listings)
    return tables


def _has_parquet(path: str) -> bool:
    for _root, _dirs, names in os.walk(path):
        if any(n.endswith(".parquet") for n in names):
            return True
    return False


def _commit(spark: SparkSession, tables: WarehouseTables,
            rejects: DataFrame, files: dict[str, list[tuple[str, str, str]]],
            output_dir: str) -> None:
    """Persist one load atomically: stage every core table to
    ``<name>.__tmp``, write the load's rejects slice, journal, swap all
    tables in, then rebind ``tables`` to the persisted Parquet. Staging
    first is required: a reload's plans READ the prior parquet they
    replace (later tables through the merge lineage too), and a failed
    run must leave the live warehouse untouched."""
    # Facts partition by a time bucket so date-range queries prune
    # files instead of scanning the table; at 100 TB this is the
    # difference between reading one month and reading everything.
    # Partition on a derived month (not the raw date) to keep
    # partition counts bounded (~12/year, not 365/year).
    part_col = {"fact_calendar": "week_start_date",
                "fact_reviews": "review_date"}
    for name in CORE_TABLES:
        df = getattr(tables, name)
        tmp_path = os.path.join(output_dir, name) + ".__tmp"
        shutil.rmtree(tmp_path, ignore_errors=True)
        if name in part_col:
            df = df.withColumn("part_month",
                               F.date_format(F.col(part_col[name]), "yyyy-MM"))
            df.write.mode("overwrite").partitionBy("part_month") \
                .parquet(tmp_path)
        else:
            df.write.mode("overwrite").parquet(tmp_path)
        # empty detection from the WRITTEN output (a pre-write
        # take(1) would execute every full plan twice): dynamic-
        # partitioned empty writes emit no parquet footer, so
        # rewrite with one empty task to keep the schema readable
        if not _has_parquet(tmp_path):
            df.drop("part_month").repartition(1) \
                .write.mode("overwrite").parquet(tmp_path)
    # rejects are a cumulative audit log of per-load SLICES (the
    # reference's skipped-rows csv), stored as one hive
    # subdirectory per load keyed by a DETERMINISTIC batch id
    # (md5 of the input file names PLUS each file's size and
    # mtime): a crash retry that reuses the same files IN PLACE
    # overwrites its own slice instead of appending a duplicate —
    # a retry that re-downloads byte-identical inputs gets a fresh
    # mtime and therefore a new slice (an append, surfaced by the
    # per-run stat; content-hashing the files would close that at
    # the cost of re-reading every input). Each load writes only
    # its delta (never a rewrite of the whole log). The size/mtime
    # fingerprint keeps two genuinely different loads that ship
    # identical basenames (undated feeds like ``listings.csv.gz``)
    # from colliding on one slice and silently overwriting the
    # earlier load's rejects. The STAT reports THIS run's rejects,
    # so per-run monitoring doesn't over-report on day 2+.
    rejects_dir = os.path.join(output_dir, "rejects_listings")
    batch_id = hashlib.md5("\n".join(
        "{}\x00{}\x00{}".format(os.path.basename(p),
                                os.stat(p).st_size,
                                os.stat(p).st_mtime_ns)
        for k in sorted(files)
        for p, _, _ in files[k]).encode()).hexdigest()[:16]
    slice_dir = os.path.join(rejects_dir, f"load_batch={batch_id}")
    tables.stats["rejects_listings"] = rejects.count()
    rejects.write.mode("overwrite").parquet(slice_dir)
    if not _has_parquet(slice_dir):
        rejects.repartition(1).write.mode("overwrite").parquet(slice_dir)
    # journal AFTER all staging is materialized, BEFORE the first
    # swap: its presence promises every .__tmp is complete, so
    # recovery always rolls FORWARD (atomic batch commit — see
    # _roll_forward_swaps). Written atomically (temp + fsync +
    # rename): a torn journal would roll forward only a PREFIX of
    # the batch — the exact mixed state the mechanism exists to
    # prevent.
    journal = os.path.join(output_dir, _SWAP_JOURNAL)
    with open(journal + ".tmp", "w") as jf:
        jf.write("\n".join(CORE_TABLES) + "\n")
        jf.flush()
        os.fsync(jf.fileno())
    os.replace(journal + ".tmp", journal)
    for name in CORE_TABLES:
        final_path = os.path.join(output_dir, name)
        # crash-safe swap: rename the live table aside, move the
        # staged one in, then drop the backup. A kill in the window
        # leaves <name>.__old, which _load_existing restores — never
        # an rmtree'd hole that would silently trigger a full rebuild
        # over a partial data_dir.
        old_path = final_path + ".__old"
        shutil.rmtree(old_path, ignore_errors=True)
        if os.path.exists(final_path):
            os.rename(final_path, old_path)
        os.replace(final_path + ".__tmp", final_path)
        shutil.rmtree(old_path, ignore_errors=True)
        # rebind to the persisted layer: the in-flight lineage may
        # reference pre-swap files, and re-reading parquet beats
        # recomputing the whole plan downstream
        persisted = spark.read.parquet(final_path).drop("part_month")
        setattr(tables, name, persisted)
        tables.stats[name] = persisted.count()
    # all core swaps landed: the batch is committed
    os.remove(journal)
