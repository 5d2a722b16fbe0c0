"""Deterministic synthetic insurance fixtures (FIXTURES.md §A).

Four raw entities shaped exactly like the reference's Auto-Loader-ingested
sources (customers/policies/claims/premiums), seeded and tie-free so the
latest-wins dedup is deterministic (SURVEY §7 hazard 1):

- ~2% duplicate PKs with strictly increasing updated_at within a group
  (premiums: distinct source_file_time instead — its dedup orders by it,
  premiums_silver.sql:46-49);
- ~2% NULL/empty keys, ~3% invalid emails, ~2% negative amounts;
- dates span 2023-01..2025-06 (30 months — enough for LAG(12));
- states cover the FL/TX/CA + NY/NJ/CT risk buckets; ages straddle
  25/35/55/65; settlement ratios span the performance bands.

Raw columns are typed (date/timestamp/double) as Auto Loader schema
inference would produce; bronze's full-width CAST is still exercised.
All single-word categorical values so DuckDB's manual INITCAP replication
in the golden test is exact (SURVEY §7 hazard 7).

Each table is handed to Spark once through ``sources.readers.local_frame``,
which keeps it JVM-side as an Arrow-backed ``LocalRelation``: no scan sends
the rows back through a Python worker, and the relation carries exact size
statistics for the planner. Naive ``datetime`` values enter Arrow as UTC
wall-clock, so Spark (session zone UTC) reads the same wall-clock the
generator wrote, as the DuckDB replication in the golden test does,
whatever the host's ``TZ``.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import local_frame

BASE = dt.datetime(2023, 1, 1)
SPAN_DAYS = 30 * 30  # ~30 months


def _ts(rng: random.Random, start: dt.datetime = BASE, span_days: int = SPAN_DAYS) -> dt.datetime:
    return start + dt.timedelta(
        days=rng.randrange(span_days), seconds=rng.randrange(86400), microseconds=rng.randrange(1000000)
    )


STATES = ["FL", "TX", "CA", "NY", "NJ", "CT", "OH", "WA", "IL", "GA"]
FIRST = ["john", "MARY", "  alice", "bob  ", "carol", "dave", "ERIN", "frank"]
LAST = ["smith", "JONES", " brown", "taylor ", "lee", "GARCIA", "chen", "patel"]
MARITAL = ["single", "MARRIED", "divorced", "widowed"]
OCCUPATION = ["engineer", "TEACHER", "nurse", "driver", "analyst", "chef"]
POLICY_TYPES = ["auto", "HOME", "life", "Health"]
STATUSES = ["active", "ACTIVE", "cancelled", "Cancelled", "pending", "expired"]
CLAIM_REASONS = ["collision", "FIRE", "theft", "flood", "injury"]
CLAIM_STATUS = ["open", "CLOSED", "pending"]
CLAIM_TYPES = ["auto", "property", "HEALTH", "life"]
SEVERITY = ["low", "MEDIUM", "high"]
PAY_FREQ = ["monthly", "QUARTERLY", "annual"]
PAY_METHOD = ["card", "ach", "CHECK", "wire"]
PAY_STATUS = ["paid", "LATE", "failed"]
PROCESSOR = ["stripe", "ADYEN", "square"]


def _email(rng: random.Random, i: int) -> str | None:
    r = rng.random()
    if r < 0.015:
        return None
    if r < 0.03:
        return f"user{i}-at-example.com"  # no @: trips the RLIKE flag
    if r < 0.045:
        return f"user{i}@bad"  # no TLD
    return f"user{i}@example{i % 7}.com"


def gen_customers(rng: random.Random, n: int = 1000) -> list[tuple]:
    rows = []
    for i in range(n):
        cid = f"CUST{i:05d}"
        if rng.random() < 0.01:
            cid = None
        elif rng.random() < 0.01:
            cid = ""
        dob = (
            None
            if rng.random() < 0.02
            else (dt.date(1940, 1, 1) + dt.timedelta(days=rng.randrange(60 * 365)))
        )
        created = _ts(rng)
        rows.append(
            (
                cid,
                rng.choice(FIRST),
                rng.choice(LAST),
                _email(rng, i),
                f"555-{rng.randrange(10000):04d}",
                dob,
                f"{rng.randrange(999)} Main St",
                "Springfield",
                rng.choice(STATES),
                f"{rng.randrange(99999):05d}",
                round(rng.uniform(20000, 250000), 2),
                rng.randrange(300, 850),
                rng.choice(MARITAL),
                rng.choice(OCCUPATION),
                created,
                created + dt.timedelta(days=rng.randrange(1, 200)),
                f"s3://raw/customers/batch_{i % 13}.csv",
                BASE + dt.timedelta(days=i % 400),
            )
        )
        if cid and rng.random() < 0.02:  # duplicate PK, later updated_at
            r = list(rows[-1])
            r[15] = r[15] + dt.timedelta(days=365, seconds=i)
            r[13] = rng.choice(OCCUPATION)
            rows.append(tuple(r))
    return rows


CUSTOMER_COLS = (
    "customer_id string, first_name string, last_name string, email string, "
    "phone string, date_of_birth date, address string, city string, state string, "
    "zip_code string, annual_income double, credit_score int, marital_status string, "
    "occupation string, created_at timestamp, updated_at timestamp, "
    "source_file_path string, source_file_time timestamp"
)


def gen_policies(rng: random.Random, n: int = 3000, n_customers: int = 1000) -> list[tuple]:
    rows = []
    for i in range(n):
        pid = f"POL{i:05d}"
        if rng.random() < 0.01:
            pid = None
        elif rng.random() < 0.01:
            pid = ""
        cid = f"CUST{rng.randrange(n_customers):05d}"
        r = rng.random()
        if r < 0.01:
            cid = None
        elif r < 0.02:
            cid = ""
        elif r < 0.04:
            cid = f"CUST9{rng.randrange(9000, 9999)}"  # orphan
        start = BASE.date() + dt.timedelta(days=rng.randrange(SPAN_DAYS))
        end = start + dt.timedelta(days=rng.choice([180, 365, 730]))
        if rng.random() < 0.02:
            start, end = end, start  # invalid range
        if rng.random() < 0.01:
            end = None
        coverage = round(rng.uniform(10000, 1000000), 2)
        premium = round(rng.uniform(200, 30000), 2)
        deduct = round(rng.uniform(100, 5000), 2)
        if rng.random() < 0.02:
            premium = -premium
        if rng.random() < 0.01:
            coverage = None
        created = _ts(rng)
        rows.append(
            (
                pid,
                cid,
                rng.choice(POLICY_TYPES),
                coverage,
                premium,
                deduct,
                start,
                end,
                rng.choice(STATUSES),
                f"AGT{rng.randrange(50):03d}",
                f"UWR{rng.randrange(20):03d}",
                rng.choice(PAY_FREQ),
                created,
                created + dt.timedelta(days=rng.randrange(1, 100)),
                None if rng.random() < 0.97 else '{"extra":"x"}',
                f"s3://raw/policies/batch_{i % 11}.csv",
                BASE + dt.timedelta(days=i % 400),
            )
        )
        if pid and rng.random() < 0.02:
            r2 = list(rows[-1])
            r2[13] = r2[13] + dt.timedelta(days=400, seconds=i)
            r2[8] = rng.choice(STATUSES)
            rows.append(tuple(r2))
    return rows


POLICY_COLS = (
    "policy_id string, customer_id string, policy_type string, coverage_amount double, "
    "premium_amount double, deductible double, start_date date, end_date date, "
    "status string, agent_id string, underwriter_id string, payment_frequency string, "
    "created_at timestamp, updated_at timestamp, _rescued_data string, "
    "source_file_path string, source_file_time timestamp"
)


def gen_claims(rng: random.Random, n: int = 5000, n_policies: int = 3000) -> list[tuple]:
    rows = []
    for i in range(n):
        clid = f"CLM{i:05d}"
        if rng.random() < 0.01:
            clid = None
        elif rng.random() < 0.01:
            clid = ""
        pid = f"POL{rng.randrange(n_policies):05d}"
        r = rng.random()
        if r < 0.01:
            pid = None
        elif r < 0.02:
            pid = ""
        elif r < 0.04:
            pid = f"POL9{rng.randrange(9000, 9999)}"  # orphan
        claim_date = _ts(rng)
        reported = claim_date + dt.timedelta(days=rng.choice([1, 3, 6, 10, 13, 18, 25]))
        amount = round(rng.uniform(100, 80000), 2)
        if rng.random() < 0.01:
            amount = 0.0
        elif rng.random() < 0.02:
            amount = -amount
        settled = round(amount * rng.choice([0.5, 0.65, 0.75, 0.85, 0.92, 1.0]), 2)
        if rng.random() < 0.02:
            settled = None
        created = _ts(rng)
        rows.append(
            (
                clid,
                pid,
                f"CUST{rng.randrange(1000):05d}",
                claim_date,
                reported,
                amount,
                settled,
                rng.randrange(100, 2000),
                rng.choice(CLAIM_REASONS),
                rng.choice(CLAIM_STATUS),
                None if rng.random() < 0.1 else f"ADJ{rng.randrange(20):03d}",
                rng.choice(CLAIM_TYPES),
                rng.choice(SEVERITY),
                1 if rng.random() < 0.07 else 0,
                created,
                created + dt.timedelta(days=rng.randrange(1, 60)),
                f"s3://raw/claims/batch_{i % 17}.csv",
                BASE + dt.timedelta(days=i % 400),
            )
        )
        if clid and rng.random() < 0.02:
            r2 = list(rows[-1])
            r2[15] = r2[15] + dt.timedelta(days=300, seconds=i)
            r2[9] = rng.choice(CLAIM_STATUS)
            rows.append(tuple(r2))
    return rows


CLAIM_COLS = (
    "claim_id string, policy_id string, customer_id string, claim_date timestamp, "
    "reported_date timestamp, claim_amount double, settled_amount double, "
    "deductible_amount int, claim_reason string, status string, adjuster_id string, "
    "claim_type string, severity string, fraud_indicator int, created_at timestamp, "
    "updated_at timestamp, source_file_path string, source_file_time timestamp"
)


def gen_premiums(rng: random.Random, n: int = 10000, n_policies: int = 3000) -> list[tuple]:
    rows = []
    for i in range(n):
        prid = f"PRM{i:05d}"
        pay_date = _ts(rng)
        amount = round(rng.uniform(50, 3000), 2)
        if rng.random() < 0.02:
            amount = -amount
        late = round(rng.uniform(0, 80), 2) if rng.random() < 0.2 else 0.0
        if rng.random() < 0.01:
            late = -late
        disc = round(rng.uniform(0, 50), 2) if rng.random() < 0.3 else 0.0
        tax = round(amount * 0.07, 2)
        total = round(amount + late + tax - disc, 2)
        created = _ts(rng)
        sft = BASE + dt.timedelta(days=i % 400, seconds=i % 86400)
        rows.append(
            (
                prid,
                f"  POL{rng.randrange(n_policies):05d} ",
                f" CUST{rng.randrange(1000):05d}  ",
                pay_date,
                pay_date + dt.timedelta(days=14),
                amount,
                rng.choice(PAY_FREQ),
                rng.choice(PAY_METHOD),
                rng.choice(PAY_STATUS),
                late,
                disc,
                tax,
                total,
                f"TXN{i:08d}",
                rng.choice(PROCESSOR),
                created,
                created + dt.timedelta(days=3),
                f"s3://raw/premiums/batch_{i % 23}.csv",
                sft,
            )
        )
        if rng.random() < 0.02:  # duplicate PK, LATER source_file_time
            r2 = list(rows[-1])
            r2[18] = sft + dt.timedelta(days=500, seconds=i)
            r2[8] = rng.choice(PAY_STATUS)
            rows.append(tuple(r2))
    return rows


PREMIUM_COLS = (
    "premium_id string, policy_id string, customer_id string, payment_date timestamp, "
    "due_date timestamp, premium_amount double, payment_frequency string, "
    "payment_method string, payment_status string, late_fee double, "
    "discount_applied double, tax_amount double, total_amount double, "
    "transaction_id string, payment_processor string, created_at timestamp, "
    "updated_at timestamp, source_file_path string, source_file_time timestamp"
)


def raw_rows(seed: int = 42, scale: float = 1.0) -> dict[str, tuple[list[tuple], str]]:
    """The generated rows and DDL of each raw entity (deterministic for a seed)."""
    rng = random.Random(seed)
    n_cust, n_pol = int(1000 * scale), int(3000 * scale)
    return {
        "raw_customers": (gen_customers(rng, n_cust), CUSTOMER_COLS),
        "raw_policies": (gen_policies(rng, n_pol, n_cust), POLICY_COLS),
        "raw_claims": (gen_claims(rng, int(5000 * scale), n_pol), CLAIM_COLS),
        "raw_premiums": (gen_premiums(rng, int(10000 * scale), n_pol), PREMIUM_COLS),
    }


def raw_tables(spark: SparkSession, seed: int = 42, scale: float = 1.0) -> dict[str, DataFrame]:
    """Build the four raw entity DataFrames (deterministic for a seed)."""
    return {
        name: local_frame(spark, rows, ddl) for name, (rows, ddl) in raw_rows(seed, scale).items()
    }
