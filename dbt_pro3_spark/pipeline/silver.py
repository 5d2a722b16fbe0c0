"""Silver layer: standardize strings, derive business columns, attach
quality flags, dedup by PK latest-wins.

Each model is one SQL text (see ``modelsql``), a faithful re-expression of
models/silver/*.sql — including the quirks:
- flags are computed on the PRE-clean input columns: the flag CASEs sit in
  the same SELECT as the trimmed aliases, and a FROM column outranks a
  same-named alias there, so they read the bronze columns, as the
  reference's do;
- full_name uses CONCAT (null-propagating), not concat_ws
  (customers_silver.sql:47);
- age is year subtraction guarded by dob IS NOT NULL
  (customers_silver.sql:44-46);
- processed_at is the injected :run_ts instead of CURRENT_TIMESTAMP() so
  the dedup tiebreaker is deterministic (SURVEY §7 hazard 1 — within one
  query current_timestamp is constant, so the reference's tiebreaker was a
  no-op anyway); with no run_ts it falls back to CURRENT_TIMESTAMP();
- premiums dedups FIRST (on source_file_time DESC) and cleans after
  (premiums_silver.sql:25-76), unlike the other three.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.scalar import EMAIL_RE
from .modelsql import RUN_DATE, RUN_TS, run_sql

_CUSTOMERS = f"""
SELECT customer_id, first_name, last_name, full_name, email, phone,
       date_of_birth, age, address, city, state, zip_code, annual_income,
       credit_score, marital_status, occupation, created_at, updated_at,
       source_file_path, source_file_time, processed_at, invalid_email_flag
FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY customer_id ORDER BY updated_at DESC, processed_at DESC
         ) AS row_num
  FROM (
    SELECT CAST(TRIM(customer_id) AS STRING) AS customer_id,
           INITCAP(TRIM(first_name)) AS first_name,
           INITCAP(TRIM(last_name)) AS last_name,
           LOWER(TRIM(email)) AS email,
           TRIM(phone) AS phone,
           CAST(date_of_birth AS DATE) AS date_of_birth,
           TRIM(address) AS address,
           TRIM(city) AS city,
           TRIM(state) AS state,
           TRIM(zip_code) AS zip_code,
           CAST(annual_income AS DECIMAL(18,2)) AS annual_income,
           CAST(credit_score AS INT) AS credit_score,
           INITCAP(TRIM(marital_status)) AS marital_status,
           INITCAP(TRIM(occupation)) AS occupation,
           CAST(created_at AS TIMESTAMP) AS created_at,
           CAST(updated_at AS TIMESTAMP) AS updated_at,
           source_file_path,
           source_file_time,
           {RUN_TS} AS processed_at,
           CASE WHEN date_of_birth IS NOT NULL
                THEN YEAR({RUN_DATE}) - YEAR(date_of_birth) END AS age,
           CONCAT(INITCAP(TRIM(first_name)), ' ', INITCAP(TRIM(last_name))) AS full_name,
           CASE WHEN customer_id IS NULL OR customer_id = '' THEN 1 ELSE 0 END
             AS missing_id_flag,
           CASE WHEN email IS NULL OR NOT email RLIKE :email_re THEN 1 ELSE 0 END
             AS invalid_email_flag
    FROM {{bronze}}
  )
  WHERE missing_id_flag = 0
)
WHERE row_num = 1
"""

_POLICIES = f"""
SELECT policy_id, customer_id, policy_type, coverage_amount, premium_amount,
       deductible, start_date, end_date, status, agent_id, underwriter_id,
       payment_frequency, created_at, updated_at, source_file_path,
       source_file_time, processed_at, policy_duration_days,
       missing_customer_id_flag, invalid_coverage_amount_flag,
       invalid_premium_amount_flag, invalid_deductible_flag,
       invalid_date_range_flag
FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY policy_id ORDER BY updated_at DESC, processed_at DESC
         ) AS row_num
  FROM (
    SELECT CAST(TRIM(policy_id) AS STRING) AS policy_id,
           CAST(TRIM(customer_id) AS STRING) AS customer_id,
           INITCAP(TRIM(policy_type)) AS policy_type,
           CAST(coverage_amount AS DECIMAL(18,2)) AS coverage_amount,
           CAST(premium_amount AS DECIMAL(18,2)) AS premium_amount,
           CAST(deductible AS DECIMAL(18,2)) AS deductible,
           CAST(start_date AS DATE) AS start_date,
           CAST(end_date AS DATE) AS end_date,
           UPPER(TRIM(status)) AS status,
           CAST(agent_id AS STRING) AS agent_id,
           CAST(underwriter_id AS STRING) AS underwriter_id,
           LOWER(TRIM(payment_frequency)) AS payment_frequency,
           CAST(created_at AS TIMESTAMP) AS created_at,
           CAST(updated_at AS TIMESTAMP) AS updated_at,
           source_file_path,
           source_file_time,
           {RUN_TS} AS processed_at,
           CASE WHEN policy_id IS NULL OR policy_id = '' THEN 1 ELSE 0 END
             AS missing_policy_id_flag,
           CASE WHEN customer_id IS NULL OR customer_id = '' THEN 1 ELSE 0 END
             AS missing_customer_id_flag,
           CASE WHEN coverage_amount IS NULL OR coverage_amount < 0 THEN 1 ELSE 0 END
             AS invalid_coverage_amount_flag,
           CASE WHEN premium_amount IS NULL OR premium_amount < 0 THEN 1 ELSE 0 END
             AS invalid_premium_amount_flag,
           CASE WHEN deductible IS NULL OR deductible < 0 THEN 1 ELSE 0 END
             AS invalid_deductible_flag,
           CASE WHEN start_date IS NULL OR end_date IS NULL OR start_date > end_date
                THEN 1 ELSE 0 END AS invalid_date_range_flag,
           DATEDIFF(end_date, start_date) AS policy_duration_days
    FROM {{bronze}}
  )
  WHERE missing_policy_id_flag = 0
)
WHERE row_num = 1
"""

_CLAIMS = f"""
SELECT claim_id, policy_id, customer_id, claim_date, reported_date,
       claim_amount, settled_amount, deductible_amount, claim_reason, status,
       adjuster_id, claim_type, severity, fraud_indicator, created_at,
       updated_at, source_file_path, source_file_time, processed_at,
       DATEDIFF(reported_date, claim_date) AS reporting_delay_days,
       claim_amount - settled_amount AS claim_difference,
       CASE WHEN claim_amount > 0
            THEN ROUND(settled_amount / claim_amount, 3) END AS settlement_ratio,
       missing_policy_flag, missing_customer_flag,
       invalid_claim_amount_flag, invalid_settled_amount_flag
FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY claim_id ORDER BY updated_at DESC, processed_at DESC
         ) AS row_num
  FROM (
    SELECT CAST(TRIM(claim_id) AS STRING) AS claim_id,
           CAST(TRIM(policy_id) AS STRING) AS policy_id,
           CAST(TRIM(customer_id) AS STRING) AS customer_id,
           CAST(claim_date AS TIMESTAMP) AS claim_date,
           CAST(reported_date AS TIMESTAMP) AS reported_date,
           CAST(claim_amount AS DOUBLE) AS claim_amount,
           CAST(settled_amount AS DOUBLE) AS settled_amount,
           CAST(deductible_amount AS INT) AS deductible_amount,
           INITCAP(TRIM(claim_reason)) AS claim_reason,
           UPPER(TRIM(status)) AS status,
           CAST(adjuster_id AS STRING) AS adjuster_id,
           UPPER(TRIM(claim_type)) AS claim_type,
           UPPER(TRIM(severity)) AS severity,
           CAST(fraud_indicator AS INT) AS fraud_indicator,
           CAST(created_at AS TIMESTAMP) AS created_at,
           CAST(updated_at AS TIMESTAMP) AS updated_at,
           source_file_path,
           source_file_time,
           {RUN_TS} AS processed_at,
           CASE WHEN claim_id IS NULL OR claim_id = '' THEN 1 ELSE 0 END
             AS missing_id_flag,
           CASE WHEN policy_id IS NULL OR policy_id = '' THEN 1 ELSE 0 END
             AS missing_policy_flag,
           CASE WHEN customer_id IS NULL OR customer_id = '' THEN 1 ELSE 0 END
             AS missing_customer_flag,
           CASE WHEN claim_amount IS NULL OR claim_amount < 0 THEN 1 ELSE 0 END
             AS invalid_claim_amount_flag,
           CASE WHEN settled_amount IS NULL OR settled_amount < 0 THEN 1 ELSE 0 END
             AS invalid_settled_amount_flag
    FROM {{bronze}}
  )
  WHERE missing_id_flag = 0
)
WHERE row_num = 1
"""

# 0D is the DOUBLE zero of the columns; the SQL literal 0.0 is DECIMAL(1,1)
_PREMIUMS = """
SELECT premium_id, policy_id, customer_id, payment_date, due_date,
       CASE WHEN premium_amount < 0 THEN 0D ELSE premium_amount END AS premium_amount,
       UPPER(TRIM(payment_frequency)) AS payment_frequency,
       INITCAP(TRIM(payment_method)) AS payment_method,
       UPPER(TRIM(payment_status)) AS payment_status,
       CASE WHEN late_fee < 0 THEN 0D ELSE late_fee END AS late_fee,
       CASE WHEN discount_applied < 0 THEN 0D ELSE discount_applied END AS discount_applied,
       CASE WHEN tax_amount < 0 THEN 0D ELSE tax_amount END AS tax_amount,
       CASE WHEN total_amount < 0 THEN 0D ELSE total_amount END AS total_amount,
       transaction_id,
       INITCAP(TRIM(payment_processor)) AS payment_processor,
       created_at, updated_at, source_file_path, source_file_time
FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY premium_id ORDER BY source_file_time DESC
         ) AS row_num
  FROM {bronze}
)
WHERE row_num = 1
"""


def customers_silver(
    bronze: DataFrame, run_ts: str | None, run_date: str | None = None
) -> DataFrame:
    """customers_silver.sql:21-91.

    ``age`` mirrors the reference's YEAR(CURRENT_DATE) - YEAR(dob)
    (customers_silver.sql:52); when ``run_date`` is injected the run date's
    year is used instead so deterministic runs don't roll over at new year.
    """
    params = {"run_ts": run_ts, "run_date": run_date, "email_re": EMAIL_RE}
    return run_sql(_CUSTOMERS, params, bronze=bronze)


def policies_silver(bronze: DataFrame, run_ts: str | None) -> DataFrame:
    """policies_silver.sql:22-91."""
    return run_sql(_POLICIES, {"run_ts": run_ts}, bronze=bronze)


def claims_silver(bronze: DataFrame, run_ts: str | None) -> DataFrame:
    """claims_silver.sql:19-89."""
    return run_sql(_CLAIMS, {"run_ts": run_ts}, bronze=bronze)


def premiums_silver(bronze: DataFrame, run_ts: str | None) -> DataFrame:  # noqa: ARG001
    """premiums_silver.sql:20-78 — dedup FIRST (source_file_time DESC), then
    clamp negatives and normalize case."""
    return run_sql(_PREMIUMS, {}, bronze=bronze)
