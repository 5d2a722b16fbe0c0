"""Pipeline golden test: run the 12-model medallion DAG on the deterministic
insurance fixtures, then replicate silver + gold semantics independently in
DuckDB over the SAME raw rows and compare full outputs.

Exclusions (documented reference nondeterminism):
- gold_claims_operations.prev_month_* and gold_policy_performance.*_prev_year:
  the reference's LAG windows order by a month column that is NOT unique
  within the partition (many group keys share a month), so peer order — and
  therefore the lagged value — is engine-dependent. Everything else matches.
"""

from __future__ import annotations

import time

import pandas as pd
import pytest

from dbt_pro3_spark.pipeline import build_registry
from dbt_pro3_spark.pipeline import fixtures as fx
from dbt_pro3_spark.pipeline.registry_build import DEFAULT_RUN_TS

# The run DATE injected everywhere the reference uses CURRENT_DATE (see
# registry_build.build_registry) — keeps this replication and the pinned
# medallion goldens valid on every calendar day, not just the pin day.
RUN_DATE = DEFAULT_RUN_TS[:10]

from .parity import compare

EMAIL_RE = r"^[A-Za-z0-9+_.-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"


def ic(x: str) -> str:
    """Manual INITCAP for DuckDB (single-word fixture values by design)."""
    return f"(upper(substr(lower({x}), 1, 1)) || substr(lower({x}), 2))"


def dround(expr: str, n: int) -> str:
    return f"CAST(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,{n})) AS DOUBLE)"


def silver_ctes() -> str:
    """DuckDB CTEs replicating the four silver models (reference semantics,
    flags computed on raw columns, dedup by updated_at DESC — tie-free by
    fixture construction)."""
    return f"""
customers_silver AS (
  SELECT * EXCLUDE (row_num, missing_id_flag) FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY customer_id ORDER BY updated_at DESC) AS row_num
    FROM (
      SELECT TRIM(r.customer_id) AS customer_id,
             {ic('TRIM(r.first_name)')} AS first_name,
             {ic('TRIM(r.last_name)')} AS last_name,
             lower(TRIM(r.email)) AS email,
             TRIM(r.phone) AS phone,
             r.date_of_birth,
             TRIM(r.address) AS address, TRIM(r.city) AS city, TRIM(r.state) AS state,
             TRIM(r.zip_code) AS zip_code,
             CAST(r.annual_income AS DECIMAL(18,2)) AS annual_income,
             r.credit_score,
             {ic('TRIM(r.marital_status)')} AS marital_status,
             {ic('TRIM(r.occupation)')} AS occupation,
             r.created_at, r.updated_at, r.source_file_path, r.source_file_time,
             TIMESTAMP '{DEFAULT_RUN_TS}' AS processed_at,
             CASE WHEN r.date_of_birth IS NOT NULL
                  THEN year(DATE '{RUN_DATE}') - year(r.date_of_birth) END AS age,
             {ic('TRIM(r.first_name)')} || ' ' || {ic('TRIM(r.last_name)')} AS full_name,
             CASE WHEN r.customer_id IS NULL OR r.customer_id = '' THEN 1 ELSE 0 END AS missing_id_flag,
             CASE WHEN r.email IS NULL OR NOT regexp_matches(r.email, '{EMAIL_RE}')
                  THEN 1 ELSE 0 END AS invalid_email_flag
      FROM raw_customers r
    ) WHERE missing_id_flag = 0
  ) WHERE row_num = 1
),
policies_silver AS (
  SELECT * EXCLUDE (row_num, missing_policy_id_flag) FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY policy_id ORDER BY updated_at DESC) AS row_num
    FROM (
      SELECT TRIM(r.policy_id) AS policy_id, TRIM(r.customer_id) AS customer_id,
             {ic('TRIM(r.policy_type)')} AS policy_type,
             CAST(r.coverage_amount AS DECIMAL(18,2)) AS coverage_amount,
             CAST(r.premium_amount AS DECIMAL(18,2)) AS premium_amount,
             CAST(r.deductible AS DECIMAL(18,2)) AS deductible,
             r.start_date, r.end_date,
             upper(TRIM(r.status)) AS status,
             r.agent_id, r.underwriter_id,
             lower(TRIM(r.payment_frequency)) AS payment_frequency,
             r.created_at, r.updated_at, r.source_file_path, r.source_file_time,
             TIMESTAMP '{DEFAULT_RUN_TS}' AS processed_at,
             CASE WHEN r.policy_id IS NULL OR r.policy_id = '' THEN 1 ELSE 0 END AS missing_policy_id_flag,
             CASE WHEN r.customer_id IS NULL OR r.customer_id = '' THEN 1 ELSE 0 END AS missing_customer_id_flag,
             CASE WHEN r.coverage_amount IS NULL OR r.coverage_amount < 0 THEN 1 ELSE 0 END AS invalid_coverage_amount_flag,
             CASE WHEN r.premium_amount IS NULL OR r.premium_amount < 0 THEN 1 ELSE 0 END AS invalid_premium_amount_flag,
             CASE WHEN r.deductible IS NULL OR r.deductible < 0 THEN 1 ELSE 0 END AS invalid_deductible_flag,
             CASE WHEN r.start_date IS NULL OR r.end_date IS NULL OR r.start_date > r.end_date
                  THEN 1 ELSE 0 END AS invalid_date_range_flag,
             datediff('day', r.start_date, r.end_date) AS policy_duration_days
      FROM raw_policies r
    ) WHERE missing_policy_id_flag = 0
  ) WHERE row_num = 1
),
claims_silver AS (
  SELECT * EXCLUDE (row_num, missing_id_flag),
         datediff('day', claim_date, reported_date) AS reporting_delay_days,
         claim_amount - settled_amount AS claim_difference,
         CASE WHEN claim_amount > 0 THEN {dround('settled_amount / claim_amount', 3)}
              END AS settlement_ratio
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY claim_id ORDER BY updated_at DESC) AS row_num
    FROM (
      SELECT TRIM(r.claim_id) AS claim_id, TRIM(r.policy_id) AS policy_id,
             TRIM(r.customer_id) AS customer_id,
             r.claim_date, r.reported_date,
             CAST(r.claim_amount AS DOUBLE) AS claim_amount,
             CAST(r.settled_amount AS DOUBLE) AS settled_amount,
             r.deductible_amount,
             {ic('TRIM(r.claim_reason)')} AS claim_reason,
             upper(TRIM(r.status)) AS status,
             r.adjuster_id,
             upper(TRIM(r.claim_type)) AS claim_type,
             upper(TRIM(r.severity)) AS severity,
             r.fraud_indicator,
             r.created_at, r.updated_at, r.source_file_path, r.source_file_time,
             TIMESTAMP '{DEFAULT_RUN_TS}' AS processed_at,
             CASE WHEN r.claim_id IS NULL OR r.claim_id = '' THEN 1 ELSE 0 END AS missing_id_flag,
             CASE WHEN r.policy_id IS NULL OR r.policy_id = '' THEN 1 ELSE 0 END AS missing_policy_flag,
             CASE WHEN r.customer_id IS NULL OR r.customer_id = '' THEN 1 ELSE 0 END AS missing_customer_flag,
             CASE WHEN r.claim_amount IS NULL OR r.claim_amount < 0 THEN 1 ELSE 0 END AS invalid_claim_amount_flag,
             CASE WHEN r.settled_amount IS NULL OR r.settled_amount < 0 THEN 1 ELSE 0 END AS invalid_settled_amount_flag
      FROM raw_claims r
    ) WHERE missing_id_flag = 0
  ) WHERE row_num = 1
),
premiums_silver AS (
  SELECT premium_id, policy_id, customer_id, payment_date, due_date,
         CASE WHEN premium_amount < 0 THEN 0 ELSE premium_amount END AS premium_amount,
         upper(TRIM(payment_frequency)) AS payment_frequency,
         {ic('TRIM(payment_method)')} AS payment_method,
         upper(TRIM(payment_status)) AS payment_status,
         CASE WHEN late_fee < 0 THEN 0 ELSE late_fee END AS late_fee,
         CASE WHEN discount_applied < 0 THEN 0 ELSE discount_applied END AS discount_applied,
         CASE WHEN tax_amount < 0 THEN 0 ELSE tax_amount END AS tax_amount,
         CASE WHEN total_amount < 0 THEN 0 ELSE total_amount END AS total_amount,
         transaction_id,
         {ic('TRIM(payment_processor)')} AS payment_processor,
         created_at, updated_at, source_file_path, source_file_time
  FROM (
    SELECT TRIM(r.premium_id) AS premium_id, TRIM(r.policy_id) AS policy_id,
           TRIM(r.customer_id) AS customer_id, r.payment_date, r.due_date,
           CAST(r.premium_amount AS DOUBLE) AS premium_amount,
           r.payment_frequency, r.payment_method, r.payment_status,
           CAST(r.late_fee AS DOUBLE) AS late_fee,
           CAST(r.discount_applied AS DOUBLE) AS discount_applied,
           CAST(r.tax_amount AS DOUBLE) AS tax_amount,
           CAST(r.total_amount AS DOUBLE) AS total_amount,
           r.transaction_id, r.payment_processor, r.created_at, r.updated_at,
           r.source_file_path, r.source_file_time,
           ROW_NUMBER() OVER (PARTITION BY TRIM(r.premium_id) ORDER BY r.source_file_time DESC) AS rn
    FROM raw_premiums r
  ) WHERE rn = 1
)
"""


GOLD_CUSTOMER_360 = f"""
WITH {silver_ctes()},
customer_base AS (
  SELECT customer_id, full_name, age, annual_income, credit_score, state,
         marital_status, occupation, processed_at
  FROM customers_silver WHERE invalid_email_flag = 0
),
policy_metrics AS (
  SELECT customer_id,
         COUNT(DISTINCT policy_id) AS total_policies,
         SUM(premium_amount) AS total_annual_premium,
         AVG(premium_amount) AS avg_policy_premium,
         SUM(coverage_amount) AS total_coverage,
         MIN(start_date) AS first_policy_date,
         MAX(end_date) AS latest_policy_end,
         COUNT(CASE WHEN status = 'ACTIVE' THEN 1 END) AS active_policies,
         COUNT(CASE WHEN status = 'CANCELLED' THEN 1 END) AS cancelled_policies
  FROM policies_silver
  WHERE missing_customer_id_flag = 0 AND invalid_premium_amount_flag = 0
  GROUP BY customer_id
),
claims_metrics AS (
  SELECT p.customer_id,
         COUNT(DISTINCT cl.claim_id) AS total_claims,
         SUM(cl.claim_amount) AS total_claimed,
         SUM(cl.settled_amount) AS total_settled,
         AVG(cl.claim_amount) AS avg_claim_amount,
         COUNT(CASE WHEN cl.fraud_indicator = 1 THEN 1 END) AS potential_fraud_claims
  FROM claims_silver cl JOIN policies_silver p ON cl.policy_id = p.policy_id
  WHERE cl.missing_policy_flag = 0
  GROUP BY p.customer_id
)
SELECT cb.customer_id, cb.full_name, cb.age,
       CASE WHEN cb.age < 25 THEN 'Gen Z' WHEN cb.age < 35 THEN 'Millennial'
            WHEN cb.age < 55 THEN 'Gen X' ELSE 'Boomer+' END AS generation_segment,
       cb.annual_income, cb.credit_score, cb.state, cb.marital_status, cb.occupation,
       COALESCE(pm.total_policies, 0) AS total_policies,
       COALESCE(pm.total_annual_premium, 0) AS total_annual_premium,
       COALESCE(pm.avg_policy_premium, 0) AS avg_policy_premium,
       COALESCE(pm.total_coverage, 0) AS total_coverage,
       COALESCE(pm.active_policies, 0) AS active_policies,
       COALESCE(pm.cancelled_policies, 0) AS cancelled_policies,
       pm.first_policy_date, pm.latest_policy_end,
       COALESCE(cm.total_claims, 0) AS total_claims,
       COALESCE(cm.total_claimed, 0) AS total_claimed,
       COALESCE(cm.total_settled, 0) AS total_settled,
       COALESCE(cm.avg_claim_amount, 0) AS avg_claim_amount,
       COALESCE(cm.potential_fraud_claims, 0) AS potential_fraud_claims,
       COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) AS customer_lifetime_profit,
       CASE WHEN COALESCE(pm.total_annual_premium, 0) = 0 THEN 0
            ELSE COALESCE(cm.total_settled, 0) / pm.total_annual_premium END AS loss_ratio,
       CASE WHEN COALESCE(pm.total_policies, 0) = 0 THEN 0
            ELSE CAST(COALESCE(cm.total_claims, 0) AS DOUBLE) / pm.total_policies END AS claims_frequency,
       CASE WHEN COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) > 10000 THEN 'High Value'
            WHEN COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) > 5000 THEN 'Medium Value'
            WHEN COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) > 0 THEN 'Low Value'
            ELSE 'Loss Making' END AS customer_value_segment,
       CASE WHEN COALESCE(cm.total_claims, 0) = 0 THEN 'No Claims'
            WHEN CAST(COALESCE(cm.total_claims, 0) AS DOUBLE) / COALESCE(pm.total_policies, 1) < 0.1 THEN 'Low Risk'
            WHEN CAST(COALESCE(cm.total_claims, 0) AS DOUBLE) / COALESCE(pm.total_policies, 1) < 0.3 THEN 'Medium Risk'
            ELSE 'High Risk' END AS risk_tier,
       CASE WHEN pm.latest_policy_end < DATE '{RUN_DATE}' THEN 1 ELSE 0 END AS churned_flag,
       CASE WHEN COALESCE(cm.potential_fraud_claims, 0) > 0 THEN 1 ELSE 0 END AS fraud_flag,
       DATE '{RUN_DATE}' AS report_date,
       cb.processed_at
FROM customer_base cb
LEFT JOIN policy_metrics pm ON cb.customer_id = pm.customer_id
LEFT JOIN claims_metrics cm ON cb.customer_id = cm.customer_id
"""


GOLD_EXEC_SUMMARY = f"""
WITH {silver_ctes()},
monthly_financials AS (
  SELECT date_trunc('month', start_date)::TIMESTAMP AS report_period,
         COUNT(DISTINCT policy_id) AS new_policies,
         COUNT(DISTINCT customer_id) AS active_customers,
         SUM(premium_amount) AS gross_written_premium,
         SUM(coverage_amount) AS total_coverage_in_force,
         AVG(premium_amount) AS avg_policy_premium
  FROM policies_silver WHERE invalid_premium_amount_flag = 0
  GROUP BY 1
),
monthly_claims AS (
  SELECT date_trunc('month', claim_date)::TIMESTAMP AS report_period,
         COUNT(DISTINCT claim_id) AS total_claims,
         SUM(claim_amount) AS total_incurred_claims,
         SUM(settled_amount) AS total_paid_claims,
         AVG(claim_amount) AS avg_claim_severity,
         COUNT(CASE WHEN fraud_indicator = 1 THEN 1 END) AS fraud_claims
  FROM claims_silver WHERE missing_policy_flag = 0
  GROUP BY 1
),
kpis AS (
  SELECT COALESCE(mf.report_period, mc.report_period) AS report_period,
         COALESCE(mf.new_policies, 0) AS new_policies,
         COALESCE(mf.active_customers, 0) AS active_customers,
         COALESCE(mf.gross_written_premium, 0) AS gross_written_premium,
         COALESCE(mf.total_coverage_in_force, 0) AS total_coverage_in_force,
         COALESCE(mf.avg_policy_premium, 0) AS avg_policy_premium,
         COALESCE(mc.total_claims, 0) AS total_claims,
         COALESCE(mc.total_incurred_claims, 0) AS total_incurred_claims,
         COALESCE(mc.total_paid_claims, 0) AS total_paid_claims,
         COALESCE(mc.avg_claim_severity, 0) AS avg_claim_severity,
         COALESCE(mc.fraud_claims, 0) AS fraud_claims,
         CASE WHEN COALESCE(mf.gross_written_premium, 0) > 0
              THEN COALESCE(mc.total_paid_claims, 0) / mf.gross_written_premium
              ELSE 0 END AS loss_ratio,
         CASE WHEN COALESCE(mf.new_policies, 0) > 0
              THEN CAST(COALESCE(mc.total_claims, 0) AS DOUBLE) / mf.new_policies
              ELSE 0 END AS claims_frequency,
         COALESCE(mf.gross_written_premium, 0) - COALESCE(mc.total_paid_claims, 0) AS underwriting_profit,
         CASE WHEN COALESCE(mc.total_claims, 0) > 0
              THEN CAST(mc.fraud_claims AS DOUBLE) / mc.total_claims
              ELSE 0 END AS fraud_rate
  FROM monthly_financials mf FULL OUTER JOIN monthly_claims mc
    ON mf.report_period = mc.report_period
)
SELECT report_period, new_policies, active_customers, total_claims,
       gross_written_premium, total_coverage_in_force, total_incurred_claims,
       total_paid_claims, underwriting_profit, loss_ratio, claims_frequency,
       fraud_rate, avg_policy_premium, avg_claim_severity,
       LAG(gross_written_premium, 12) OVER (ORDER BY report_period) AS gwp_prev_year,
       LAG(new_policies, 12) OVER (ORDER BY report_period) AS policies_prev_year,
       LAG(underwriting_profit, 12) OVER (ORDER BY report_period) AS profit_prev_year,
       CASE WHEN LAG(gross_written_premium, 12) OVER (ORDER BY report_period) > 0
            THEN {dround('''(gross_written_premium - LAG(gross_written_premium, 12) OVER (ORDER BY report_period))
                 / LAG(gross_written_premium, 12) OVER (ORDER BY report_period) * 100''', 6)}
            ELSE 0 END AS gwp_growth_rate_yoy,
       CASE WHEN LAG(new_policies, 12) OVER (ORDER BY report_period) > 0
            THEN (new_policies - LAG(new_policies, 12) OVER (ORDER BY report_period))
                 / CAST(LAG(new_policies, 12) OVER (ORDER BY report_period) AS DOUBLE) * 100
            ELSE 0 END AS policy_growth_rate_yoy,
       CASE WHEN loss_ratio <= 0.6 THEN 'Excellent' WHEN loss_ratio <= 0.8 THEN 'Good'
            WHEN loss_ratio <= 1.0 THEN 'Acceptable' ELSE 'Concerning' END AS performance_category,
       DATE '{RUN_DATE}' AS report_date,
       CAST('{DEFAULT_RUN_TS}' AS TIMESTAMP) AS created_at
FROM kpis
"""


GOLD_POLICY_PERFORMANCE = f"""
WITH {silver_ctes()},
policy_base AS (
  SELECT policy_type, status, payment_frequency,
         date_trunc('month', start_date)::TIMESTAMP AS policy_month,
         COUNT(*) AS policy_count,
         SUM(premium_amount) AS total_premium_revenue,
         SUM(coverage_amount) AS total_coverage_exposure,
         AVG(premium_amount) AS avg_premium,
         AVG(coverage_amount) AS avg_coverage,
         AVG(deductible) AS avg_deductible,
         AVG(policy_duration_days) AS avg_policy_duration
  FROM policies_silver
  WHERE invalid_premium_amount_flag = 0 AND invalid_coverage_amount_flag = 0
    AND invalid_date_range_flag = 0
  GROUP BY 1, 2, 3, 4
),
claims_by_policy_type AS (
  SELECT p.policy_type, date_trunc('month', cl.claim_date)::TIMESTAMP AS claim_month,
         COUNT(DISTINCT cl.claim_id) AS total_claims,
         SUM(cl.claim_amount) AS total_claim_amount,
         SUM(cl.settled_amount) AS total_settled_amount,
         AVG(cl.claim_amount) AS avg_claim_severity,
         AVG(cl.reporting_delay_days) AS avg_reporting_delay,
         COUNT(CASE WHEN cl.fraud_indicator = 1 THEN 1 END) AS fraud_claims
  FROM claims_silver cl JOIN policies_silver p ON cl.policy_id = p.policy_id
  WHERE cl.missing_policy_flag = 0
  GROUP BY 1, 2
)
SELECT pb.policy_type, pb.status, pb.payment_frequency, pb.policy_month,
       pb.policy_count, pb.total_premium_revenue, pb.total_coverage_exposure,
       pb.avg_premium, pb.avg_coverage, pb.avg_deductible, pb.avg_policy_duration,
       COALESCE(cp.total_claims, 0) AS total_claims,
       COALESCE(cp.total_claim_amount, 0) AS total_claim_amount,
       COALESCE(cp.total_settled_amount, 0) AS total_settled_amount,
       COALESCE(cp.avg_claim_severity, 0) AS avg_claim_severity,
       COALESCE(cp.avg_reporting_delay, 0) AS avg_reporting_delay,
       COALESCE(cp.fraud_claims, 0) AS fraud_claims,
       CASE WHEN pb.total_premium_revenue > 0
            THEN COALESCE(cp.total_settled_amount, 0) / pb.total_premium_revenue
            ELSE 0 END AS loss_ratio,
       CASE WHEN pb.policy_count > 0
            THEN CAST(COALESCE(cp.total_claims, 0) AS DOUBLE) / pb.policy_count
            ELSE 0 END AS claims_frequency,
       pb.total_premium_revenue - COALESCE(cp.total_settled_amount, 0) AS underwriting_profit,
       CASE WHEN COALESCE(cp.total_claims, 0) > 0
            THEN CAST(cp.fraud_claims AS DOUBLE) / cp.total_claims
            ELSE 0 END AS fraud_rate,
       CASE WHEN COALESCE(cp.total_settled_amount, 0) / NULLIF(pb.total_premium_revenue, 0) <= 0.6 THEN 'Excellent'
            WHEN COALESCE(cp.total_settled_amount, 0) / NULLIF(pb.total_premium_revenue, 0) <= 0.8 THEN 'Good'
            WHEN COALESCE(cp.total_settled_amount, 0) / NULLIF(pb.total_premium_revenue, 0) <= 1.0 THEN 'Average'
            ELSE 'Poor' END AS performance_tier,
       DATE '{RUN_DATE}' AS report_date
FROM policy_base pb
LEFT JOIN claims_by_policy_type cp
  ON pb.policy_type = cp.policy_type AND pb.policy_month = cp.claim_month
"""


GOLD_CLAIMS_OPERATIONS = f"""
WITH {silver_ctes()},
claims_base AS (
  SELECT cl.claim_type, cl.severity, cl.status, cl.adjuster_id,
         date_trunc('month', cl.claim_date)::TIMESTAMP AS claim_month,
         p.policy_type, c.state AS customer_state, c.age AS customer_age,
         COUNT(*) AS claim_count,
         SUM(cl.claim_amount) AS total_claim_amount,
         SUM(cl.settled_amount) AS total_settled_amount,
         AVG(cl.claim_amount) AS avg_claim_amount,
         AVG(cl.settled_amount) AS avg_settled_amount,
         AVG(cl.reporting_delay_days) AS avg_reporting_delay,
         AVG(cl.settlement_ratio) AS avg_settlement_ratio,
         COUNT(CASE WHEN cl.fraud_indicator = 1 THEN 1 END) AS potential_fraud_cases
  FROM claims_silver cl
  JOIN policies_silver p ON cl.policy_id = p.policy_id
  JOIN customers_silver c ON p.customer_id = c.customer_id
  WHERE cl.missing_policy_flag = 0
  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
),
adjuster_performance AS (
  SELECT adjuster_id,
         COUNT(*) AS total_claims_handled,
         AVG(settlement_ratio) AS ap_avg_settlement_ratio,
         AVG(reporting_delay_days) AS avg_processing_time,
         SUM(CASE WHEN fraud_indicator = 1 THEN 1 ELSE 0 END) AS fraud_cases_detected
  FROM claims_silver WHERE adjuster_id IS NOT NULL
  GROUP BY adjuster_id
)
SELECT cb.claim_type, cb.severity, cb.status, cb.adjuster_id, cb.claim_month,
       cb.policy_type, cb.customer_state,
       cb.claim_count, cb.total_claim_amount, cb.total_settled_amount,
       cb.avg_claim_amount, cb.avg_settled_amount, cb.avg_reporting_delay,
       cb.avg_settlement_ratio, cb.potential_fraud_cases,
       CASE WHEN cb.claim_count > 0
            THEN CAST(cb.potential_fraud_cases AS DOUBLE) / cb.claim_count
            ELSE 0 END AS fraud_rate,
       ap.total_claims_handled AS adjuster_total_claims,
       ap.ap_avg_settlement_ratio AS adjuster_avg_settlement_ratio,
       ap.avg_processing_time AS adjuster_avg_processing_time,
       ap.fraud_cases_detected AS adjuster_fraud_detected,
       CASE WHEN ap.ap_avg_settlement_ratio >= 0.9 AND ap.avg_processing_time <= 7 THEN 'High Performer'
            WHEN ap.ap_avg_settlement_ratio >= 0.8 AND ap.avg_processing_time <= 14 THEN 'Good Performer'
            WHEN ap.ap_avg_settlement_ratio >= 0.7 AND ap.avg_processing_time <= 21 THEN 'Average Performer'
            ELSE 'Needs Improvement' END AS adjuster_performance_tier,
       CASE WHEN cb.customer_state IN ('FL', 'TX', 'CA') THEN 'High Risk State'
            WHEN cb.customer_state IN ('NY', 'NJ', 'CT') THEN 'Medium Risk State'
            ELSE 'Low Risk State' END AS state_risk_category,
       CASE WHEN cb.customer_age < 25 THEN 'Young Driver'
            WHEN cb.customer_age BETWEEN 25 AND 65 THEN 'Mature Driver'
            ELSE 'Senior Driver' END AS customer_age_category,
       DATE '{RUN_DATE}' AS report_date
FROM claims_base cb
LEFT JOIN adjuster_performance ap ON cb.adjuster_id = ap.adjuster_id
"""


@pytest.fixture(scope="module")
def pipeline_run(spark):
    raw = fx.raw_tables(spark, seed=42)
    reg = build_registry(raw)
    result = reg.run(spark, run_ts=DEFAULT_RUN_TS)
    return raw, result


@pytest.fixture(scope="module")
def duck_raw():
    import duckdb

    con = duckdb.connect()
    frames = {
        name: pd.DataFrame(rows, columns=[c.split()[0] for c in ddl.split(", ")])
        for name, (rows, ddl) in fx.raw_rows(seed=42).items()
    }
    for name, df in frames.items():
        con.register(name, df)
    return con


def test_dag_runs_and_schema_tests_pass(pipeline_run):
    _, result = pipeline_run
    assert len(result.outputs) == 12
    assert len(result.audit) == 12
    assert result.test_failures == [], result.test_failures
    # every layer is populated
    for name, df in result.outputs.items():
        assert df.count() > 0, f"{name} is empty"


def test_silver_counts_match_duckdb(pipeline_run, duck_raw):
    _, result = pipeline_run
    expected = {
        "customers_silver": "SELECT COUNT(DISTINCT customer_id) FROM raw_customers "
        "WHERE customer_id IS NOT NULL AND customer_id <> ''",
        "policies_silver": "SELECT COUNT(DISTINCT policy_id) FROM raw_policies "
        "WHERE policy_id IS NOT NULL AND policy_id <> ''",
        "claims_silver": "SELECT COUNT(DISTINCT claim_id) FROM raw_claims "
        "WHERE claim_id IS NOT NULL AND claim_id <> ''",
        "premiums_silver": "SELECT COUNT(DISTINCT premium_id) FROM raw_premiums",
    }
    for model, sql in expected.items():
        assert result.outputs[model].count() == duck_raw.execute(sql).fetchone()[0], model


@pytest.mark.parametrize(
    "model,sql,exclude",
    [
        ("gold_customer_360", GOLD_CUSTOMER_360, set()),
        # gwp_growth_rate_yoy: Spark divides DECIMALs as exact rationals then
        # rounds at scale 6; double arithmetic can land a half-ulp away at the
        # rounding boundary. Compared separately below with 1e-6 abs tolerance.
        ("gold_executive_summary", GOLD_EXEC_SUMMARY, {"gwp_growth_rate_yoy"}),
        # *_prev_year / prev_month_*: the reference's LAG orders by a month
        # column that is not unique within its partition -> peer order (and
        # the lagged value) is engine-dependent. Documented nondeterminism.
        (
            "gold_policy_performance",
            GOLD_POLICY_PERFORMANCE,
            {"premium_revenue_prev_year", "policy_count_prev_year"},
        ),
        (
            "gold_claims_operations",
            GOLD_CLAIMS_OPERATIONS,
            {"prev_month_claims", "prev_month_claim_amount"},
        ),
    ],
)
def test_gold_golden(pipeline_run, duck_raw, model, sql, exclude):
    _, result = pipeline_run
    df = result.outputs[model]
    keep = [c for c in df.columns if c not in exclude]
    oracle_cols = {d[0] for d in duck_raw.execute(f"SELECT * FROM ({sql}) t LIMIT 0").description}
    drop = sorted(exclude & oracle_cols)
    cmp_sql = f"SELECT * EXCLUDE ({', '.join(drop)}) FROM ({sql}) t" if drop else sql
    # tolerant=True: these goldens replicate the REFERENCE models, whose
    # gold marts aggregate raw doubles with no terminal rounding — summation
    # order differs across engines, so bit-identical floats are unattainable
    # by design. They are replication tests, not driver hash contracts; the
    # registry oracle suite keeps the strict default.
    errs = compare(df.select(*keep), duck_raw, cmp_sql, model, tolerant=True)
    assert not errs, "\n".join(errs[:5])
    if "gwp_growth_rate_yoy" in exclude:
        import math

        srows = {
            r["report_period"]: r["gwp_growth_rate_yoy"]
            for r in df.select("report_period", "gwp_growth_rate_yoy").collect()
        }
        drows = duck_raw.execute(
            f"SELECT report_period, gwp_growth_rate_yoy FROM ({sql}) t"
        ).fetchall()
        for period, dval in drows:
            sval = srows[period]
            assert math.isclose(float(sval), float(dval), abs_tol=1.5e-6), (
                period, sval, dval,
            )


def test_premiums_silver_clamps_and_dedups(pipeline_run, duck_raw):
    _, result = pipeline_run
    ps = result.outputs["premiums_silver"]
    from pyspark.sql import functions as F

    assert ps.filter(F.col("premium_amount") < 0).count() == 0
    assert ps.filter(F.col("late_fee") < 0).count() == 0
    # latest-wins on source_file_time: the kept row for a dup group must be
    # the max source_file_time of that group in the raw data
    kept = {
        r["premium_id"]: r["source_file_time"]
        for r in ps.select("premium_id", "source_file_time").collect()
    }
    raw_max = duck_raw.execute(
        "SELECT TRIM(premium_id), MAX(source_file_time) FROM raw_premiums GROUP BY 1"
    ).fetchall()
    mismatches = [pid for pid, mx in raw_max if kept.get(pid) != mx]
    assert not mismatches, mismatches[:5]


# Golden per-layer summary of the DAG at a SECOND fixture scale (seed 42,
# scale=0.5 vs the registry key's 0.2). pipeline_medallion's oracle pins the
# 0.2 constants; pinning a second scale guards the lifecycle path against a
# fixture-generator or dedup-ordering regression that happens to preserve
# one scale's checksums. Values verified identical across two independent
# sessions (determinism), with the 0.2 full-output DuckDB replication above
# as the per-row evidence for the shared logic.
_GOLDEN_SCALE_05 = [
    ("claims_bronze", 18, 2549, "30515833987345697533"),
    ("claims_silver", 26, 2445, "184499484722945492772"),
    ("customers_bronze", 18, 511, "-163912559336819633509"),
    ("customers_silver", 22, 493, "-4707649719523073"),
    ("gold_claims_operations", 26, 2183, "-70162019963539912847"),
    ("gold_customer_360", 31, 474, "272389330346359693902"),
    ("gold_executive_summary", 22, 43, "3303146325221067572"),
    ("gold_policy_performance", 25, 873, "-91545598840488910460"),
    ("policies_bronze", 17, 1540, "335346002840942517758"),
    ("policies_silver", 23, 1481, "42718494620876108343"),
    ("premiums_bronze", 19, 5093, "-201668381242582528472"),
    ("premiums_silver", 19, 5000, "-447638417253867109138"),
]


def test_medallion_golden_second_scale(spark):
    from dbt_pro3_spark.queries.core_extra import medallion_summary

    rows = medallion_summary(spark, scale=0.5).collect()
    got = [(r["model"], r["n_cols"], r["n_rows"], r["checksum"]) for r in rows]
    assert got == _GOLDEN_SCALE_05, [
        (a, b) for a, b in zip(got, _GOLDEN_SCALE_05) if a != b
    ]


def test_injected_run_date_no_wall_clock(spark):
    """Spoofed-date guard (round-5 date bomb): a registry built with a fixed
    run_ts must produce date-derived columns from THAT date, never the wall
    clock — otherwise pinned goldens (pipeline_medallion's checksums) go red
    at the next UTC midnight. Runs the DAG with a far-future run_ts and
    asserts every report_date / age / churned_flag input reflects it."""
    from pyspark.sql import functions as F

    raw = fx.raw_tables(spark, seed=7, scale=0.05)
    reg = build_registry(raw, run_ts="2031-03-01 00:00:00")
    result = reg.run(spark, run_ts="2031-03-01 00:00:00")
    assert not result.test_failures

    for name in ("gold_customer_360", "gold_policy_performance",
                 "gold_claims_operations", "gold_executive_summary"):
        dates = (
            result.outputs[name]
            .select(F.min("report_date").alias("lo"), F.max("report_date").alias("hi"))
            .collect()[0]
        )
        assert str(dates["lo"]) == "2031-03-01" == str(dates["hi"]), name

    # age must be computed against the injected year (2031), not this year's
    cs = result.outputs["customers_silver"].filter(F.col("date_of_birth").isNotNull())
    bad = cs.filter(
        F.col("age") != (F.lit(2031) - F.year("date_of_birth"))
    ).count()
    assert bad == 0


def _wall_clock_offenders(src: str) -> list[str]:
    """Lines of Python source that read the wall clock outside the one
    guarded fallback. Matches the SQL tokens CURRENT_DATE, CURRENT_TIMESTAMP
    and NOW() and the Python F.current_date()/current_timestamp(), in any
    case; comments and docstrings (prose about the reference) are blanked
    first. The only allowed form is the run-clock fallback on a NULL
    injected parameter, ``CASE WHEN :run_ts IS NULL THEN CURRENT_TIMESTAMP()
    ELSE CAST(:run_ts AS TIMESTAMP) END`` (and its :run_date twin)."""
    import ast
    import io
    import re
    import tokenize

    lines = src.splitlines()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef)) and body:
            doc = body[0]
            if isinstance(doc, ast.Expr) and isinstance(doc.value, ast.Constant) and isinstance(
                doc.value.value, str
            ):
                for i in range(doc.lineno - 1, doc.end_lineno):
                    lines[i] = ""
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col]
    clock = re.compile(r"\bcurrent_(date|timestamp)\b|\bnow\s*\(", re.IGNORECASE)
    guarded = re.compile(
        r"CASE WHEN :(run_ts|run_date) IS NULL THEN CURRENT_(TIMESTAMP|DATE)\(\)"
        r" ELSE CAST\(:\1 AS \2\) END"
    )
    return [
        f"{i}: {line.strip()}"
        for i, line in enumerate(lines, 1)
        if clock.search(guarded.sub("", line))
    ]


def test_pipeline_source_has_no_wall_clock_dates():
    """Structural lint: the pipeline modules may read CURRENT_DATE/
    CURRENT_TIMESTAMP ONLY inside the documented run_date/run_ts fallback
    (the reference-semantics path when nothing is injected). Any new
    unconditional wall-clock column would re-arm the date bomb."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "dbt_pro3_spark" / "pipeline"
    offenders = [
        f"{p.name}:{hit}"
        for p in sorted(root.glob("*.py"))
        for hit in _wall_clock_offenders(p.read_text())
    ]
    assert not offenders, offenders


@pytest.mark.parametrize(
    "line,flagged",
    [
        ('X = "SELECT CURRENT_DATE() AS d FROM t"', True),
        ('X = "SELECT current_date AS d FROM t"', True),
        ('X = "SELECT Now() AS t"', True),
        ("x = F.current_timestamp()", True),
        # the guarded fallback, but on a parameter other than the run clock
        ('X = "CASE WHEN :d IS NULL THEN CURRENT_DATE() ELSE CAST(:d AS DATE) END"', True),
        ('X = "CASE WHEN :run_date IS NULL THEN CURRENT_DATE() ELSE CAST(:run_date AS DATE) END"',
         False),
        ("# the reference's CURRENT_DATE", False),
        ('def f():\n    """YEAR(CURRENT_DATE) in the reference."""', False),
    ],
)
def test_wall_clock_lint_flags_unguarded_reads(line, flagged):
    assert bool(_wall_clock_offenders(line + "\n")) is flagged


def test_run_ts_none_falls_back_to_live_clock(spark):
    """``build_registry(raw, run_ts=None)`` is the reference semantics: the
    run clock is the live CURRENT_TIMESTAMP/CURRENT_DATE, never NULL."""
    import datetime

    from pyspark.sql import functions as F

    def today():
        return datetime.datetime.now(datetime.timezone.utc).date()  # session TZ is UTC

    clock_cols = {
        "customers_silver": ["processed_at"],
        "policies_silver": ["processed_at"],
        "claims_silver": ["processed_at"],
        "gold_customer_360": ["processed_at", "report_date"],
        "gold_policy_performance": ["report_date"],
        "gold_claims_operations": ["report_date"],
        "gold_executive_summary": ["created_at", "report_date"],
    }
    before = today()
    result = build_registry(fx.raw_tables(spark, seed=7, scale=0.05), run_ts=None).run(spark)
    assert not result.test_failures
    report_dates = {}
    for name, cols in clock_cols.items():
        df = result.outputs[name]
        r = df.select(F.count(F.lit(1)).alias("n"), *[F.count(c).alias(c) for c in cols]).first()
        assert r["n"] > 0 and all(r[c] == r["n"] for c in cols), (name, r)
        if "report_date" in cols:
            report_dates[name] = {row[0] for row in df.select("report_date").distinct().collect()}
    after = today()
    for name, got in report_dates.items():
        assert got <= {before, after}, (name, got, before, after)


def test_output_schemas_match_snapshot(pipeline_run):
    """Names, types (decimal precision included) and nullability of all 12
    outputs, pinned from the seed-42 DEFAULT_RUN_TS run. The summary
    checksums skip double columns, so a double turning DECIMAL shows only
    here."""
    import json
    import pathlib

    _, result = pipeline_run
    want = json.loads((pathlib.Path(__file__).parent / "medallion_schemas_seed42.json").read_text())
    got = {name: json.loads(df.schema.json())["fields"] for name, df in result.outputs.items()}
    assert sorted(got) == sorted(want)
    for name in want:
        assert got[name] == want[name], name


def _pyspark_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("_pyspark_")]


def test_model_sql_leaves_no_temp_views(spark, pipeline_run):
    """Each model's ``{ref}`` arguments become ``_pyspark_<uuid>`` temp views
    for one spark.sql call: none may outlive it — not after a 4-thread DAG
    run, a model whose text names a missing column, or a text whose
    placeholder has no ref (which PySpark itself would leak)."""
    from pyspark.errors import AnalysisException

    from dbt_pro3_spark.pipeline import silver
    from dbt_pro3_spark.pipeline.modelsql import run_sql

    _, result = pipeline_run
    assert _pyspark_views(spark) == []

    bronze = result.outputs["customers_bronze"]
    with pytest.raises(AnalysisException):
        silver.customers_silver(bronze.drop("email"), DEFAULT_RUN_TS, RUN_DATE)
    assert _pyspark_views(spark) == []

    with pytest.raises(ValueError, match="placeholders"):
        run_sql("SELECT * FROM {a} JOIN {b} USING (customer_id)", {}, a=bronze)
    assert _pyspark_views(spark) == []


def test_registry_calls_model_functions_by_module_attribute(monkeypatch):
    """The tracer contract: perfbench's LayerTracer times each model by
    replacing ``pipeline.<layer>.<model>``, so every registered model must be
    a function of that name defined in that module, and the registry must
    look it up through the module attribute at call time. A rename would
    quietly zero the per-layer trace."""
    import importlib

    raw = {name: object() for name in fx.raw_rows(scale=0)}
    reg = build_registry(raw)
    assert len(reg._models) == 12
    calls = []
    for name, model in reg._models.items():
        mod = importlib.import_module(f"dbt_pro3_spark.pipeline.{model.layer}")
        fn = getattr(mod, name)
        assert fn.__name__ == name and fn.__module__ == mod.__name__, name
        monkeypatch.setattr(mod, name, lambda *a, _n=name, **k: calls.append(_n))
    for model in reg._models.values():
        model.fn(None, lambda dep: object())
    assert calls == list(reg._models)


def test_raw_tables_are_jvm_resident(spark):
    """Plan guard: every raw fixture is an Arrow-built LocalRelation, never a
    Python-RDD scan (``LogicalRDD``) that each action would re-feed through
    Python workers. Reads the analyzed plan only; runs no Spark job."""
    for name, df in fx.raw_tables(spark, seed=7, scale=0.05).items():
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation", (name, plan.toString())


def test_raw_tables_empty_input_keeps_schema(spark):
    from pyspark.sql.types import StructType

    raw = fx.raw_tables(spark, scale=0)
    for name, (rows, ddl) in fx.raw_rows(scale=0).items():
        assert rows == []
        assert raw[name].schema == StructType.fromDDL(ddl), name
        assert raw[name].count() == 0, name


@pytest.fixture
def tokyo_tz(monkeypatch):
    monkeypatch.setenv("TZ", "Asia/Tokyo")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_raw_timestamps_ignore_host_timezone(spark, tokyo_tz):
    """The fixtures' naive datetimes must read back in Spark (session UTC) as
    the same wall-clock the generator wrote, whatever the process TZ — the
    DuckDB replication above reads them that way."""
    from pyspark.sql import functions as F

    raw = fx.raw_tables(spark, seed=7, scale=0.05)
    for name, (rows, ddl) in fx.raw_rows(seed=7, scale=0.05).items():
        i = [c.split()[0] for c in ddl.split(", ")].index("created_at")
        want = sorted(r[i].strftime("%Y-%m-%d %H:%M:%S.%f") for r in rows)
        got = sorted(
            r[0]
            for r in raw[name]
            .select(F.date_format("created_at", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
            .collect()
        )
        assert got == want, (name, got[:3], want[:3])
