"""Gold layer: the four analytics marts, faithful to models/gold/*.sql.

Each mart is one SQL text (see ``modelsql``). Structural note that is
SEMANTICS, not just performance (SURVEY §4): each mart pre-aggregates
metrics per key in CTEs and THEN left-joins them — joining first and
aggregating later would double-count through the 1—N fan-out. The CTEs
below keep that shape, which is also the scale-correct plan (aggregate
early, join small).

The reference's CURRENT_DATE (report_date, churned_flag) is the injected
:run_date when the caller provides one, so deterministic runs and pinned
goldens stay valid on every calendar day; with no run_date it is the live
CURRENT_DATE(). Never pin a golden constant over that path — it is valid
for exactly one calendar day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .modelsql import RUN_DATE, RUN_TS, run_sql

_CUSTOMER_360 = f"""
WITH customer_base AS (
  SELECT customer_id, full_name, age, annual_income, credit_score, state,
         marital_status, occupation, processed_at
  FROM {{customers_silver}}
  WHERE invalid_email_flag = 0
),
policy_metrics AS (
  SELECT customer_id,
         COUNT(DISTINCT policy_id) AS total_policies,
         SUM(premium_amount) AS total_annual_premium,
         AVG(premium_amount) AS avg_policy_premium,
         SUM(coverage_amount) AS total_coverage,
         AVG(coverage_amount) AS avg_coverage,
         MIN(start_date) AS first_policy_date,
         MAX(end_date) AS latest_policy_end,
         COUNT(CASE WHEN status = 'ACTIVE' THEN 1 END) AS active_policies,
         COUNT(CASE WHEN status = 'CANCELLED' THEN 1 END) AS cancelled_policies
  FROM {{policies_silver}}
  WHERE missing_customer_id_flag = 0 AND invalid_premium_amount_flag = 0
  GROUP BY customer_id
),
claim_metrics AS (
  SELECT p.customer_id,
         COUNT(DISTINCT c.claim_id) AS total_claims,
         SUM(c.claim_amount) AS total_claimed,
         SUM(c.settled_amount) AS total_settled,
         AVG(c.claim_amount) AS avg_claim_amount,
         AVG(c.reporting_delay_days) AS avg_reporting_delay,
         COUNT(CASE WHEN c.fraud_indicator = 1 THEN 1 END) AS potential_fraud_claims,
         MIN(c.claim_date) AS first_claim_date,
         MAX(c.claim_date) AS latest_claim_date
  FROM {{claims_silver}} c JOIN {{policies_silver}} p ON c.policy_id = p.policy_id
  WHERE c.missing_policy_flag = 0
  GROUP BY p.customer_id
),
joined AS (
  SELECT *,
         COALESCE(total_annual_premium, 0) AS premium0,
         COALESCE(total_settled, 0) AS settled0,
         COALESCE(total_claims, 0) AS claims0,
         COALESCE(total_policies, 0) AS policies0
  FROM customer_base
  LEFT JOIN policy_metrics USING (customer_id)
  LEFT JOIN claim_metrics USING (customer_id)
)
SELECT customer_id,
       full_name,
       age,
       CASE WHEN age < 25 THEN 'Gen Z'
            WHEN age < 35 THEN 'Millennial'
            WHEN age < 55 THEN 'Gen X'
            ELSE 'Boomer+' END AS generation_segment,
       annual_income,
       credit_score,
       state,
       marital_status,
       occupation,
       policies0 AS total_policies,
       premium0 AS total_annual_premium,
       COALESCE(avg_policy_premium, 0) AS avg_policy_premium,
       COALESCE(total_coverage, 0) AS total_coverage,
       COALESCE(active_policies, 0) AS active_policies,
       COALESCE(cancelled_policies, 0) AS cancelled_policies,
       first_policy_date,
       latest_policy_end,
       claims0 AS total_claims,
       COALESCE(total_claimed, 0) AS total_claimed,
       settled0 AS total_settled,
       COALESCE(avg_claim_amount, 0) AS avg_claim_amount,
       COALESCE(potential_fraud_claims, 0) AS potential_fraud_claims,
       premium0 - settled0 AS customer_lifetime_profit,
       CASE WHEN premium0 = 0 THEN 0 ELSE settled0 / total_annual_premium END AS loss_ratio,
       CASE WHEN policies0 = 0 THEN 0
            ELSE CAST(claims0 AS DOUBLE) / total_policies END AS claims_frequency,
       CASE WHEN premium0 - settled0 > 10000 THEN 'High Value'
            WHEN premium0 - settled0 > 5000 THEN 'Medium Value'
            WHEN premium0 - settled0 > 0 THEN 'Low Value'
            ELSE 'Loss Making' END AS customer_value_segment,
       CASE WHEN claims0 = 0 THEN 'No Claims'
            WHEN CAST(claims0 AS DOUBLE) / COALESCE(total_policies, 1) < 0.1 THEN 'Low Risk'
            WHEN CAST(claims0 AS DOUBLE) / COALESCE(total_policies, 1) < 0.3 THEN 'Medium Risk'
            ELSE 'High Risk' END AS risk_tier,
       CASE WHEN latest_policy_end < {RUN_DATE} THEN 1 ELSE 0 END AS churned_flag,
       CASE WHEN COALESCE(potential_fraud_claims, 0) > 0 THEN 1 ELSE 0 END AS fraud_flag,
       {RUN_DATE} AS report_date,
       processed_at
FROM joined
"""

_POLICY_PERFORMANCE = f"""
WITH policy_base AS (
  SELECT policy_type, status, payment_frequency,
         DATE_TRUNC('month', start_date) AS policy_month,
         COUNT(1) AS policy_count,
         SUM(premium_amount) AS total_premium_revenue,
         SUM(coverage_amount) AS total_coverage_exposure,
         AVG(premium_amount) AS avg_premium,
         AVG(coverage_amount) AS avg_coverage,
         AVG(deductible) AS avg_deductible,
         AVG(policy_duration_days) AS avg_policy_duration
  FROM {{policies_silver}}
  WHERE invalid_premium_amount_flag = 0
    AND invalid_coverage_amount_flag = 0
    AND invalid_date_range_flag = 0
  GROUP BY ALL
),
claims_per_policy AS (
  SELECT p.policy_type,
         DATE_TRUNC('month', c.claim_date) AS claim_month,
         COUNT(DISTINCT c.claim_id) AS total_claims,
         SUM(c.claim_amount) AS total_claim_amount,
         SUM(c.settled_amount) AS total_settled_amount,
         AVG(c.claim_amount) AS avg_claim_severity,
         AVG(c.reporting_delay_days) AS avg_reporting_delay,
         COUNT(CASE WHEN c.fraud_indicator = 1 THEN 1 END) AS fraud_claims
  FROM {{claims_silver}} c JOIN {{policies_silver}} p ON c.policy_id = p.policy_id
  WHERE c.missing_policy_flag = 0
  GROUP BY ALL
),
joined AS (
  SELECT pb.*, total_claim_amount, avg_claim_severity, avg_reporting_delay,
         total_claims, fraud_claims,
         COALESCE(total_settled_amount, 0) AS settled0,
         COALESCE(total_claims, 0) AS claims0
  FROM policy_base pb
  LEFT JOIN claims_per_policy cp
    ON pb.policy_type = cp.policy_type AND pb.policy_month = cp.claim_month
)
SELECT policy_type, status, payment_frequency, policy_month, policy_count,
       total_premium_revenue, total_coverage_exposure, avg_premium,
       avg_coverage, avg_deductible, avg_policy_duration,
       claims0 AS total_claims,
       COALESCE(total_claim_amount, 0) AS total_claim_amount,
       settled0 AS total_settled_amount,
       COALESCE(avg_claim_severity, 0) AS avg_claim_severity,
       COALESCE(avg_reporting_delay, 0) AS avg_reporting_delay,
       COALESCE(fraud_claims, 0) AS fraud_claims,
       CASE WHEN total_premium_revenue > 0
            THEN settled0 / total_premium_revenue ELSE 0 END AS loss_ratio,
       CASE WHEN policy_count > 0
            THEN CAST(claims0 AS DOUBLE) / policy_count ELSE 0 END AS claims_frequency,
       total_premium_revenue - settled0 AS underwriting_profit,
       CASE WHEN claims0 > 0
            THEN CAST(fraud_claims AS DOUBLE) / total_claims ELSE 0 END AS fraud_rate,
       CASE WHEN settled0 / NULLIF(total_premium_revenue, 0) <= 0.6 THEN 'Excellent'
            WHEN settled0 / NULLIF(total_premium_revenue, 0) <= 0.8 THEN 'Good'
            WHEN settled0 / NULLIF(total_premium_revenue, 0) <= 1.0 THEN 'Average'
            ELSE 'Poor' END AS performance_tier,
       LAG(total_premium_revenue, 12) OVER w AS premium_revenue_prev_year,
       LAG(policy_count, 12) OVER w AS policy_count_prev_year,
       {RUN_DATE} AS report_date
FROM joined
WINDOW w AS (PARTITION BY policy_type ORDER BY policy_month)
"""

_CLAIMS_OPERATIONS = f"""
WITH claims_base AS (
  SELECT c.claim_type, c.severity, c.status, c.adjuster_id,
         DATE_TRUNC('month', c.claim_date) AS claim_month,
         p.policy_type,
         cu.state AS customer_state,
         cu.age AS customer_age,
         COUNT(1) AS claim_count,
         SUM(c.claim_amount) AS total_claim_amount,
         SUM(c.settled_amount) AS total_settled_amount,
         AVG(c.claim_amount) AS avg_claim_amount,
         AVG(c.settled_amount) AS avg_settled_amount,
         AVG(c.reporting_delay_days) AS avg_reporting_delay,
         AVG(c.settlement_ratio) AS avg_settlement_ratio,
         COUNT(CASE WHEN c.fraud_indicator = 1 THEN 1 END) AS potential_fraud_cases
  FROM {{claims_silver}} c
  JOIN {{policies_silver}} p ON c.policy_id = p.policy_id
  JOIN {{customers_silver}} cu ON p.customer_id = cu.customer_id
  WHERE c.missing_policy_flag = 0
  GROUP BY ALL
),
adjuster_performance AS (
  SELECT adjuster_id,
         COUNT(1) AS total_claims_handled,
         AVG(settlement_ratio) AS ap_avg_settlement_ratio,
         AVG(reporting_delay_days) AS avg_processing_time,
         SUM(CASE WHEN fraud_indicator = 1 THEN 1 ELSE 0 END) AS fraud_cases_detected
  FROM {{claims_silver}}
  WHERE adjuster_id IS NOT NULL
  GROUP BY adjuster_id
)
SELECT claim_type, severity, status, adjuster_id, claim_month, policy_type,
       customer_state, claim_count, total_claim_amount, total_settled_amount,
       avg_claim_amount, avg_settled_amount, avg_reporting_delay,
       avg_settlement_ratio, potential_fraud_cases,
       CASE WHEN claim_count > 0
            THEN CAST(potential_fraud_cases AS DOUBLE) / claim_count ELSE 0 END AS fraud_rate,
       total_claims_handled AS adjuster_total_claims,
       ap_avg_settlement_ratio AS adjuster_avg_settlement_ratio,
       avg_processing_time AS adjuster_avg_processing_time,
       fraud_cases_detected AS adjuster_fraud_detected,
       CASE WHEN ap_avg_settlement_ratio >= 0.9 AND avg_processing_time <= 7
              THEN 'High Performer'
            WHEN ap_avg_settlement_ratio >= 0.8 AND avg_processing_time <= 14
              THEN 'Good Performer'
            WHEN ap_avg_settlement_ratio >= 0.7 AND avg_processing_time <= 21
              THEN 'Average Performer'
            ELSE 'Needs Improvement' END AS adjuster_performance_tier,
       CASE WHEN customer_state IN ('FL', 'TX', 'CA') THEN 'High Risk State'
            WHEN customer_state IN ('NY', 'NJ', 'CT') THEN 'Medium Risk State'
            ELSE 'Low Risk State' END AS state_risk_category,
       CASE WHEN customer_age < 25 THEN 'Young Driver'
            WHEN customer_age BETWEEN 25 AND 65 THEN 'Mature Driver'
            ELSE 'Senior Driver' END AS customer_age_category,
       LAG(claim_count, 1) OVER w AS prev_month_claims,
       LAG(total_claim_amount, 1) OVER w AS prev_month_claim_amount,
       {RUN_DATE} AS report_date
FROM claims_base
LEFT JOIN adjuster_performance USING (adjuster_id)
WINDOW w AS (PARTITION BY claim_type ORDER BY claim_month)
"""

# The LAG window has no PARTITION BY: after aggregation rows == months.
_EXECUTIVE_SUMMARY = f"""
WITH monthly_financials AS (
  SELECT DATE_TRUNC('month', start_date) AS report_period,
         COUNT(DISTINCT policy_id) AS new_policies,
         COUNT(DISTINCT customer_id) AS active_customers,
         SUM(premium_amount) AS gross_written_premium,
         SUM(coverage_amount) AS total_coverage_in_force,
         AVG(premium_amount) AS avg_policy_premium
  FROM {{policies_silver}}
  WHERE invalid_premium_amount_flag = 0
  GROUP BY ALL
),
monthly_claims AS (
  SELECT DATE_TRUNC('month', claim_date) AS report_period,
         COUNT(DISTINCT claim_id) AS total_claims,
         SUM(claim_amount) AS total_incurred_claims,
         SUM(settled_amount) AS total_paid_claims,
         AVG(claim_amount) AS avg_claim_severity,
         COUNT(CASE WHEN fraud_indicator = 1 THEN 1 END) AS fraud_claims
  FROM {{claims_silver}}
  WHERE missing_policy_flag = 0
  GROUP BY ALL
),
kpis AS (
  SELECT report_period,
         COALESCE(new_policies, 0) AS new_policies,
         COALESCE(active_customers, 0) AS active_customers,
         COALESCE(gross_written_premium, 0) AS gross_written_premium,
         COALESCE(total_coverage_in_force, 0) AS total_coverage_in_force,
         COALESCE(avg_policy_premium, 0) AS avg_policy_premium,
         COALESCE(total_claims, 0) AS total_claims,
         COALESCE(total_incurred_claims, 0) AS total_incurred_claims,
         COALESCE(total_paid_claims, 0) AS total_paid_claims,
         COALESCE(avg_claim_severity, 0) AS avg_claim_severity,
         COALESCE(fraud_claims, 0) AS fraud_claims,
         CASE WHEN COALESCE(gross_written_premium, 0) > 0
              THEN COALESCE(total_paid_claims, 0) / gross_written_premium
              ELSE 0 END AS loss_ratio,
         CASE WHEN COALESCE(new_policies, 0) > 0
              THEN CAST(COALESCE(total_claims, 0) AS DOUBLE) / new_policies
              ELSE 0 END AS claims_frequency,
         COALESCE(gross_written_premium, 0) - COALESCE(total_paid_claims, 0)
           AS underwriting_profit,
         CASE WHEN COALESCE(total_claims, 0) > 0
              THEN CAST(fraud_claims AS DOUBLE) / total_claims
              ELSE 0 END AS fraud_rate
  FROM monthly_financials
  FULL OUTER JOIN monthly_claims USING (report_period)
)
SELECT report_period, new_policies, active_customers, total_claims,
       gross_written_premium, total_coverage_in_force, total_incurred_claims,
       total_paid_claims, underwriting_profit, loss_ratio, claims_frequency,
       fraud_rate, avg_policy_premium, avg_claim_severity,
       LAG(gross_written_premium, 12) OVER w AS gwp_prev_year,
       LAG(new_policies, 12) OVER w AS policies_prev_year,
       LAG(underwriting_profit, 12) OVER w AS profit_prev_year,
       CASE WHEN LAG(gross_written_premium, 12) OVER w > 0
            THEN (gross_written_premium - LAG(gross_written_premium, 12) OVER w)
                 / LAG(gross_written_premium, 12) OVER w * 100
            ELSE 0 END AS gwp_growth_rate_yoy,
       CASE WHEN LAG(new_policies, 12) OVER w > 0
            THEN (new_policies - LAG(new_policies, 12) OVER w)
                 / CAST(LAG(new_policies, 12) OVER w AS DOUBLE) * 100
            ELSE 0 END AS policy_growth_rate_yoy,
       CASE WHEN loss_ratio <= 0.6 THEN 'Excellent'
            WHEN loss_ratio <= 0.8 THEN 'Good'
            WHEN loss_ratio <= 1.0 THEN 'Acceptable'
            ELSE 'Concerning' END AS performance_category,
       {RUN_DATE} AS report_date,
       {RUN_TS} AS created_at
FROM kpis
WINDOW w AS (ORDER BY report_period)
ORDER BY report_period DESC
"""


def gold_customer_360(
    customers_silver: DataFrame, policies_silver: DataFrame, claims_silver: DataFrame,
    run_date: str | None = None,
) -> DataFrame:
    """gold_customer_360.sql:21-149."""
    return run_sql(
        _CUSTOMER_360, {"run_date": run_date}, customers_silver=customers_silver,
        policies_silver=policies_silver, claims_silver=claims_silver,
    )


def gold_policy_performance(
    policies_silver: DataFrame, claims_silver: DataFrame,
    run_date: str | None = None,
) -> DataFrame:
    """gold_policy_performance.sql:21-126."""
    return run_sql(
        _POLICY_PERFORMANCE, {"run_date": run_date},
        policies_silver=policies_silver, claims_silver=claims_silver,
    )


def gold_claims_operations(
    claims_silver: DataFrame, policies_silver: DataFrame, customers_silver: DataFrame,
    run_date: str | None = None,
) -> DataFrame:
    """gold_claims_operations.sql:21-128."""
    return run_sql(
        _CLAIMS_OPERATIONS, {"run_date": run_date}, claims_silver=claims_silver,
        policies_silver=policies_silver, customers_silver=customers_silver,
    )


def gold_executive_summary(
    policies_silver: DataFrame, claims_silver: DataFrame, run_ts: str | None = None,
    run_date: str | None = None,
) -> DataFrame:
    """gold_executive_summary.sql:21-146.

    ``created_at`` mirrors the reference's CURRENT_TIMESTAMP() metadata
    column (gold_executive_summary.sql:145); like silver's processed_at it
    is the injected ``run_ts`` when given so runs are deterministic (falls
    back to CURRENT_TIMESTAMP() otherwise).
    """
    return run_sql(
        _EXECUTIVE_SUMMARY, {"run_ts": run_ts, "run_date": run_date},
        policies_silver=policies_silver, claims_silver=claims_silver,
    )
