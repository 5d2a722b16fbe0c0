"""Wire the 12 models into the engine's ModelRegistry — the dbt-run
equivalent DAG (SURVEY §3): bronze → silver → gold, 4-thread waves,
post-hook audit rows, schema tests.

Tests mirror the reference's not_null/unique PK tests
(bronze_schema.yml:9-46) but are attached to the SILVER layer: the fixtures
deliberately contain duplicate/NULL PKs (that's what silver dedup is for),
so bronze-layer uniqueness would fail by construction — the reference's
choice to test bronze only works because its upstream Auto Loader feed is
already unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.registry import ModelRegistry
from . import bronze as bz
from . import gold as gd
from . import silver as sv

DEFAULT_RUN_TS = "2025-06-30 12:00:00"


def build_registry(
    raw: dict[str, DataFrame], run_ts: str | None = DEFAULT_RUN_TS
) -> ModelRegistry:
    # The run DATE derived from run_ts is injected everywhere the reference
    # uses CURRENT_DATE (report_date, age, churned_flag) so a registry built
    # with a fixed run_ts is deterministic across calendar days — goldens
    # pinned over its outputs stay valid forever. Passing run_ts=None falls
    # back to live CURRENT_DATE/CURRENT_TIMESTAMP (reference semantics).
    run_date = run_ts[:10] if run_ts is not None else None
    reg = ModelRegistry()

    reg.model("customers_bronze", layer="bronze")(
        lambda s, ref: bz.customers_bronze(raw["raw_customers"])
    )
    reg.model("policies_bronze", layer="bronze")(
        lambda s, ref: bz.policies_bronze(raw["raw_policies"])
    )
    reg.model("claims_bronze", layer="bronze")(
        lambda s, ref: bz.claims_bronze(raw["raw_claims"])
    )
    reg.model("premiums_bronze", layer="bronze")(
        lambda s, ref: bz.premiums_bronze(raw["raw_premiums"])
    )

    reg.model(
        "customers_silver",
        deps=("customers_bronze",),
        layer="silver",
        tests=(("not_null", "customer_id"), ("unique", "customer_id")),
    )(lambda s, ref: sv.customers_silver(ref("customers_bronze"), run_ts, run_date))
    reg.model(
        "policies_silver",
        deps=("policies_bronze",),
        layer="silver",
        tests=(("not_null", "policy_id"), ("unique", "policy_id")),
    )(lambda s, ref: sv.policies_silver(ref("policies_bronze"), run_ts))
    reg.model(
        "claims_silver",
        deps=("claims_bronze",),
        layer="silver",
        tests=(("not_null", "claim_id"), ("unique", "claim_id")),
    )(lambda s, ref: sv.claims_silver(ref("claims_bronze"), run_ts))
    reg.model(
        "premiums_silver",
        deps=("premiums_bronze",),
        layer="silver",
        tests=(("not_null", "premium_id"), ("unique", "premium_id")),
    )(lambda s, ref: sv.premiums_silver(ref("premiums_bronze"), run_ts))

    reg.model(
        "gold_customer_360",
        deps=("customers_silver", "policies_silver", "claims_silver"),
        layer="gold",
    )(
        lambda s, ref: gd.gold_customer_360(
            ref("customers_silver"), ref("policies_silver"), ref("claims_silver"),
            run_date,
        )
    )
    reg.model(
        "gold_policy_performance",
        deps=("policies_silver", "claims_silver"),
        layer="gold",
    )(
        lambda s, ref: gd.gold_policy_performance(
            ref("policies_silver"), ref("claims_silver"), run_date
        )
    )
    reg.model(
        "gold_claims_operations",
        deps=("claims_silver", "policies_silver", "customers_silver"),
        layer="gold",
    )(
        lambda s, ref: gd.gold_claims_operations(
            ref("claims_silver"), ref("policies_silver"), ref("customers_silver"),
            run_date,
        )
    )
    reg.model(
        "gold_executive_summary",
        deps=("policies_silver", "claims_silver"),
        layer="gold",
    )(
        lambda s, ref: gd.gold_executive_summary(
            ref("policies_silver"), ref("claims_silver"), run_ts, run_date
        )
    )

    return reg
