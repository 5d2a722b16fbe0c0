"""The dbt schema-test quartet must actually DETECT violations — each
operator is exercised on a fixture that contains some."""

from __future__ import annotations

from dbt_pro3_spark.operators.quality import (
    test_accepted_values as accepted_values_check,
    test_not_null as not_null_check,
    test_relationships as relationships_check,
    test_unique as unique_check,
)


def _one(df):
    r = df.collect()
    assert len(r) == 1
    return r[0]["violations"]


def test_not_null_counts_nulls(spark):
    df = spark.createDataFrame([(1,), (None,), (None,)], "k int")
    assert _one(not_null_check(df, "k")) == 2


def test_unique_counts_duplicated_keys(spark):
    df = spark.createDataFrame([(1,), (1,), (2,), (2,), (2,), (3,)], "k int")
    # two distinct keys are duplicated (1 and 2) — dbt counts keys, not rows
    assert _one(unique_check(df, "k")) == 2


def test_accepted_values_flags_out_of_domain(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("zzz",), (None,)], "v string"
    )
    # NULL is not a violation (dbt's NOT IN is null-rejecting too)
    assert _one(accepted_values_check(df, "v", ["a", "b"])) == 1


def test_relationships_counts_orphans(spark):
    child = spark.createDataFrame([(1,), (2,), (9,), (9,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    # two rows point at missing parent 9; NULL FK is not a violation
    assert _one(relationships_check(child, "fk", parent, "pk")) == 2


def test_registry_view_materialization_and_test_quartet(spark):
    """A mini-DAG exercising all three materializations and all four
    declared test kinds, including a deliberately failing one."""
    from dbt_pro3_spark.plans.registry import ModelRegistry

    reg = ModelRegistry()

    @reg.model("dim", tests=(("unique", "k"), ("not_null", "k")))
    def dim(spark, ref):
        return spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")

    @reg.model(
        "fact",
        deps=("dim",),
        materialization="view",
        tests=(
            ("accepted_values", "v", ("a", "b")),
            ("relationships", "fk", ("dim", "k")),
        ),
    )
    def fact(spark, ref):
        base = spark.createDataFrame([(1, "a"), (9, "zzz")], "fk int, v string")
        return base.join(ref("dim"), base.fk == ref("dim").k, "left").select(
            "fk", base.v
        )

    result = reg.run(spark, run_ts="2026-01-01T00:00:00")
    # the view is catalog-visible and queryable by name
    assert spark.table("fact").count() == 2
    # both declared fact tests catch their violation ('zzz' out of domain,
    # fk=9 orphaned); the dim tests pass
    kinds = {f.split(":")[1].split("=")[0] for f in result.test_failures}
    assert kinds == {"accepted_values", "relationships"}


def test_materialization_matrix_identical_results(spark, tmp_path):
    """One model run under every materialization (ephemeral/table/view/
    incremental/snapshot) yields identical query results — the config-driven
    switch mirroring the reference's dbt_project.yml:31-43 matrix."""
    from dbt_pro3_spark.plans.registry import ModelRegistry

    rows = [(1, "a", "2024-01-01"), (2, "b", "2024-01-02"), (3, "c", "2024-01-03")]

    def make_reg(mat, path=None, **cfg):
        reg = ModelRegistry()

        @reg.model("m", materialization=mat, materialize_path=path, **cfg)
        def m(spark, ref):
            return spark.createDataFrame(rows, "k int, v string, d string")

        return reg

    expected = sorted(rows)
    outs = {}
    for mat, cfg in [
        ("ephemeral", {}),
        ("view", {}),
        ("table", {"path": str(tmp_path / "tbl")}),
        (
            "incremental",
            {"path": str(tmp_path / "incr"), "unique_key": "k", "order_col": "d"},
        ),
        (
            "snapshot",
            {"path": str(tmp_path / "snap"), "unique_key": "k", "check_cols": ("v",)},
        ),
    ]:
        res = make_reg(mat, **cfg).run(spark, run_ts="2026-01-01 00:00:00")
        df = res.outputs["m"]
        if mat == "snapshot":
            df = df.filter("is_current").drop("valid_from", "valid_to", "is_current")
        outs[mat] = sorted(tuple(r) for r in df.select("k", "v", "d").collect())
        assert outs[mat] == expected, mat

    # second incremental run with an updated row: merge_latest keeps latest
    rows = [(2, "b2", "2024-02-01")]
    reg = make_reg(
        "incremental", path=str(tmp_path / "incr"), unique_key="k", order_col="d"
    )
    res = reg.run(spark, run_ts="2026-01-02 00:00:00")
    got = sorted(tuple(r) for r in res.outputs["m"].collect())
    assert got == [(1, "a", "2024-01-01"), (2, "b2", "2024-02-01"), (3, "c", "2024-01-03")]

    # second snapshot run: changed row closes old version, inserts new
    reg = make_reg(
        "snapshot", path=str(tmp_path / "snap"), unique_key="k", check_cols=("v",)
    )
    res = reg.run(spark, run_ts="2026-01-02 00:00:00")
    hist = res.outputs["m"]
    assert hist.count() == 4  # 3 current + 1 closed
    assert hist.filter("is_current").count() == 3
    assert hist.filter("k = 2 AND NOT is_current").count() == 1


def test_registry_spends_one_action_per_model(spark, monkeypatch):
    """Source counts reuse the upstream target count and not_null/unique
    fold into the audit aggregate, so each model costs exactly one
    count/collect — and the failures read the same as separate tests."""
    from pyspark.sql.classic.dataframe import DataFrame

    from dbt_pro3_spark.plans.registry import ModelRegistry

    reg = ModelRegistry()
    key_tests = (("not_null", "k"), ("unique", "k"))

    @reg.model("root")
    def root(spark, ref):
        return spark.createDataFrame(
            [(1, "a"), (2, "b"), (2, "c"), (None, "d"), (3, None)], "k int, v string"
        )

    @reg.model("all_keys", deps=("root",), tests=key_tests)
    def all_keys(spark, ref):
        return ref("root")

    # a second, clean key column rides the same action
    @reg.model("low_keys", deps=("root",), tests=key_tests + (("not_null", "v"),))
    def low_keys(spark, ref):
        return ref("root").filter("k IS NULL OR k < 3")

    actions = []
    for name in ("count", "collect"):
        def counted(df, *args, _orig=getattr(DataFrame, name), **kwargs):
            actions.append(_orig.__name__)
            return _orig(df, *args, **kwargs)

        monkeypatch.setattr(DataFrame, name, counted)
    result = reg.run(spark)
    monkeypatch.undo()

    assert result.test_failures == [
        "all_keys.k:not_null=1", "all_keys.k:unique=1",
        "low_keys.k:not_null=1", "low_keys.k:unique=1",
    ]
    audit = {a["dataset"]: a for a in result.audit}
    assert {n: a["target_records"] for n, a in audit.items()} == {
        "root": 5, "all_keys": 5, "low_keys": 4,
    }
    for name, deps in (("all_keys", "root"), ("low_keys", "root")):
        assert audit[name]["source_records"] == audit[deps]["target_records"]
    assert len(actions) == len(audit) == 3, actions
