"""Unit tests for the reference-parity data-quality engine with inline
dirty fixtures modeled on FIXTURES.md (the reference's data/raw dirt)."""

import datetime

import pytest
from pyspark.sql import functions as F

from bbt_etl_dw_spark.functions.geo import UNKNOWN, continent_expr, iso3_expr, with_geo
from bbt_etl_dw_spark.operators.audit import (
    audit,
    duplicate_column_groups,
    rule_charset,
    rule_non_empty,
    rule_not_iso_date,
    rule_positive_number,
    violations,
)
from bbt_etl_dw_spark.operators.clean import (
    CleaningConfig,
    CleaningPlan,
    parse_date_multi,
    strip_cast_float,
    strip_cast_int,
)
from bbt_etl_dw_spark.operators.enrich import client_value, product_status, total_amount
from bbt_etl_dw_spark.operators.scd2 import scd2_init, scd2_merge


@pytest.fixture(scope="module")
def dirty_sales(spark):
    # FIXTURES.md sales dirt: dup header cols (OrderID0/OrderID14), M/d/yy
    # dates, negative freight, contaminated numerics, null discount.
    rows = [
        (1, "ALFKI", "7/4/22", "-65.83", "Germany", 1, "12.5", "10", 0.1),
        (2, "ANATR", "12/25/23", "20.00", "UK", 2, "9a.99", "0", None),
        (3, "BERGS", "2022-03-05", "5.25", "Germani#", 3, "15.0", "-4", 0.25),
        (3, "BERGS", "2022-03-05", "5.25", "Germani#", 3, "15.0", "-4", 0.25),
    ]
    return spark.createDataFrame(
        rows,
        "OrderID0 int, CustomerID string, OrderDate string, Freight string, "
        "ShipCountry string, OrderID14 int, UnitPrice string, Quantity string, "
        "Discount double",
    )


def test_audit_report_shape(spark, dirty_sales):
    rules = [
        rule_not_iso_date("OrderDate"),
        rule_positive_number("Freight"),
        rule_positive_number("UnitPrice"),
        rule_positive_number("Quantity", "int"),
        rule_charset("ShipCountry", r"^[a-zA-Z ]+$", "alphabetic"),
    ]
    rep = audit(dirty_sales, "sales", id_col="OrderID0", rules=rules)
    assert rep.row_count == 4
    assert rep.duplicate_rows == 1
    assert rep.duplicate_columns == {"OrderID": ["OrderID0", "OrderID14"]}
    assert rep.missing_values == {"Discount": 1}
    inc = rep.inconsistencies
    assert inc["OrderDate"]["count"] == 2  # two M/d/yy rows (dup row counted once... both dup rows match)
    assert inc["Freight"]["count"] == 1 and inc["Freight"]["error_ids"] == [1]
    assert inc["UnitPrice"]["count"] == 1 and inc["UnitPrice"]["error_ids"] == [2]
    assert inc["Quantity"]["count"] == 3  # "0" non-positive + "-4" twice (dup)
    assert inc["Quantity"]["error_ids"] == [2, 3, 3]  # the dup row keeps both IDs
    assert inc["ShipCountry"]["count"] == 2

    # Float duplicates: NaN/NaN and -0.0/0.0 rows are duplicates exactly as
    # dropDuplicates sees them; a null ID sorts first and violating
    # duplicate rows keep their multiplicity.
    nan = float("nan")
    edge = spark.createDataFrame(
        [
            (10, nan, "-1"),
            (10, nan, "-1"),
            (11, -0.0, "2"),
            (11, 0.0, "2"),
            (None, 1.0, "-5"),
            (None, 1.0, "-5"),
            (12, 2.0, "3"),
            (9, 2.0, "x"),
        ],
        "id int, amt double, qty string",
    )
    rep = audit(edge, "edge", id_col="id", rules=[rule_positive_number("qty", "int")])
    assert rep.row_count == 8
    assert rep.duplicate_rows == edge.count() - edge.dropDuplicates().count() == 3
    assert rep.missing_values == {"id": 2, "amt": 2}
    assert rep.inconsistencies["qty"]["count"] == 5
    assert rep.inconsistencies["qty"]["error_ids"] == [None, None, 9, 10, 10]
    capped = audit(edge, "edge", id_col="id", rules=[rule_positive_number("qty", "int")], max_ids=3)
    assert capped.inconsistencies["qty"]["error_ids"] == [None, None, 9]


def test_violations_table(spark, dirty_sales):
    rules = [rule_positive_number("Freight"), rule_non_empty("CustomerID")]
    v = violations(dirty_sales, rules, id_col="OrderID0")
    got = {(r["id"], r["column"]) for r in v.collect()}
    assert got == {(1, "Freight")}


def test_cleaning_plan_from_report(spark, dirty_sales):
    rep = audit(dirty_sales, "sales", id_col="OrderID0", rules=[])
    cfg = CleaningConfig(
        fill_money=["Discount"],
        money_cols=["Freight", "UnitPrice"],
        quantity_cols=["Quantity"],
        country_cols=["ShipCountry"],
        date_cols=["OrderDate"],
    )
    plan = CleaningPlan.from_report(rep, cfg)
    assert plan.drop_duplicates
    assert plan.drop_columns == ["OrderID14"]
    assert plan.rename_columns == {"OrderID0": "OrderID"}

    out = plan.apply(dirty_sales)
    assert "OrderID" in out.columns and "OrderID14" not in out.columns
    rows = {r["OrderID"]: r for r in out.collect()}
    assert len(rows) == 3  # dedup
    assert rows[1]["Freight"] == 0.0  # negative clamped
    assert rows[2]["UnitPrice"] == 9.99  # "9a.99": junk chars stripped, cast
    assert rows[2]["Quantity"] == 1  # "0" -> 1
    assert rows[3]["Quantity"] == 1  # "-4" -> 1 (strip keeps '-', cast -4, clamp)
    assert rows[3]["ShipCountry"] == "Unknown"  # Germani# repaired
    # date normalization: M/d/yy AND already-ISO both parse (reference bug fixed)
    assert rows[1]["OrderDate"] == datetime.date(2022, 7, 4)
    assert rows[2]["OrderDate"] == datetime.date(2023, 12, 25)
    assert rows[3]["OrderDate"] == datetime.date(2022, 3, 5)


def test_strip_cast_edge_cases(spark):
    df = spark.createDataFrame(
        [("12.5x",), ("",), (None,), ("-3.5",)], "v string"
    ).select(
        strip_cast_float("v").alias("f"),
        strip_cast_int("v").alias("i"),
    )
    got = [(r["f"], r["i"]) for r in df.collect()]
    assert got == [(12.5, 12), (0.0, 1), (0.0, 1), (0.0, 1)]


def test_parse_date_multi_pivot_year(spark):
    # two-digit years: 7/4/22 -> 2022 (reference LEGACY parser pivot)
    df = spark.createDataFrame([("7/4/22",), ("1/15/99",)], "d string").select(
        parse_date_multi("d").alias("p")
    )
    got = [r["p"] for r in df.collect()]
    assert got[0] == datetime.date(2022, 7, 4)
    assert got[1].month == 1 and got[1].day == 15


def test_duplicate_column_groups():
    # Spark's dedup appends the 0-based header POSITION: OrderID at
    # columns 0 and 14 dedups to OrderID0/OrderID14 at those positions
    cols = (
        ["OrderID0"]
        + [f"c{i}" for i in range(1, 14)]  # c1..c13 match their positions
        + ["OrderID14", "CustomerID"]
    )
    got = duplicate_column_groups(cols)
    assert got["OrderID"] == ["OrderID0", "OrderID14"]
    # non-letter bases dedup too (review finding: Order_ID0/Order_ID3)
    assert duplicate_column_groups(["Order_ID0", "x", "y", "Order_ID3"]) == {
        "Order_ID": ["Order_ID0", "Order_ID3"]
    }
    # legitimately distinct numbered columns DO match the name shape
    # (reference-parity heuristic); the cleaning interpreter's
    # verify_duplicate_columns guard is what protects their data
    assert duplicate_column_groups(["Address1", "Address2", "City"]) == {
        "Address": ["Address1", "Address2"]
    }
    assert duplicate_column_groups(["a", "b"]) == {}


def test_geo_lookup(spark):
    df = spark.createDataFrame(
        [("UK",), ("Germany",), ("Atlantis",), (None,)], "Country string"
    )
    out = with_geo(df, "Country", iso_col="iso", continent_col="cont")
    got = {r["Country"]: (r["iso"], r["cont"]) for r in out.collect()}
    assert got["UK"] == ("GBR", "EU")
    assert got["Germany"] == ("DEU", "EU")
    assert got["Atlantis"] == (UNKNOWN, UNKNOWN)
    assert got[None] == (UNKNOWN, UNKNOWN)

    expr_out = df.select(
        iso3_expr("Country").alias("iso"), continent_expr("Country").alias("cont")
    ).collect()
    assert expr_out[0]["iso"] == "GBR" and expr_out[1]["cont"] == "EU"


def test_enrich_ladders(spark):
    df = spark.createDataFrame(
        [(10.0, 3, 0.5, 15000.0), (2.0, 1, 0.0, 5000.0), (1.0, 1, 0.0, 10.0)],
        "UnitPrice double, Quantity int, Discount double, total double",
    )
    out = df.select(
        total_amount().alias("ta"), client_value(F.col("total")).alias("cv")
    ).collect()
    assert out[0]["ta"] == 15.0 and out[0]["cv"] == "High"
    assert out[1]["ta"] == 2.0 and out[1]["cv"] == "Medium"
    assert out[2]["cv"] == "Low"


def test_product_status_ladder(spark):
    asof = F.to_date(F.lit("2024-01-01"))
    df = spark.createDataFrame(
        [("2023-12-01",), ("2023-05-01",), ("2022-01-01",), (None,)], "ls string"
    ).select(product_status(F.to_date("ls"), asof).alias("st"))
    assert [r["st"] for r in df.collect()] == [
        "Active",
        "End of Lifecycle",
        "Obsolete",
        "Obsolete",
    ]


def test_scd2_full_cycle(spark):
    day1 = datetime.date(2024, 1, 1)
    day2 = datetime.date(2024, 6, 1)
    inc1 = spark.createDataFrame(
        [(1, "alice", "gold"), (2, "bob", "silver")], "id int, name string, tier string"
    )
    cur = scd2_init(inc1, day1)
    assert cur.filter(F.col("is_current")).count() == 2

    # day 2: alice changes tier, bob unchanged, carol is new
    inc2 = spark.createDataFrame(
        [(1, "alice", "platinum"), (2, "bob", "silver"), (3, "carol", "bronze")],
        "id int, name string, tier string",
    )
    merged = scd2_merge(cur, inc2, ["id"], ["name", "tier"], day2)
    rows = {(r["id"], r["is_current"]): r for r in merged.collect()}
    assert len(rows) == 4
    old_alice = rows[(1, False)]
    assert old_alice["tier"] == "gold" and old_alice["effective_end_date"] == day2
    new_alice = rows[(1, True)]
    assert new_alice["tier"] == "platinum" and new_alice["effective_start_date"] == day2
    assert rows[(2, True)]["effective_start_date"] == day1  # untouched
    assert rows[(3, True)]["tier"] == "bronze"

    # day 3: bob disappears -> expired, nothing else changes
    inc3 = spark.createDataFrame(
        [(1, "alice", "platinum"), (3, "carol", "bronze")], "id int, name string, tier string"
    )
    day3 = datetime.date(2024, 12, 1)
    merged2 = scd2_merge(merged, inc3, ["id"], ["name", "tier"], day3)
    rows2 = {(r["id"], r["is_current"], r["tier"]): r for r in merged2.collect()}
    assert (2, False, "silver") in rows2
    assert len([k for k in rows2 if k[1]]) == 2  # alice + carol current
    # idempotency: merging the same snapshot again changes nothing
    merged3 = scd2_merge(merged2, inc3, ["id"], ["name", "tier"], day3)
    assert merged3.count() == merged2.count()
    assert merged3.filter(F.col("is_current")).count() == 2


def test_winsorize_caps_outliers_preserves_rows(spark):
    from pyspark.sql import functions as F

    from bbt_etl_dw_spark.operators.clean import winsorize

    rows = [(i, float(i), 10.0) for i in range(1, 100)]
    rows.append((100, 1_000_000.0, 10.0))   # magnitude typo
    rows.append((101, -999_999.0, None))    # negative blowup + a null
    df = spark.createDataFrame(rows, "k long, v double, w double")

    out = winsorize(df, ["v", "w"], lower_pct=0.02, upper_pct=0.98)
    assert out.count() == df.count()  # capping, not dropping
    stats = out.agg(
        F.min("v"), F.max("v"), F.min("w"), F.max("w"), F.sum(F.col("w").isNull().cast("int"))
    ).first()
    assert stats[0] >= 1.0 and stats[1] <= 100.0   # blowups capped into range
    assert stats[2] == 10.0 and stats[3] == 10.0   # constant column unchanged
    assert stats[4] == 1                           # nulls pass through
    # inliers untouched
    mid = out.filter("k = 50").first()
    assert mid["v"] == 50.0


def test_cleaning_plan_refuses_false_positive_duplicate_columns(spark):
    """Review finding: Address1/Address2 match the dedup name shape but
    hold DIFFERENT values — the plan must refuse to drop one instead of
    silently losing data; with verification off (caller's explicit
    choice) the old behavior remains."""
    df = spark.createDataFrame(
        [(1, "12 Oak St", "Apt 4"), (2, "9 Elm Rd", "Suite 2")],
        "id int, Address1 string, Address2 string",
    )
    rep = audit(df, "addr", id_col="id", rules=[])
    assert rep.duplicate_columns == {"Address": ["Address1", "Address2"]}
    plan = CleaningPlan.from_report(rep, CleaningConfig())
    with pytest.raises(ValueError, match="false\\s+positive|values differ"):
        plan.apply(df, verify_duplicate_columns=True)
    # default (parity) behavior: the reference drops unconditionally
    forced = plan.apply(df)
    assert "Address2" not in forced.columns


def test_threshold_ladder_rejects_non_descending(spark):
    """r08 review: an ascending rung would shadow every higher label
    (value 20000 matching '>1000' first would label High clients Medium)
    — the ladder raises instead of silently mislabeling."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from bbt_etl_dw_spark.operators.enrich import threshold_ladder

    with _pytest.raises(ValueError, match="strictly descending"):
        threshold_ladder(F.col("x"), [(1000.0, "Medium"), (10000.0, "High")], "Low")
    with _pytest.raises(ValueError, match="strictly descending"):
        threshold_ladder(F.col("x"), [(1000.0, "A"), (1000.0, "B")], "C")
    # the valid descending form still labels correctly
    df = spark.createDataFrame([(20000.0,), (5000.0,), (10.0,)], "x double")
    out = [
        r[0]
        for r in df.select(
            threshold_ladder(
                F.col("x"), [(10000.0, "High"), (1000.0, "Medium")], "Low"
            )
        ).collect()
    ]
    assert out == ["High", "Medium", "Low"]
