"""Validation battery: clean fixture passes; each dirty variant flips
exactly its own check (FIXTURES.md 'Dirty variants')."""

import pandas as pd
import pytest

from real_time_event_driven_data_pipeline_spark.operators.validation import (
    duplicate_keys,
    fk_violations,
    null_counts,
    validate_tables,
)
from real_time_event_driven_data_pipeline_spark.schemas import (
    ECOM_FOREIGN_KEYS,
    ECOM_PRIMARY_KEYS,
    ECOM_SCHEMAS,
    nullable_copy,
)

from .ecom_fixtures import make_ecom, to_spark


@pytest.fixture(scope="module")
def ecom_pdf():
    return make_ecom(n_products=200, n_orders=150, seed=7)


def _validate(spark, products, orders, order_items):
    # ingestion uses the all-nullable reader shape (dirty data must be
    # loadable); validation checks against the declared contract
    tables = {
        "products": to_spark(spark, products, nullable_copy(ECOM_SCHEMAS["products"])),
        "orders": to_spark(spark, orders, nullable_copy(ECOM_SCHEMAS["orders"])),
        "order_items": to_spark(spark, order_items, nullable_copy(ECOM_SCHEMAS["order_items"])),
    }
    return validate_tables(tables, ECOM_SCHEMAS, ECOM_PRIMARY_KEYS, ECOM_FOREIGN_KEYS)


def failing_checks(report):
    return {(c.table, c.check) for c in report.checks if not c.passed}


def test_clean_fixture_passes(spark, ecom_pdf):
    report = _validate(spark, *ecom_pdf)
    assert report.passed, failing_checks(report)


def test_null_injection_fails_null_check_only(spark, ecom_pdf):
    products, orders, order_items = ecom_pdf
    dirty = order_items.copy()
    # object dtype so pandas keeps true None (float64 would store NaN,
    # which Spark treats as NaN, not null)
    dirty["sale_price"] = dirty["sale_price"].astype(object)
    dirty.loc[dirty.index[:5], "sale_price"] = None
    report = _validate(spark, products, orders, dirty)
    assert failing_checks(report) == {("order_items", "null_check")}


def test_orphan_fk_fails_fk_check_only(spark, ecom_pdf):
    products, orders, order_items = ecom_pdf
    dirty = order_items.copy()
    dirty.loc[dirty.index[:3], "product_id"] = 999_999
    report = _validate(spark, products, orders, dirty)
    assert failing_checks(report) == {("order_items", "fk_product_id->products.id")}
    bad = report.checks[-2] if report.checks[-2].check.startswith("fk_product") else report.checks[-1]
    assert 999_999 in bad.offenders


def test_duplicate_pk_fails_unique_check_only(spark, ecom_pdf):
    products, orders, order_items = ecom_pdf
    dirty = pd.concat([orders, orders.iloc[:2]], ignore_index=True)
    report = _validate(spark, products, dirty, order_items)
    assert failing_checks(report) == {("orders", "unique_key")}


def test_empty_table_fails_non_empty(spark, ecom_pdf):
    products, orders, order_items = ecom_pdf
    report = _validate(spark, products, orders.iloc[:0], order_items)
    assert ("orders", "non_empty") in failing_checks(report)


def test_fused_null_counts_single_row(spark, ecom_pdf):
    products, _, _ = ecom_pdf
    sdf = to_spark(spark, products, ECOM_SCHEMAS["products"])
    row = null_counts(sdf).collect()
    assert len(row) == 1
    assert set(row[0].asDict()) == {
        f"{c}_nulls" for c in ["id", "sku", "cost", "category", "name", "retail_price", "department"]
    }


def test_fk_violations_and_duplicate_keys_primitives(spark, ecom_pdf):
    products, orders, order_items = ecom_pdf
    child = to_spark(spark, order_items, ECOM_SCHEMAS["order_items"])
    parent = to_spark(spark, products, ECOM_SCHEMAS["products"])
    assert fk_violations(child, parent, "product_id", "id").count() == 0
    assert duplicate_keys(to_spark(spark, orders, ECOM_SCHEMAS["orders"]), ["order_id"]).count() == 0


def _per_check_gate(batch, pk, seen, max_offenders=20):
    """The gate as separate actions (empty guard, null counts,
    duplicate keys, cross-batch probe): the reference semantics the
    one-query battery must reproduce check for check."""
    checks = []
    if not batch.limit(1).take(1):
        return [("non_empty", False, "table is empty", [])]
    checks.append(("non_empty", True, "", []))
    nn = [f.name for f in ECOM_SCHEMAS["order_items"].fields if not f.nullable]
    row = null_counts(batch, nn).collect()[0].asDict()
    bad = {c: n for c, n in row.items() if n}
    checks.append(
        ("null_check", not bad, f"null counts in non-nullable columns: {bad}" if bad else "", [])
    )
    dups = duplicate_keys(batch, pk).limit(max_offenders).collect()
    checks.append(
        ("unique_key", not dups, f"duplicate keys on {pk}" if dups else "",
         sorted(tuple(r[c] for c in pk) for r in dups))
    )
    if all(passed for _, passed, _, _ in checks) and seen is not None:
        n = batch.join(seen, pk, "left_semi").limit(1).count()
        checks.append(
            ("unique_key_cross_batch", n == 0,
             "batch contains keys already accepted in a prior arrival" if n else "", [])
        )
    return checks


@pytest.mark.parametrize("kind", ["clean", "nulls", "in_batch_dup", "redelivered", "empty"])
def test_gate_report_matches_per_check_battery(spark, ecom_pdf, kind):
    """One aggregate query per batch gives the same check names,
    verdicts, details and offenders as the per-check actions, as the
    streaming gate calls it (one table, no FKs, the key index of
    earlier arrivals as ``seen_keys``)."""
    _, _, order_items = ecom_pdf
    history, batch = order_items.iloc[:100], order_items.iloc[100:160].copy()
    if kind == "nulls":
        # a lone null key is one key, not a duplicate (groupBy semantics)
        batch = batch.astype({"id": object, "sale_price": object})
        batch.loc[batch.index[:3], "sale_price"] = None
        batch.loc[batch.index[5], "id"] = None
    elif kind == "in_batch_dup":
        batch = pd.concat([batch, batch.iloc[:2], batch.iloc[:1]], ignore_index=True)
    elif kind == "redelivered":
        batch = pd.concat([batch, history.iloc[:4]], ignore_index=True)
    elif kind == "empty":
        batch = batch.iloc[:0]
    reader = nullable_copy(ECOM_SCHEMAS["order_items"])
    sdf = to_spark(spark, batch, reader)
    seen = to_spark(spark, history, reader).select("id")
    report = validate_tables(
        {"order_items": sdf}, {"order_items": ECOM_SCHEMAS["order_items"]},
        {"order_items": ["id"]}, [], seen_keys={"order_items": seen},
    )
    got = [(c.check, c.passed, c.detail, sorted(c.offenders)) for c in report.checks]
    assert got == _per_check_gate(sdf, ["id"], seen)
    assert report.rows == {"order_items": len(batch)}
    failing = {c for c, passed, _, _ in got if not passed}
    assert failing == {
        "clean": set(),
        "nulls": {"null_check"},
        "in_batch_dup": {"unique_key"},
        "redelivered": {"unique_key_cross_batch"},
        "empty": {"non_empty"},
    }[kind]
