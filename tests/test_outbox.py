"""Capture-side DDL (SURVEY §2 S1/S3/S4) — pure SQL text, no database;
mirrors the reference's DDL tests (server_test.go:362-406). The
install/remove lifecycle runs against a live server in
tests/test_outbox_pg.py."""

from __future__ import annotations

import pytest

from pqstream_spark.sources.outbox import (
    filter_tables,
    install_trigger_sql,
    remove_trigger_sql,
)


def test_trigger_sql_shape():
    sql = install_trigger_sql("notes")
    assert "AFTER INSERT OR UPDATE OR DELETE" in sql
    assert 'ON "notes"' in sql
    assert "DROP TRIGGER IF EXISTS" in sql  # idempotent re-install
    assert 'ON "notes"' in remove_trigger_sql("notes")


def test_identifier_validation():
    with pytest.raises(ValueError):
        install_trigger_sql("notes; DROP TABLE users")


def test_table_regexp_filter():
    names = ["notes", "users", "orders_2024"]
    assert filter_tables(names, None) == names
    assert filter_tables(names, "^(notes|users)$") == ["notes", "users"]
    assert filter_tables(names, "orders") == ["orders_2024"]


def test_consumer_row_rule_sql_matches_python():
    """compact() filters offset rows with CONSUMER_ROWS_SQL and --lag
    classifies them with offset_row_kind: both must agree on which rows
    are real delivery consumers."""
    import sqlite3

    from pqstream_spark.sources.outbox import (
        CONSUMER_ROWS_SQL,
        offset_row_kind,
    )

    names = ["daemon", "analytics", "daemon#bootstrap",
             "daemon@logical@s3#bootstrap", "ds#reportfloor", "ds#lease",
             "daemon@pq_slot#logicalseq", "daemon@pq_slot#logicallsn",
             "boot#bootstrapped", "a#lease#x"]
    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE o (consumer TEXT)")
    conn.executemany("INSERT INTO o VALUES (?)", [(n,) for n in names])
    by_sql = {r[0] for r in conn.execute(
        f"SELECT consumer FROM o WHERE {CONSUMER_ROWS_SQL}")}
    assert by_sql == {n for n in names if offset_row_kind(n) == "consumer"}
    assert by_sql == {"daemon", "analytics", "boot#bootstrapped",
                      "a#lease#x"}
    assert offset_row_kind("daemon@pq_slot#logicallsn") == "logical"
