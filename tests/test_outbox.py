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


def test_txn_assembler_exact_completion_unit(spark):
    """Pure-DataFrame unit coverage of the round-10 TxnAssembler (the
    live-PG tests drive it through read_batch_txn; this pins the
    assembler's own semantics without a server): an xid emits exactly
    when a row of it arrives flagged txn_complete; incomplete xids
    buffer across any number of batches (including empty ones — the
    round-9 flush-on-empty tore here); NULL xids emit immediately;
    pending_floor tracks the lowest held seq for the durable offset."""
    from datetime import datetime

    from pyspark.sql import types as T

    from pqstream_spark.sources.outbox_local import OUTBOX_BATCH_SCHEMA
    from pqstream_spark.sources.outbox_pg import TxnAssembler

    schema = T.StructType(
        OUTBOX_BATCH_SCHEMA.fields
        + [T.StructField("xid", T.LongType()),
           T.StructField("txn_complete", T.BooleanType())]
    )
    ts = datetime(2020, 1, 1)

    def row(seq, xid, complete):
        return (seq, ts, "public", "notes", "INSERT", str(seq),
                '{"id":%d}' % seq, None, xid, complete)

    def batch(*rows):
        return spark.createDataFrame(list(rows), schema)

    asm = TxnAssembler()
    # batch 1: xid 7 spans past the ceiling (incomplete), xid 8 is
    # self-contained (emits same-batch), NULL xid emits immediately
    e1 = asm.feed(batch(row(1, 7, False), row(2, 8, True),
                        (3, ts, "public", "notes", "INSERT", "3",
                         '{"id":3}', None, None, None)))
    assert sorted(r.seq for r in e1.collect()) == [2, 3]
    assert asm.pending_floor() == 1
    # empty batch: nothing flushes (the round-9 regression)
    assert asm.feed(batch()).count() == 0
    assert asm.pending_floor() == 1
    # batch 2: xid 7 completes -> buffered row 1 emits with rows 4-5;
    # xid 9 starts buffering
    e2 = asm.feed(batch(row(4, 7, True), row(5, 7, True),
                        row(6, 9, False)))
    assert sorted(r.seq for r in e2.collect()) == [1, 4, 5]
    assert asm.pending_floor() == 6
    # flush hands back the remainder (terminal drain only)
    assert [r.seq for r in asm.flush().collect()] == [6]
    assert asm.pending_floor() is None
