"""Unit tests of the psql pipe shim's parameter substitution; no psql
binary or server needed (the connection is built without a process
and its round-trip is stubbed)."""

from __future__ import annotations

from datetime import datetime

import pytest

from file_scraper_spark.sinks.psql_shim import PsqlConnection, PsqlError


def _stub_connection() -> tuple[PsqlConnection, list[str]]:
    con = object.__new__(PsqlConnection)
    sent: list[str] = []

    def roundtrip(sql: str) -> list[str]:
        sent.append(sql)
        return []

    con._roundtrip = roundtrip
    return con, sent


def test_placeholder_inside_value_is_not_substituted():
    con, sent = _stub_connection()
    con.execute("INSERT INTO t VALUES (?, ?)", ("what?.txt", "b"))
    assert sent == ["INSERT INTO t VALUES ('what?.txt', 'b')"]


def test_format_placeholders_and_literals():
    con, sent = _stub_connection()
    con.execute(
        "UPDATE t SET a = %s, b = %s, c = %s WHERE d = %s",
        ("50%s'?.txt", None, 7, datetime(2024, 1, 2, 3, 4, 5, 6)),
    )
    assert sent == [
        "UPDATE t SET a = '50%s''?.txt', b = NULL, c = 7 "
        "WHERE d = '2024-01-02T03:04:05.000006'"
    ]


def test_multi_row_insert_binds_every_row():
    con, sent = _stub_connection()
    rows = [(f"f{i}?", i) for i in range(500)]
    con.execute(
        "INSERT INTO t VALUES " + ", ".join(["(?, ?)"] * len(rows)),
        [v for r in rows for v in r],
    )
    assert sent == [
        "INSERT INTO t VALUES "
        + ", ".join(f"('f{i}?', {i})" for i in range(500))
    ]


def test_placeholder_count_mismatch_raises():
    con, sent = _stub_connection()
    with pytest.raises(PsqlError, match="2 placeholders for 1 parameters"):
        con.execute("INSERT INTO t VALUES (?, ?)", ("a",))
    assert sent == []
