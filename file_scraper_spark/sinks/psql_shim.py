"""Driverless Postgres connection over a persistent ``psql`` pipe.

Fallback for environments with Postgres client binaries but no Python
driver (psycopg/pg8000): statements stream to one psql session, with a
sentinel per statement, and errors are raised from merged stderr.
Parameters are substituted as escaped literals — correct for scalar
values (str/num/datetime/None; single quotes doubled, backslashes are
not special in standard-conforming Postgres strings) but not a general
driver; prefer psycopg when installable.

A query's rows come back through ``COPY (…) TO STDOUT (FORMAT csv,
FORCE_QUOTE *)``: every non-NULL value is quoted, so a value may hold
newlines or look like an error line and still read back exactly, and an
unquoted empty field is NULL. :meth:`PsqlConnection.copy_in` sends the
inline data of a ``COPY … FROM STDIN``, the sink's bulk staging. The
MergeSink SQL is verified against real Postgres 15 in
tests/test_merge_sink_postgres.py.
"""

from __future__ import annotations

import io
import re
import shutil
import subprocess
import uuid
from datetime import date, datetime

SENTINEL = "__PSQL_DONE__"

#: Statements whose rows are read back, through COPY.
_QUERY = re.compile(r"\s*(SELECT|VALUES|WITH|TABLE)\b", re.IGNORECASE)
#: One field of FORCE_QUOTE csv output and the separator after it; an
#: unquoted (empty) field is NULL.
_CSV_FIELD = re.compile(r'(?:"((?:[^"]|"")*)")?([,\n])')


def psql_available() -> bool:
    return shutil.which("psql") is not None


def quote_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, (datetime, date)):
        return f"'{v.isoformat()}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


class PsqlError(RuntimeError):
    pass


def substitute(sql: str, params) -> str:
    """Replace each placeholder of ``sql`` (all ``%s`` if it has any,
    else all ``?``) by the matching parameter's literal, in one
    left-to-right pass: a placeholder character inside a substituted
    value is never substituted again."""
    ph = "%s" if "%s" in sql else "?"
    parts = sql.split(ph)
    if len(parts) != len(params) + 1:
        raise PsqlError(
            f"{len(parts) - 1} placeholders for {len(params)} parameters"
        )
    out = [parts[0]]
    for p, rest in zip(params, parts[1:]):
        out += (quote_literal(p), rest)
    return "".join(out)


def csv_rows(text: str) -> list[tuple]:
    """The rows of ``COPY … TO STDOUT (FORMAT csv, FORCE_QUOTE *)``
    output, NULL as None."""
    rows, row = [], []
    for m in _CSV_FIELD.finditer(text):
        row.append(None if m[1] is None else m[1].replace('""', '"'))
        if m[2] == "\n":
            rows.append(tuple(row))
            row = []
    return rows


class PsqlConnection:
    """Just enough DB-API for the sinks (execute/executemany/fetchall/
    commit/rollback/close, and ``copy_in``), over one psql session ==
    one DB session (temp tables and transactions behave normally)."""

    def __init__(self, dsn: str, run_prefix: list[str] | None = None):
        self.proc = subprocess.Popen(
            [
                *(run_prefix or []),
                "psql", dsn, "-X", "-q", "-A", "-t",
                "-v", "ON_ERROR_STOP=0", "-v", "VERBOSITY=terse",
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            cwd="/",
        )
        # newline="": a carriage return inside a value reads back as is
        self.stdin = io.TextIOWrapper(self.proc.stdin, "utf-8", newline="")
        self.stdout = io.TextIOWrapper(self.proc.stdout, "utf-8", newline="")
        self._last_rows: list[tuple] = []
        # -q drops command tags and VERBOSITY=terse an error's extra
        # lines; this drops notices and warnings, so stdout holds only
        # result rows and errors
        self.stdin.write(
            "SET client_encoding TO 'UTF8';\n"
            "SET client_min_messages TO error;\n"
        )

    def _roundtrip(self, sql: str, copy_data: str | None = None) -> str:
        """Run one statement, followed by ``copy_data`` as the inline
        input of a ``COPY … FROM STDIN``, and return what it printed.
        An error line can only start outside a quoted value, so it is
        sought only where the quotes seen so far are balanced."""
        marker = f"{SENTINEL}_{uuid.uuid4().hex}"
        self.stdin.write(sql.rstrip().rstrip(";") + ";\n")
        if copy_data is not None:
            self.stdin.write(copy_data + "\\.\n")
        self.stdin.write(f"\\echo {marker}\n")
        self.stdin.flush()
        out: list[str] = []
        errors: list[str] = []
        quotes = 0
        while True:
            line = self.stdout.readline()
            if not line:
                raise PsqlError(
                    "psql session terminated (connection failed?)"
                )
            if quotes % 2 == 0:
                if line.rstrip("\r\n") == marker:
                    break
                if line.startswith(("ERROR:", "FATAL:")):
                    errors.append(line.strip())
                    continue
            out.append(line)
            quotes += line.count('"')
        if errors:
            raise PsqlError("; ".join(errors))
        return "".join(out)

    def execute(self, sql: str, params: tuple | None = None):
        if params:
            sql = substitute(sql, params)
        if _QUERY.match(sql):
            query = sql.rstrip().rstrip(";")
            out = self._roundtrip(
                f"COPY ({query}) TO STDOUT (FORMAT csv, FORCE_QUOTE *)"
            )
            self._last_rows = csv_rows(out)
        else:
            self._roundtrip(sql)
            self._last_rows = []
        return self

    def executemany(self, sql: str, rows: list[tuple]) -> None:
        for r in rows:
            self.execute(sql, r)

    def copy_in(self, sql: str, data: str) -> None:
        """Run ``sql``, a ``COPY … FROM STDIN``, with ``data`` as its
        input: lines of the COPY's format, each ending in a newline, and
        none that is ``\\.``."""
        self._roundtrip(sql, data)

    def fetchall(self) -> list[tuple]:
        return self._last_rows

    def fetchone(self):
        return self._last_rows[0] if self._last_rows else None

    def commit(self) -> None:
        self._roundtrip("COMMIT")

    def rollback(self) -> None:
        self._roundtrip("ROLLBACK")

    def close(self) -> None:
        try:
            self.stdin.close()
            self.proc.wait(timeout=10)
        except Exception:
            self.proc.kill()
        self.stdout.close()
