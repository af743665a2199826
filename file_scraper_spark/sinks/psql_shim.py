"""Driverless Postgres connection over a persistent ``psql`` pipe.

Fallback for environments with Postgres client binaries but no Python
driver (psycopg/pg8000): statements stream to one psql session,
results come back field-separated with a sentinel per statement, and
errors are raised from merged stderr. Parameters are substituted as
escaped literals — correct for the sink's value types (str/num/
datetime/None; single quotes doubled, backslashes are not special in
standard-conforming Postgres strings) but not a general driver; prefer
psycopg when installable. The MergeSink SQL itself is verified against
real Postgres 15 in tests/test_merge_sink_postgres.py.
"""

from __future__ import annotations

import shutil
import subprocess
import uuid
from datetime import date, datetime

SENTINEL = "__PSQL_DONE__"
NULL_TOKEN = "__PSQL_NULL__"
SEP = "\x1f"


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


class PsqlConnection:
    """Just enough DB-API for the sinks (execute/executemany/fetchall/
    commit/rollback/close), over one psql session == one DB session
    (temp tables and transactions behave normally)."""

    def __init__(self, dsn: str, run_prefix: list[str] | None = None):
        self.proc = subprocess.Popen(
            [
                *(run_prefix or []),
                "psql", dsn, "-X", "-A", "-t", "-F", SEP,
                "-v", "ON_ERROR_STOP=0", "-P", f"null={NULL_TOKEN}",
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
            bufsize=1,
            cwd="/",
        )
        self._last_rows: list[tuple] = []

    def _roundtrip(self, sql: str) -> list[str]:
        marker = f"{SENTINEL}_{uuid.uuid4().hex[:8]}"
        self.proc.stdin.write(sql.rstrip().rstrip(";") + ";\n")
        self.proc.stdin.write(f"\\echo {marker}\n")
        self.proc.stdin.flush()
        lines: list[str] = []
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise PsqlError(
                    "psql session terminated (connection failed?)"
                )
            line = line.rstrip("\n")
            if line == marker:
                break
            lines.append(line)
        errors = [l for l in lines if l.startswith(("ERROR:", "FATAL:"))]
        if errors:
            raise PsqlError("; ".join(errors))
        return [
            l for l in lines
            if l and not l.startswith(
                ("NOTICE:", "WARNING:", "DETAIL:", "HINT:", "LINE ",
                 "INSERT ", "DELETE ", "UPDATE ", "CREATE", "DROP",
                 "BEGIN", "COMMIT", "ROLLBACK", "SET", "TRUNCATE", " ")
            )
        ]

    def execute(self, sql: str, params: tuple | None = None):
        if params:
            sql = substitute(sql, params)
        self._last_rows = [
            tuple(None if c == NULL_TOKEN else c for c in l.split(SEP))
            for l in self._roundtrip(sql)
        ]
        return self

    def executemany(self, sql: str, rows: list[tuple]) -> None:
        for r in rows:
            self.execute(sql, r)

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
            self.proc.stdin.close()
            self.proc.wait(timeout=10)
        except Exception:
            self.proc.kill()
