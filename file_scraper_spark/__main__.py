"""CLI entry point — UX parity with the reference binary.

Reference (src/main.rs:18-32): ``file-scraper PATH... [--identifier X]
[--verbose]`` with the sink from ``$DATABASE_URL``. Here:

    python -m file_scraper_spark PATH... [--identifier X] [--verbose]
        [--database URL|FILE.duckdb] [--master local[N]]

Database resolution order: --database, then $DATABASE_URL, then an
in-repo default duckdb file. postgresql:// URLs use psycopg if
installed (not in this container — clearly reported); anything else is
treated as a DuckDB path. One scrape transaction per path (A15);
failures abort the run with a nonzero exit (src/main.rs:61-65). Spark
starts only for an S3 path or an fs tree too large for the driver to
walk (``sources.pyds.DRIVER_WALK_MAX_ENTRIES``).
"""

from __future__ import annotations

import argparse
import os
import sys
from datetime import datetime, timezone


def make_connect(database: str) -> tuple:
    """(connection factory, DB-API paramstyle) for the sink.

    postgresql:// prefers psycopg; falls back to the driverless psql
    pipe shim (sinks/psql_shim.py) when only client binaries exist.
    """
    if database.startswith(("postgres://", "postgresql://")):
        try:
            import psycopg  # noqa: PLC0415

            return (lambda: psycopg.connect(database)), "format"
        except ImportError:
            from file_scraper_spark.sinks.psql_shim import (  # noqa: PLC0415
                PsqlConnection,
                psql_available,
            )

            if psql_available():
                return (lambda: PsqlConnection(database)), "format"
            raise SystemExit(
                "postgresql:// sink requires psycopg or the psql client, "
                "neither of which is available; use a .duckdb path"
            ) from None
    import duckdb  # noqa: PLC0415

    return (lambda: duckdb.connect(database)), "qmark"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="file_scraper_spark",
        description="Scrape file metadata from fs/S3 trees into a DB "
        "snapshot table (Spark-native).",
    )
    p.add_argument("paths", nargs="+", help="directories or s3:// URLs")
    p.add_argument(
        "--identifier",
        help="external_source identifier (default: host:path / s3 URL)",
    )
    p.add_argument(
        "--database",
        default=os.environ.get("DATABASE_URL", "file_scraper.duckdb"),
        help="DB: .duckdb path or postgresql:// URL "
        "(default: $DATABASE_URL or ./file_scraper.duckdb)",
    )
    p.add_argument("--master", default=None, help="Spark master override")
    p.add_argument(
        "--no-created-stat",
        action="store_true",
        help="leave `created` NULL on fs sources instead of filling "
        "it from the walk's stat",
    )
    p.add_argument("--verbose", "-v", action="store_true")
    args = p.parse_args(argv)

    from file_scraper_spark.pipeline import scrape_all
    from file_scraper_spark.session import get_spark
    from file_scraper_spark.sinks.merge_sink import MergeSink

    # Spark starts on first use: an fs tree the driver walks
    # (pyds.DRIVER_WALK_MAX_ENTRIES) never needs it.
    spark = None

    def session():
        nonlocal spark
        if spark is None:
            spark = get_spark("file_scraper_spark", master=args.master)
            if args.verbose:
                spark.sparkContext.setLogLevel("INFO")
        return spark

    connect, paramstyle = make_connect(args.database)
    sink = MergeSink(connect, paramstyle=paramstyle)
    scrape_time = datetime.now(timezone.utc).replace(tzinfo=None)

    try:
        idents = scrape_all(
            session, args.paths, sink,
            identifier=args.identifier, scrape_time=scrape_time,
            created_from_stat=not args.no_created_stat,
        )
        for path, ident in zip(args.paths, idents):
            print(f"scraped {path} as {ident!r}")
    except Exception as e:  # fail-fast, nonzero exit (src/main.rs:61-65)
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
