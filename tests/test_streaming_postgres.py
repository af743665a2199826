"""A streaming index sink against REAL Postgres through the psql shim:
foreachBatch micro-batches merged into a server-side table. Skipped
when Postgres binaries are absent."""

from __future__ import annotations

import pytest

from tests.pg_harness import PgCluster, pg_available

pytestmark = pytest.mark.skipif(
    not pg_available, reason="postgres binaries not available"
)


@pytest.fixture(scope="module")
def cluster():
    import shutil
    import tempfile
    from pathlib import Path

    # under /tmp directly: pytest's tmp dirs sit below a 0700 root dir
    # the postgres user cannot traverse
    base = Path(tempfile.mkdtemp(prefix="pgfss_stream_", dir="/tmp"))
    c = PgCluster(base)
    c.start()
    yield c
    c.stop()
    shutil.rmtree(base, ignore_errors=True)


def test_band_index_stream_to_postgres(spark, cluster, smoke_dir):
    """stream_minhash_dedup_upsert against REAL Postgres through the
    psql shim: the parquet-ingest path fails server-side (no
    read_parquet in PG), the driver-batched upsert_rows fallback takes
    over inside the same transaction contract, and the verdict read
    comes back through contested_rows (COPY TO PARQUET also absent) —
    verdicts must equal the complete-mode memory-sink twin."""
    from file_scraper_spark.sinks.band_index_sink import BandIndexSink
    from file_scraper_spark.streaming.queries import (
        stream_minhash_dedup,
        stream_minhash_dedup_upsert,
    )

    admin = cluster.connect()
    admin.execute("DROP TABLE IF EXISTS band_owners")
    admin.commit()
    admin.close()
    sink = BandIndexSink(cluster.connect, paramstyle="format")
    got = {
        tuple(r)
        for r in stream_minhash_dedup_upsert(
            spark, smoke_dir, sink=sink
        ).collect()
    }
    want = {tuple(r) for r in stream_minhash_dedup(spark, smoke_dir).collect()}
    assert got == want
    assert any(not r[3] for r in got), "no near-dups contested?"
    # the index persisted server-side: contested buckets survived the
    # stream's teardown
    assert len(sink.contested_rows()) > 0
