"""Property-based check of the merge sink against a pure-Python model
of the reference's snapshot-sync semantics (src/db.rs:38-136).

The model is ~30 lines of dict manipulation implementing: upsert with
the row-comparison change predicate (three-valued NULL logic), mime
preservation on no-op, scoped soft delete with re-stamping. Hypothesis
drives random multi-scrape histories through both the model and the
real DuckDB-backed sink and compares full table states. Each scrape is
staged batch by batch.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from file_scraper_spark.sinks.merge_sink import MergeSink

T0 = datetime(2024, 1, 1)
SRC = "host:/d"

FILENAMES = ["a", "b", "c", "d"]
MTIMES = [T0, T0 + timedelta(hours=1)]
SIZES = [1, 2, None]  # None models the u64-overflow NULL
MIMES = [None, "text/plain", "image/png"]


@st.composite
def scrape(draw):
    """One scrape: 0-3 staged batches, each name in at most one of them
    (a scrape stages each key once)."""
    batches = [[] for _ in range(draw(st.integers(0, 3)))]
    names = st.lists(st.sampled_from(FILENAMES), unique=True, max_size=4)
    for name in draw(names) if batches else []:
        batches[draw(st.integers(0, len(batches) - 1))].append((
            SRC,
            "p",
            name,
            draw(st.sampled_from(MIMES)),
            None,  # created (S3-style NULL keeps NULL logic in play)
            draw(st.sampled_from(MTIMES)),
            draw(st.sampled_from(SIZES)),
        ))
    return batches


# A history of 1-4 scrapes.
history = st.lists(scrape(), min_size=1, max_size=4)


def model_sync(state: dict, rows: list[tuple], scrape_time) -> None:
    """Reference semantics in miniature. state: key -> row dict."""
    seen = set()
    for (_, path, fn, mime, created, modified, size) in rows:
        key = (path, fn)
        seen.add(key)
        if key not in state:
            state[key] = {
                "mime": mime, "created": created,
                "modified": modified, "size": size, "deleted": None,
            }
            continue
        cur = state[key]
        # row-comparison `<>`: true iff some pair is non-null and unequal
        pairs = [
            (cur["created"], created),
            (cur["modified"], modified),
            (cur["size"], size),
        ]
        changed = any(
            a is not None and b is not None and a != b for a, b in pairs
        )
        if changed:
            cur.update(
                mime=mime, created=created, modified=modified, size=size
            )
            # note: deleted is NOT reset (reference quirk)
    for key, cur in state.items():
        if key not in seen:
            cur["deleted"] = scrape_time  # re-stamps already-deleted rows


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(history)
def test_sink_matches_model(scrapes):
    con = duckdb.connect()  # in-memory, one connection for the whole run
    sink = MergeSink(lambda: con)

    # in-memory duckdb: keep the connection open across scrapes
    class KeepOpen:
        def __getattr__(self, a):
            return getattr(con, a)

        def close(self):
            pass

    sink._connect = lambda: KeepOpen()
    sink.ensure_target()
    state: dict = {}
    for i, batches in enumerate(scrapes):
        t = T0 + timedelta(days=i + 1)
        session = sink.open_scrape(SRC, t)
        for rows in batches:
            session.add_rows(rows)
        session.finalize()
        model_sync(state, [r for b in batches for r in b], t)

    actual = {
        (r[0], r[1]): {
            "mime": r[2], "created": r[3], "modified": r[4],
            "size": r[5], "deleted": r[6],
        }
        for r in con.execute(
            "SELECT path, filename, mime_type, created, modified, size, "
            "deleted FROM external_file"
        ).fetchall()
    }
    con.execute("DROP TABLE external_file")
    assert actual == state
