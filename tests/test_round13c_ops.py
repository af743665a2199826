"""Cross-checks for the round-13 continuation operators.

The oracle gate proves engine == oracle SQL; these tests prove the
ALGORITHM is right by checking against an INDEPENDENT formulation
(naive all-pairs triangle count, Python peeling, brute scan counts) —
the class of error where engine and oracle faithfully replicate the
same mistake, which the gate cannot see.
"""

from __future__ import annotations

import duckdb
import pytest

from file_scraper_spark import registry

registry._ensure_loaded()
R = registry.REGISTRY


def _edges(sf_dir: str) -> list[tuple[int, int]]:
    """Undirected part<->supplier edge list (namespaced node ids)."""
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s
        FROM '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    con.close()
    return rows


def test_triangle_total_matches_naive_all_pairs(spark, sf_dir):
    """The oriented wedge join must agree with the brute-force
    all-triples count over the co-purchase projection (each triangle
    counted once via u<v<w) — an algorithmically independent path."""
    con = duckdb.connect()
    naive = con.execute(
        f"""
        WITH pr AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          FROM '{sf_dir}/lineitem.parquet'
        ), e AS (
          SELECT DISTINCT a.p AS u, b.p AS v
          FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p
        )
        SELECT COUNT(*) FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        """
    ).fetchone()[0]
    con.close()
    rows = R["graph_triangle_count"].fn(spark, sf_dir).collect()
    if rows:
        assert rows[0]["total_triangles"] == naive
    else:
        assert naive == 0


def test_kcore_profile_matches_python_peeling(spark, sf_dir):
    """The per-round survivor/edge counts must match a dict-based
    Python peeling of the same graph."""
    from file_scraper_spark.operators.graph import KCORE_K, KCORE_ROUNDS

    und = set()
    for p, s in _edges(sf_dir):
        und.add((p, s))
    expected = []
    edges = {(a, b) for a, b in und} | {(b, a) for a, b in und}
    for _ in range(KCORE_ROUNDS):
        deg: dict[int, int] = {}
        for a, _b in edges:
            deg[a] = deg.get(a, 0) + 1
        surv = {n for n, d in deg.items() if d >= KCORE_K}
        edges = {(a, b) for a, b in edges if a in surv and b in surv}
        expected.append((len(surv), len(edges) // 2))
    rows = sorted(
        R["graph_kcore_peel"].fn(spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    got = [(r["n_nodes"], r["n_edges"]) for r in rows]
    assert got == expected


def test_hits_matches_python_power_iteration(spark, sf_dir):
    """Full top-20 hub/auth sets must match a dict-based replay of
    the L1-normalized integer half-steps."""
    from file_scraper_spark.operators.graph import (
        HITS_ROUNDS,
        HITS_SCALE,
        HITS_TOPK,
    )

    con = duckdb.connect()
    e = con.execute(
        f"""SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        FROM '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    con.close()
    h = {p: HITS_SCALE for p, _ in e}
    a: dict[int, int] = {}
    for _ in range(HITS_ROUNDS):
        raw: dict[int, int] = {}
        for p, s in e:
            raw[s] = raw.get(s, 0) + h[p]
        tot = sum(raw.values())
        a = {s: (v * HITS_SCALE) // tot for s, v in raw.items()}
        raw = {}
        for p, s in e:
            raw[p] = raw.get(p, 0) + a[s]
        tot = sum(raw.values())
        h = {p: (v * HITS_SCALE) // tot for p, v in raw.items()}
    exp_hubs = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOPK]
    exp_auths = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOPK]
    rows = R["graph_hits"].fn(spark, sf_dir).collect()
    got_hubs = [
        (r["node_id"], r["score_q"]) for r in rows if r["kind"] == "hub"
    ]
    got_auths = [
        (r["node_id"], r["score_q"]) for r in rows if r["kind"] == "auth"
    ]
    assert got_hubs == exp_hubs
    assert got_auths == exp_auths


def test_phrase_search_matches_python_scan(spark, sf_dir):
    """Per-doc match counts must equal a naive Python token scan
    (including overlapping occurrences)."""
    from file_scraper_spark.operators.text import PHRASE

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    expected = {}
    for doc_id, text in docs:
        if text is None:
            continue
        ts = text.split(" ")
        n = sum(
            1
            for i in range(len(ts) - 2)
            if tuple(ts[i : i + 3]) == PHRASE
        )
        if n:
            expected[doc_id] = n
    rows = R["text_phrase_search"].fn(spark, sf_dir).collect()
    got = {r["doc_id"]: r["n_matches"] for r in rows}
    assert got == expected


#: token-boundary edge cases for the phrase queries: separators other
#: than one space, near-miss tokens, NULL/empty text, and multi-byte
#: characters (two-byte UTF-8, and astral emoji that take two UTF-16
#: units each) ahead of the match.
PHRASE_EDGE_TEXTS = [
    "row column sort",
    "row column sort row column sort",
    "a b c row column sort",
    "a  row column sort",
    "row  column sort",
    "xrow column sort",
    "row column sorts",
    "row column sort.",
    "Row column sort",
    "xrow column sort sorts row column sort. row column sort x",
    "a\nrow column sort",
    "row column sort\nb",
    "x\ny row column sort",
    "a\n row column sort",
    None,
    "",
    "é row column sort",
    "😀 😀 😀 😀 😀 row column sort",
    "😀😀 🎉 row column sort z row column sort",
    "row column sort q row column sort row column sort",
]


@pytest.mark.parametrize(
    "name", ["text_phrase_search", "text_phrase_search_indexed"]
)
def test_phrase_search_edge_cases_match_oracle(spark, tmp_path, name):
    """Both phrase queries equal their DuckDB oracle, and a Python
    ``str.split(' ')`` scan, on a corpus of token-boundary edge cases
    — the cases the generated fixtures never contain."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from file_scraper_spark.operators.text import PHRASE
    from tools.check_correctness import duckdb_run, value_hash

    texts = PHRASE_EDGE_TEXTS
    d = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["edge"] * len(texts), pa.string()),
                "n_chars": pa.array(
                    [len(t or "") for t in texts], pa.int64()
                ),
            }
        ),
        f"{d}/documents.parquet",
    )
    expected = {}
    for doc_id, text in enumerate(texts, start=1):
        ts = (text or "").split(" ")
        hits = [i for i in range(len(ts) - 2) if tuple(ts[i : i + 3]) == PHRASE]
        if hits:
            expected[doc_id] = (len(hits), hits[0])
    # spot values the scan must reproduce exactly
    assert expected[2] == (2, 0) and expected[4] == (1, 2)
    assert expected[18] == (1, 5) and expected[20] == (3, 0)

    cols = ["doc_id", "n_matches", "first_pos"]
    s_rows = [tuple(r) for r in R[name].fn(spark, d).select(*cols).collect()]
    assert {r[0]: r[1:] for r in s_rows} == expected
    d_cols, d_rows = duckdb_run(d, R[name].oracle)
    assert value_hash(cols, s_rows) == value_hash(d_cols, d_rows)


def test_cdc_chunking_is_shift_resistant(spark, tmp_path):
    """THE content-defined-chunking property: inserting one token
    near the head of a long document must leave the chunk-hash
    multiset almost unchanged (only the chunk containing the edit
    differs), where fixed-width blocking would shift every block."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = " ".join(f"tok{i % 97}x{i % 13}" for i in range(400))
    edited = "INSERTED " + base
    d = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": pa.array([base, edited], pa.string()),
                "lang": pa.array(["en", "en"], pa.string()),
                "source": pa.array(["a", "b"], pa.string()),
                "n_chars": pa.array(
                    [len(base), len(edited)], pa.int64()
                ),
            }
        ),
        f"{d}/documents.parquet",
    )
    rows = R["dedup_cdc_chunks"].fn(spark, d).collect()
    # chunks shared by both docs dedup (n_docs == 2); the number of
    # chunk hashes unique to one doc is the edit's blast radius —
    # CDC bounds it to the head chunk(s), not the whole document.
    n_shared = sum(1 for r in rows if r["n_docs"] == 2)
    n_unique = sum(1 for r in rows if r["n_docs"] == 1)
    assert n_shared >= 10, f"expected most chunks shared, got {n_shared}"
    assert n_unique <= 4, f"edit blast radius too large: {n_unique}"


def test_png_index_fails_loud_on_corrupt_crc():
    from file_scraper_spark.operators.multimodal import (
        build_png,
        parse_png,
    )

    png = bytearray(build_png(64, 2, b"payload-bytes" * 5))
    png[40] ^= 0xFF  # flip a data byte inside a chunk
    with pytest.raises(ValueError, match="crc"):
        parse_png(bytes(png))


def test_pattern_match_counts_match_pandas_replay(spark, sf_dir):
    """Per-user (count, first ts) must equal a pandas groupby replay
    of the lag logic."""
    from file_scraper_spark.operators.relational_ext3 import PATTERN

    con = duckdb.connect()
    ev = con.execute(
        f"""SELECT user_id, ts, event_id, event_type
        FROM '{sf_dir}/events.parquet' ORDER BY user_id, ts, event_id"""
    ).fetchall()
    con.close()
    expected: dict[int, tuple[int, object]] = {}
    by_user: dict[int, list] = {}
    for user_id, ts, eid, et in ev:
        by_user.setdefault(user_id, []).append((ts, et))
    for u, seq in by_user.items():
        n, first = 0, None
        for i in range(2, len(seq)):
            if (
                seq[i - 2][1] == PATTERN[0]
                and seq[i - 1][1] == PATTERN[1]
                and seq[i][1] == PATTERN[2]
            ):
                n += 1
                if first is None:
                    first = seq[i][0]
        if n:
            expected[u] = (n, first)
    rows = R["event_pattern_match"].fn(spark, sf_dir).collect()
    got = {
        r["user_id"]: (r["n_matches"], r["first_match_ts"]) for r in rows
    }
    assert got == expected
