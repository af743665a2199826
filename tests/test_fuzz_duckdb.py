"""Differential fuzzing vs DuckDB (VERDICT r5 ask #5).

Hypothesis generates random query specs from a small grammar over the
fixture tables, renders each spec to ONE common-dialect SQL string,
runs it through BOTH engines — `spark.sql` over temp views (Catalyst /
Tungsten execution) and DuckDB over `read_parquet` views — and
compares the canonicalized result sets bit-exactly (the same
canonicalization as tools/check_correctness.py).

This protects the semantics the 151 pinned gate queries don't reach:
NULL propagation through aggregates / group keys / join keys
(synthesized via NULLIF — the fixtures themselves are NULL-free),
ties in rank ordering, empty-group and empty-result edges, set-op
duplicate semantics, and scalar-function corner cases — across
FIFTEEN op families (aggregate, window, join, set-op, scalar/filter,
multi-level aggregation, CTE/subquery, filtered/distinct aggregates,
date/time, sort-limit, explicit window frames RANGE-vs-ROWS,
two-sided NULL-key joins with 3VL vs IS NOT DISTINCT FROM ON-clauses,
string scalars pad/trim/slice/search/split, array/higher-order list
functions rendered per dialect, and collation/string ordering).

Determinism rules baked into the grammar (anything outside them is a
cross-engine false positive, not a bug):
- no double-typed SUM/AVG (summation order varies); MIN/MAX/COUNT on
  any type and SUM over exact ints only
- ORDER BY always carries NULLS FIRST and, wherever row identity
  matters (LIMIT, lag/lead/row_number), a unique tiebreak key
- events.parquet is excluded (its ts may be TIMESTAMP(NANOS), which
  needs tables.load's engine-specific read path; covered by the gate
  queries instead)
"""

from __future__ import annotations

import os
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR_SMOKE
from tools.check_correctness import duckdb_run, value_hash

#: per-family example budget: 25 at CI cadence; crank via env (e.g.
#: SPARK_GRAFT_FUZZ_EXAMPLES=200) for a deep divergence hunt
N_EXAMPLES = int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "25"))

TABLES = ("orders", "lineitem", "customer", "nation", "region", "documents")

#: per-table column pools: unique key, exact-int columns (sum-safe),
#: any-type columns (min/max-safe), string columns, small-cardinality
#: group columns
COLS = {
    "orders": {
        "key": "o_orderkey",
        "ints": ["o_orderkey", "o_custkey"],
        "any": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
        "strs": ["o_orderstatus", "o_orderpriority"],
        "groups": ["o_orderstatus", "o_orderpriority", "o_custkey % 7"],
    },
    "lineitem": {
        # The synthetic lineitem has DUPLICATE (l_orderkey,
        # l_linenumber) pairs (unlike real TPC-H) — found by the
        # round-8 300-example fuzz run: a tie at a LIMIT boundary let
        # each engine pick different physical rows. Full rows ARE
        # unique, and adding partkey/suppkey/quantity (always
        # integral in this data; floor is engine-portable) makes the
        # composite a total key at both smoke scales. Magnitudes stay
        # < 2^54 for orderkeys up to ~10^7, far beyond fuzz fixtures.
        "key": (
            "(((l_orderkey * 10 + l_linenumber) * 200003 + l_partkey)"
            " * 10007 + l_suppkey) * 53"
            " + CAST(floor(l_quantity) AS BIGINT) % 53"
        ),
        "ints": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "any": ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate", "l_discount"],
        "strs": ["l_returnflag", "l_linestatus"],
        "groups": ["l_returnflag", "l_linestatus", "l_suppkey % 5"],
    },
    "customer": {
        "key": "c_custkey",
        "ints": ["c_custkey", "c_nationkey"],
        "any": ["c_custkey", "c_name", "c_acctbal", "c_nationkey"],
        "strs": ["c_name", "c_mktsegment"],
        "groups": ["c_mktsegment", "c_nationkey"],
    },
    "documents": {
        "key": "doc_id",
        "ints": ["doc_id", "n_chars"],
        "any": ["doc_id", "lang", "source", "n_chars"],
        "strs": ["lang", "source"],
        "groups": ["lang", "source", "n_chars % 4"],
    },
}
FUZZ_TABLES = tuple(COLS)


@pytest.fixture(scope="module")
def sql_env(spark, smoke_dir):
    """Register the fuzz tables as Spark temp views over the same
    parquet DuckDB reads."""
    for t in TABLES:
        spark.read.parquet(f"{smoke_dir}/{t}.parquet").createOrReplaceTempView(t)
    return spark


def run_both(spark, sql: str) -> None:
    run_both2(spark, sql, sql)


def run_both2(spark, spark_sql: str, duck_sql: str) -> None:
    """Dual-dialect variant for families whose function NAMES differ
    between the engines (array/list surface: Spark split/size/
    transform vs DuckDB string_split/len/list_transform) while the
    SEMANTICS under test are shared. Both strings are rendered from
    ONE spec, so a divergence is still a genuine semantic mismatch,
    never a transcription accident — the renderers differ only in
    function spelling."""
    sdf = spark.sql(spark_sql)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    d_cols, d_rows = duckdb_run(SF_DIR_SMOKE, duck_sql)
    assert len(s_rows) == len(d_rows), (
        f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}\n"
        f"{spark_sql}\n{duck_sql}"
    )
    sh, dh = value_hash(s_cols, s_rows), value_hash(d_cols, d_rows)
    assert sh == dh, (
        f"value mismatch spark={sh} duckdb={dh}\n{spark_sql}\n{duck_sql}"
    )


# ---- shared sub-strategies ------------------------------------------

tbl = st.sampled_from(FUZZ_TABLES)


def int_col(t: str):
    return st.sampled_from(COLS[t]["ints"])


def str_col(t: str):
    return st.sampled_from(COLS[t]["strs"])


def group_expr(t: str, nullable: bool):
    """A grouping expression; optionally NULL-bearing via NULLIF so
    NULL group keys / join keys / agg inputs are exercised (the
    fixtures are NULL-free)."""
    base = st.sampled_from(COLS[t]["groups"])
    if not nullable:
        return base
    return st.one_of(
        base,
        int_col(t).flatmap(
            lambda c: st.integers(0, 3).map(
                lambda k: f"NULLIF({c} % 4, {k})"
            )
        ),
    )


def predicate(t: str):
    c = COLS[t]
    return st.one_of(
        st.tuples(int_col(t), st.integers(0, 50)).map(
            lambda p: f"{p[0]} % 53 > {p[1]}"
        ),
        st.tuples(str_col(t), st.sampled_from(["<", ">=", "<>"])).map(
            lambda p: f"{p[0]} {p[1]} 'M'"
        ),
        st.tuples(int_col(t), st.integers(1, 5)).map(
            lambda p: f"NULLIF({p[0]} % 7, 3) >= {p[1]}"  # NULL -> row dropped
        ),
        st.just(f"{c['key']} IS NOT NULL"),
    )


# ---- family 1: groupBy aggregates -----------------------------------

agg_spec = st.tuples(
    tbl.flatmap(
        lambda t: st.tuples(
            st.just(t), group_expr(t, nullable=True), int_col(t), predicate(t)
        )
    ),
    st.booleans(),  # HAVING on/off
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(agg_spec)
def test_fuzz_groupby_agg(sql_env, spec):
    (t, g, ic, pred), having = spec
    anyc = COLS[t]["any"][1]
    sql = (
        f"SELECT {g} AS g, COUNT(*) AS n, COUNT({anyc}) AS nc, "
        f"CAST(SUM({ic}) AS BIGINT) AS s, MIN({anyc}) AS mn, "
        f"MAX({anyc}) AS mx FROM {t} WHERE {pred} GROUP BY {g}"
        + (" HAVING COUNT(*) > 2" if having else "")
    )
    run_both(sql_env, sql)


# ---- family 2: window functions -------------------------------------

win_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        st.sampled_from(COLS[t]["groups"][:2]),
        st.sampled_from(COLS[t]["any"]),
        st.sampled_from(["RANK()", "DENSE_RANK()", "ROW_NUMBER()", "LAG", "SUMW"]),
        predicate(t),
    )
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(win_spec)
def test_fuzz_window(sql_env, spec):
    t, p, o, fn, pred = spec
    key = COLS[t]["key"]
    ic = COLS[t]["ints"][0]
    # rank/dense_rank are tie-deterministic; anything row-identity
    # sensitive gets the unique key as tiebreak
    if fn in ("RANK()", "DENSE_RANK()"):
        call = f"{fn} OVER (PARTITION BY {p} ORDER BY {o} NULLS FIRST)"
    elif fn == "ROW_NUMBER()":
        call = (
            f"ROW_NUMBER() OVER (PARTITION BY {p} "
            f"ORDER BY {o} NULLS FIRST, {key} NULLS FIRST)"
        )
    elif fn == "LAG":
        call = (
            f"LAG({ic}, 1, -1) OVER (PARTITION BY {p} "
            f"ORDER BY {o} NULLS FIRST, {key} NULLS FIRST)"
        )
    else:  # running exact-int sum over an unambiguous frame
        call = (
            f"CAST(SUM({ic}) OVER (PARTITION BY {p} "
            f"ORDER BY {o} NULLS FIRST, {key} NULLS FIRST "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        )
    sql = f"SELECT {key} AS k, {call} AS w FROM {t} WHERE {pred}"
    run_both(sql_env, sql)


# ---- family 3: joins -------------------------------------------------

JOIN_EDGES = [
    ("customer", "orders", "c_custkey", "o_custkey"),
    ("nation", "customer", "n_nationkey", "c_nationkey"),
    ("region", "nation", "r_regionkey", "n_regionkey"),
    ("orders", "lineitem", "o_orderkey", "l_orderkey"),
]

join_spec = st.tuples(
    st.sampled_from(JOIN_EDGES),
    st.sampled_from(["JOIN", "LEFT JOIN", "SEMI", "ANTI"]),
    st.booleans(),  # NULL-bearing join key on the left side
    st.integers(0, 6),
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(join_spec)
def test_fuzz_join(sql_env, spec):
    (lt, rt, lk, rk), how, null_key, m = spec
    lkey = f"NULLIF({lk}, {m})" if null_key else lk
    if how == "SEMI":
        sql = (
            f"SELECT COUNT(*) AS n FROM {lt} WHERE {lkey} IN "
            f"(SELECT {rk} FROM {rt} WHERE {rk} % 7 > {m % 5})"
        )
    elif how == "ANTI":
        sql = (
            f"SELECT COUNT(*) AS n FROM {lt} WHERE {lkey} NOT IN "
            f"(SELECT {rk} FROM {rt} WHERE {rk} IS NOT NULL AND {rk} % 7 > {m % 5})"
        )
    else:
        on_l = f"NULLIF(l.{lk}, {m})" if null_key else f"l.{lk}"
        sql = (
            f"SELECT l.{lk} AS k, COUNT(r.{rk}) AS nr, COUNT(*) AS n "
            f"FROM {lt} l {how} {rt} r ON {on_l} = r.{rk} "
            f"GROUP BY l.{lk}"
        )
    run_both(sql_env, sql)


# ---- family 4: set operations ---------------------------------------

setop_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        st.sampled_from(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"]),
        predicate(t),
        predicate(t),
        st.sampled_from(COLS[t]["strs"] + COLS[t]["ints"]),
    )
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(setop_spec)
def test_fuzz_setops(sql_env, spec):
    t, op, p1, p2, c = spec
    sql = (
        f"SELECT {c} AS v FROM {t} WHERE {p1} "
        f"{op} SELECT {c} AS v FROM {t} WHERE {p2}"
    )
    run_both(sql_env, sql)


# ---- family 5: scalar expressions / filters -------------------------

scalar_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        str_col(t),
        int_col(t),
        predicate(t),
        st.integers(1, 4),
        st.integers(2, 9),
    )
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(scalar_spec)
def test_fuzz_scalar(sql_env, spec):
    t, sc, ic, pred, a, b = spec
    key = COLS[t]["key"]
    sql = (
        f"SELECT {key} AS k, UPPER({sc}) AS u, LENGTH({sc}) AS ln, "
        f"SUBSTR({sc}, {a}, {b}) AS sub, {sc} || '_x' AS cc, "
        f"CASE WHEN {ic} % {b} = 0 THEN 'z' ELSE {sc} END AS cw, "
        f"COALESCE(NULLIF({ic} % {b}, {a % b}), -1) AS nv, "
        f"CAST({ic} % {b} AS BIGINT) * {a} - 3 AS ar "
        f"FROM {t} WHERE {pred}"
    )
    run_both(sql_env, sql)


# ---- family 6: multi-level aggregation (ROLLUP / CUBE / GROUPING SETS)

def nonempty_predicate(t: str):
    """Predicates that cannot filter out EVERY row: multi-level
    aggregation diverges between the engines on empty input (see
    test_rollup_empty_input_divergence_pinned), so the fuzz grammar
    keeps that family on the common ground."""
    return st.tuples(int_col(t), st.integers(0, 1)).map(
        lambda p: f"{p[0]} % 3 >= {p[1]}"
    )


rollup_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        st.sampled_from(COLS[t]["groups"][:2]),
        st.sampled_from(COLS[t]["strs"]),
        st.sampled_from(["ROLLUP", "CUBE", "GROUPING SETS"]),
        nonempty_predicate(t),
    )
)


def test_rollup_empty_input_divergence_pinned(sql_env):
    """GENUINE cross-engine divergence found by this fuzzer (round 6):
    GROUP BY ROLLUP/CUBE/GROUPING SETS over an EMPTY input. The SQL
    standard treats the () grouping set as a global aggregate, which
    yields one grand-total row even with zero input rows — DuckDB
    (like Postgres) emits (NULL, .., 1, .., 0); Spark emits NO rows.
    Pinned so a behavior change in either engine is flagged; the
    registered rollup_cube gate query is unaffected (non-empty
    fixture input), and the fuzz grammar above avoids empty inputs
    for this family."""
    sql = (
        "SELECT c_mktsegment AS a, COUNT(*) AS n FROM customer "
        "WHERE c_custkey < 0 GROUP BY ROLLUP (c_mktsegment)"
    )
    assert sql_env.sql(sql).count() == 0  # Spark: no grand-total row
    _, d_rows = duckdb_run(SF_DIR_SMOKE, sql)
    assert d_rows == [(None, 0)]  # DuckDB: standard grand-total row


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(rollup_spec)
def test_fuzz_rollup_cube(sql_env, spec):
    t, g1, g2, kind, pred = spec
    if kind == "GROUPING SETS":
        grp = f"GROUPING SETS (({g1}, {g2}), ({g1}), ())"
    else:
        grp = f"{kind} ({g1}, {g2})"
    # GROUPING() disambiguates real NULL group values from subtotal
    # rows — the NULL-vs-subtotal distinction is exactly the semantic
    # edge worth fuzzing here
    sql = (
        f"SELECT {g1} AS a, {g2} AS b, "
        f"GROUPING({g1}) AS ga, GROUPING({g2}) AS gb, "
        f"COUNT(*) AS n FROM {t} WHERE {pred} GROUP BY {grp}"
    )
    run_both(sql_env, sql)


# ---- family 7: CTE + correlated/scalar subqueries -------------------

cte_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        st.sampled_from(COLS[t]["groups"][:2]),
        int_col(t),
        predicate(t),
        st.sampled_from(["scalar_sub", "in_cte", "exists"]),
    )
)


def _qualify(expr: str, alias: str) -> str:
    """Prefix every column reference in a (possibly compound) key
    expression with a table alias. Fixture column names all contain
    an underscore (l_orderkey, doc_id, n_chars); SQL keywords and
    function names in the expressions do not, so the word pattern is
    unambiguous. Needed since the round-8 composite lineitem key:
    ``b.{key}`` is only valid SQL for a bare column."""
    import re as _re

    return _re.sub(r"\b([a-z]+_[a-z0-9_]+)\b", rf"{alias}.\1", expr)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(cte_spec)
def test_fuzz_cte_subquery(sql_env, spec):
    t, g, ic, pred, shape = spec
    key = COLS[t]["key"]
    if shape == "scalar_sub":
        sql = (
            f"WITH s AS (SELECT {g} AS g, COUNT(*) AS n FROM {t} "
            f"WHERE {pred} GROUP BY {g}) "
            f"SELECT g, n, (SELECT CAST(MAX(n) AS BIGINT) FROM s) AS mx FROM s"
        )
    elif shape == "in_cte":
        sql = (
            f"WITH big AS (SELECT {g} AS g FROM {t} GROUP BY {g} "
            f"HAVING COUNT(*) > 5) "
            f"SELECT COUNT(*) AS n FROM {t} WHERE {g} IN (SELECT g FROM big)"
        )
    else:
        sql = (
            f"SELECT COUNT(*) AS n FROM {t} a WHERE {pred} AND EXISTS "
            f"(SELECT 1 FROM {t} b WHERE b.{ic} = a.{ic} "
            f"AND {_qualify(key, 'b')} <> {_qualify(key, 'a')})"
        )
    run_both(sql_env, sql)


# ---- family 9: filtered / distinct aggregates -----------------------

filtagg_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        st.sampled_from(COLS[t]["groups"][:2]),
        int_col(t),
        str_col(t),
        predicate(t),
        st.integers(2, 6),
    )
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(filtagg_spec)
def test_fuzz_filtered_distinct_agg(sql_env, spec):
    """FILTER (WHERE ..) clauses and DISTINCT aggregates — both ANSI,
    both engines; NULLIF inside the aggregate input exercises
    null-skipping semantics."""
    t, g, ic, sc, pred, m = spec
    sql = (
        f"SELECT {g} AS g, "
        f"COUNT(DISTINCT {sc}) AS nds, "
        f"CAST(SUM(DISTINCT {ic} % {m}) AS BIGINT) AS sdm, "
        f"COUNT(*) FILTER (WHERE {ic} % {m} = 0) AS nf, "
        f"MIN({sc}) FILTER (WHERE {ic} % {m} <> 1) AS mnf, "
        f"COUNT(NULLIF({ic} % {m}, 0)) AS nnn "
        f"FROM {t} WHERE {pred} GROUP BY {g}"
    )
    run_both(sql_env, sql)


# ---- family 10: date/time functions ---------------------------------

DATE_TABLES = [("orders", "o_orderdate", "o_orderkey"), ("lineitem", "l_shipdate", "l_orderkey")]

date_spec = st.tuples(
    st.sampled_from(DATE_TABLES),
    st.sampled_from(["year", "quarter", "month", "week", "day", "hour"]),
    st.sampled_from(["YEAR", "MONTH", "DAY", "HOUR", "MINUTE"]),
    st.integers(1, 11),
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(date_spec)
def test_fuzz_datetime(sql_env, spec):
    """date_trunc + EXTRACT over timestamps — shared ANSI surface
    (interval arithmetic and date_diff are deliberately excluded:
    argument conventions differ between the engines)."""
    (t, dc, kc), trunc, part, m = spec
    sql = (
        f"SELECT CAST(date_trunc('{trunc}', {dc}) AS TIMESTAMP) AS tr, "
        f"CAST(EXTRACT({part} FROM {dc}) AS BIGINT) AS ex, "
        f"COUNT(*) AS n, CAST(MIN({kc}) AS BIGINT) AS mk "
        f"FROM {t} WHERE EXTRACT(MONTH FROM {dc}) <> {m} "
        f"GROUP BY date_trunc('{trunc}', {dc}), EXTRACT({part} FROM {dc})"
    )
    run_both(sql_env, sql)


# ---- family 8: sort + limit -----------------------------------------

sort_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        st.sampled_from(COLS[t]["any"]),
        st.sampled_from(["ASC", "DESC"]),
        st.integers(1, 40),
        predicate(t),
    )
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(sort_spec)
def test_fuzz_sort_limit(sql_env, spec):
    t, o, d, k, pred = spec
    key = COLS[t]["key"]
    # unique tiebreak makes the LIMIT-k row SET deterministic; compared
    # order-insensitively (canonicalization sorts rows)
    sql = (
        f"SELECT {key} AS k, {o} AS v FROM {t} WHERE {pred} "
        f"ORDER BY {o} {d} NULLS FIRST, {key} {d} NULLS FIRST LIMIT {k}"
    )
    run_both(sql_env, sql)


# ---- family 11: window FRAMES (RANGE vs ROWS, nth/first/last bounds) -

#: (frame kind, aggregate) — every combination is deterministic:
#: RANGE frames are value-based (peer rows enter/leave together, so
#: ties cannot perturb SUM/COUNT of exact ints); ROWS frames get the
#: unique key as the final ORDER BY tiebreak so row identity is total.
frame_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        st.sampled_from(COLS[t]["groups"][:2]),
        int_col(t),
        st.sampled_from(["RANGE", "ROWS"]),
        st.integers(0, 5),   # preceding bound
        st.sampled_from([0, 1, 2, -1]),  # following bound; -1 = CURRENT ROW
        st.sampled_from(["SUM", "COUNT", "NTH", "FIRST", "LAST"]),
        predicate(t),
    )
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(frame_spec)
def test_fuzz_window_frames(sql_env, spec):
    t, p, oc, kind, prec, foll, fn, pred = spec
    key = COLS[t]["key"]
    ic = COLS[t]["ints"][-1]
    hi = "CURRENT ROW" if foll == -1 else f"{foll} FOLLOWING"
    if kind == "RANGE":
        # RANGE offset frames need a single numeric sort key; ties are
        # harmless (peers share the frame) so no tiebreak is added —
        # that asymmetry vs ROWS is exactly the semantics under test
        order = f"ORDER BY {oc} NULLS FIRST"
        frame = f"RANGE BETWEEN {prec} PRECEDING AND {hi}"
        # value-based frames: only order-insensitive aggregates
        calls = {
            "SUM": f"CAST(SUM({ic}) OVER w AS BIGINT)",
            "COUNT": "COUNT(*) OVER w",
            "NTH": f"CAST(SUM({ic} % 11) OVER w AS BIGINT)",
            "FIRST": f"CAST(MIN({ic}) OVER w AS BIGINT)",
            "LAST": f"CAST(MAX({ic}) OVER w AS BIGINT)",
        }
    else:
        order = f"ORDER BY {oc} NULLS FIRST, {key} NULLS FIRST"
        frame = f"ROWS BETWEEN {prec} PRECEDING AND {hi}"
        calls = {
            "SUM": f"CAST(SUM({ic}) OVER w AS BIGINT)",
            "COUNT": "COUNT(*) OVER w",
            "NTH": f"NTH_VALUE({ic}, 2) OVER w",
            "FIRST": f"FIRST_VALUE({ic}) OVER w",
            "LAST": f"LAST_VALUE({ic}) OVER w",
        }
    sql = (
        f"SELECT {key} AS k, {calls[fn]} AS w FROM {t} WHERE {pred} "
        f"WINDOW w AS (PARTITION BY {p} {order} {frame})"
    )
    run_both(sql_env, sql)


# ---- family 12: joins with NULL-bearing keys on BOTH sides ----------

nulljoin_spec = st.tuples(
    st.sampled_from(JOIN_EDGES),
    st.sampled_from(["FULL JOIN", "LEFT JOIN", "JOIN"]),
    st.integers(0, 6),   # left NULLIF residue
    st.integers(0, 6),   # right NULLIF residue
    st.booleans(),       # null-safe equality (IS NOT DISTINCT FROM)
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(nulljoin_spec)
def test_fuzz_null_key_join(sql_env, spec):
    """Both join inputs carry synthesized NULL keys; exercises the
    3-valued ON-clause semantics (NULL = NULL is never true) against
    null-safe equality (IS NOT DISTINCT FROM, where NULL matches
    NULL), across inner/left/full shapes. Aggregated so result sets
    stay small and order-free."""
    (lt, rt, lk, rk), how, ml, mr, nullsafe = spec
    # % 101 keeps the many-to-many residue join bounded (~n^2/101
    # inner rows at the smoke fixture) while still colliding plenty
    on_l = f"NULLIF(l.{lk} % 101, {ml})"
    on_r = f"NULLIF(r.{rk} % 101, {mr})"
    op = "IS NOT DISTINCT FROM" if nullsafe else "="
    sql = (
        f"SELECT COUNT(*) AS n, COUNT(l.{lk}) AS nl, COUNT(r.{rk}) AS nr, "
        f"CAST(SUM(COALESCE(l.{lk} % 97, -1) + COALESCE(r.{rk} % 89, -3)) "
        f"AS BIGINT) AS s "
        f"FROM {lt} l {how} {rt} r ON {on_l} {op} {on_r}"
    )
    run_both(sql_env, sql)


# ---- family 13: string scalar functions ------------------------------

#: ANSI-shared string surface beyond family 5's UPPER/SUBSTR/concat:
#: padding, trimming, slicing, searching, splitting. Deliberately
#: excluded as cross-engine false-positive sources: INITCAP
#: (word-boundary definitions differ), regexp_* (Java vs RE2 regex
#: dialects), TRANSLATE (dup-char handling), string_agg/listagg
#: (names and NULL/order semantics differ).
string_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        str_col(t),
        predicate(t),
        st.integers(1, 6),
        st.integers(1, 12),
        st.sampled_from(["x", "_", "#"]),
    )
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(string_spec)
def test_fuzz_string_funcs(sql_env, spec):
    """Padding/trim/slice/search/split scalars — both engines are
    1-based, return empty string on out-of-range split_part, 0 on
    POSITION miss, and truncate LPAD/RPAD to the target width."""
    t, sc, pred, n, w, ch = spec
    key = COLS[t]["key"]
    sql = (
        f"SELECT {key} AS k, "
        f"REPLACE({sc}, '{ch}', 'QQ') AS rp, "
        f"LPAD({sc}, {w}, '{ch}') AS lp, RPAD({sc}, {w}, '{ch}') AS rpd, "
        f"LEFT({sc}, {n}) AS lf, RIGHT({sc}, {n}) AS rt, "
        f"REVERSE({sc}) AS rv, REPEAT('{ch}', {n}) AS rep, "
        f"TRIM({sc}) AS tr, "
        f"CAST(POSITION('{ch}' IN {sc}) AS BIGINT) AS ps, "
        f"split_part({sc}, '{ch}', {n}) AS sp, "
        f"CASE WHEN {sc} LIKE '%{ch}%' THEN 1 ELSE 0 END AS lk "
        f"FROM {t} WHERE {pred}"
    )
    run_both(sql_env, sql)


# ---- family 14: array / higher-order list functions ------------------

#: One spec, two dialect renderings (run_both2): the array surface is
#: semantically shared but spelled differently (split/size/element_at/
#: transform/filter/array_sort/array_join vs string_split/len/[n]/
#: list_transform/list_filter/list_sort/array_to_string). Splitting
#: on a LETTER keeps Spark's regex split and DuckDB's literal split
#: equivalent. try_element_at (not element_at) on the Spark side:
#: Spark 4 runs ANSI mode, where out-of-bounds element_at raises —
#: DuckDB's list index yields NULL, and NULL-on-miss is the semantics
#: under test.
array_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        str_col(t),
        predicate(t),
        st.integers(1, 5),            # element index / filter bound
        st.sampled_from(list("aeorst")),  # split char (regex-safe)
        st.booleans(),                # per-row exprs vs grouped agg
        st.sampled_from(COLS[t]["groups"][:2]),
    )
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(array_spec)
def test_fuzz_array_funcs(sql_env, spec):
    t, sc, pred, n, ch, agg, g = spec
    key = COLS[t]["key"]
    if agg:
        # order-free list aggregation: full sort before join makes the
        # collected order irrelevant (collect_list/list are both
        # arrival-ordered, i.e. nondeterministic)
        s_sql = (
            f"SELECT {g} AS g, "
            f"array_join(array_sort(collect_list({sc})), '|') AS lst, "
            f"COUNT(*) AS n FROM {t} WHERE {pred} GROUP BY {g}"
        )
        d_sql = (
            f"SELECT {g} AS g, "
            f"array_to_string(list_sort(list({sc})), '|') AS lst, "
            f"COUNT(*) AS n FROM {t} WHERE {pred} GROUP BY {g}"
        )
    else:
        s_arr = f"split({sc}, '{ch}')"
        d_arr = f"string_split({sc}, '{ch}')"
        s_sql = (
            f"SELECT {key} AS k, "
            f"CAST(size({s_arr}) AS BIGINT) AS sz, "
            f"try_element_at({s_arr}, {n}) AS el, "
            f"array_join(array_sort({s_arr}), '|') AS srt, "
            f"array_join(transform({s_arr}, x -> upper(x)), '|') AS tr, "
            f"CAST(size(filter({s_arr}, x -> length(x) >= {n})) AS BIGINT) AS fl, "
            f"array_contains({s_arr}, '{ch}') AS ct "
            f"FROM {t} WHERE {pred}"
        )
        d_sql = (
            f"SELECT {key} AS k, "
            f"CAST(len({d_arr}) AS BIGINT) AS sz, "
            f"{d_arr}[{n}] AS el, "
            f"array_to_string(list_sort({d_arr}), '|') AS srt, "
            f"array_to_string(list_transform({d_arr}, x -> upper(x)), '|') AS tr, "
            f"CAST(len(list_filter({d_arr}, x -> length(x) >= {n})) AS BIGINT) AS fl, "
            f"list_contains({d_arr}, '{ch}') AS ct "
            f"FROM {t} WHERE {pred}"
        )
    run_both2(sql_env, s_sql, d_sql)


# ---- family 15: collation / string ordering --------------------------

#: Both engines default to BINARY (codepoint) collation; this family
#: pins that the whole comparison surface actually agrees on it:
#: <-comparisons, GREATEST/LEAST, BETWEEN over string ranges, MIN/MAX,
#: and ORDER BY ... LIMIT over strings synthesized to mix case and
#: punctuation (lower() flips, '_' vs ' ' concat suffixes) — the
#: places where a locale-collating engine would silently reorder.
collation_spec = tbl.flatmap(
    lambda t: st.tuples(
        st.just(t),
        str_col(t),
        str_col(t),
        predicate(t),
        st.integers(3, 25),
        st.sampled_from(["ASC", "DESC"]),
        st.sampled_from(["_", " ", "~", "0"]),
    )
)


@settings(max_examples=N_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(collation_spec)
def test_fuzz_string_collation(sql_env, spec):
    t, s1, s2, pred, k, d, suf = spec
    key = COLS[t]["key"]
    sql = (
        f"SELECT {key} AS k, "
        f"CASE WHEN {s1} < {s2} THEN 1 WHEN {s1} = {s2} THEN 0 "
        f"ELSE -1 END AS cmp, "
        f"GREATEST({s1}, {s2}) AS gr, LEAST({s1}, {s2}) AS ls, "
        f"CASE WHEN lower({s1}) > {s1} THEN 1 ELSE 0 END AS lc, "
        f"CASE WHEN {s1} || '{suf}' < {s1} || '~' THEN 1 ELSE 0 END AS pc, "
        f"CASE WHEN {s1} BETWEEN 'A' AND 'n~' THEN 1 ELSE 0 END AS bt "
        f"FROM {t} WHERE {pred} "
        f"ORDER BY {s1} {d} NULLS FIRST, {key} {d} NULLS FIRST LIMIT {k}"
    )
    run_both(sql_env, sql)


# ---- determinism preconditions --------------------------------------


def test_fuzz_keys_are_unique_in_fixture(smoke_dir):
    """Every COLS[t]['key'] must be a TOTAL key of its smoke-fixture
    table: three families (sort_limit, window row_number/lag,
    collation) use it as the tiebreak that makes LIMIT row sets and
    row-identity window values engine-deterministic. The round-8 deep
    fuzz run proved this is a DATA property, not a schema fact — the
    synthetic lineitem duplicates (orderkey, linenumber) — so it is
    asserted here instead of assumed."""
    import duckdb

    for t, spec in COLS.items():
        p = f"{smoke_dir}/{t}.parquet"
        n, nd = duckdb.sql(
            f"SELECT COUNT(*), COUNT(DISTINCT {spec['key']}) "
            f"FROM read_parquet('{p}')"
        ).fetchone()
        assert n == nd, f"{t}: key {spec['key']!r} has {n - nd} ties"


def test_levenshtein_unit_divergence_pinned(sql_env):
    """GENUINE cross-engine divergence found by the registry corpus
    fuzzer (round 9, 250-example docs run): levenshtein's UNIT.
    Spark counts CODE POINTS ('café' vs 'cafe' = 1, one substitution)
    — and the engine's Myers bit-parallel kernel agrees by
    construction (Python str = code points). DuckDB counts BYTES
    (é is 2 UTF-8 bytes => 2). Pinned so a change in either engine is
    flagged; the engine contract is code points, the editdistance
    oracles replay exactly on ASCII, and the registry fuzzer keeps
    those draws in the ASCII domain (ASCII_DOMAIN_QUERIES)."""
    s = sql_env.sql(
        "SELECT levenshtein('café', 'cafe') AS d, "
        "levenshtein('中文', '中') AS d2"
    ).collect()[0]
    assert (s.d, s.d2) == (1, 1)  # Spark: code points
    _, d_rows = duckdb_run(
        SF_DIR_SMOKE,
        "SELECT levenshtein('café', 'cafe') AS d, "
        "levenshtein('中文', '中') AS d2",
    )
    assert tuple(d_rows[0]) == (2, 3)  # DuckDB: bytes
