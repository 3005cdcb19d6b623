"""Guarded ad-hoc SQL surface (SURVEY §3.3): SELECT-only enforcement
+ the reference UI's example query + schema introspection."""

from __future__ import annotations

import pytest

from noaa_data_pipeline_spark import sql_surface
from noaa_data_pipeline_spark.tables import register_views, table_path


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    register_views(spark, sf_dir)


@pytest.fixture(scope="module")
def views_only(spark, sf_dir):
    """A views-only session with ``region`` registered through its own
    reader (``register_views`` caches frames per application, so its
    views would land on the parent session)."""
    child = sql_surface.views_only_session(spark)
    child.read.parquet(table_path(sf_dir, "region")).createOrReplaceTempView("region")
    return child


def test_ui_example_query_shape(spark):
    # ui/main.js:52 example, retargeted at the events view
    df = sql_surface.run_user_sql(
        spark, "SELECT * FROM events ORDER BY user_id, ts DESC LIMIT 200"
    )
    assert df.count() == 200


def test_with_cte_allowed(spark):
    df = sql_surface.run_user_sql(
        spark, "WITH c AS (SELECT COUNT(*) n FROM customer) SELECT n FROM c"
    )
    assert df.collect()[0].n > 0


@pytest.mark.parametrize(
    "bad",
    [
        "DROP TABLE customer",
        "INSERT INTO customer VALUES (1)",
        "SELECT 1; SELECT 2",
        "update customer set c_name = 'x'",
        "CREATE TABLE t AS SELECT 1",
        "  -- sneaky\nDELETE FROM orders",
        "",
    ],
)
def test_guard_rejects(spark, bad):
    with pytest.raises(sql_surface.SqlGuardError):
        sql_surface.run_user_sql(spark, bad)


def test_schema_introspection(spark):
    schemas = sql_surface.table_schemas(spark, ["region", "events"])
    assert {c["column_name"] for c in schemas["region"]} >= {"r_regionkey", "r_name"}
    types = {c["column_name"]: c["column_type"] for c in schemas["events"]}
    assert types["ts"] == "timestamp"


# --- DuckDB-dialect acceptance (ui/main.js:131-141 parity gap) -------


def test_duckdb_colon_casts_translate_and_run(spark, duck):
    """::TYPE casts + epoch(): a saved DuckDB query runs unmodified
    through dialect='duckdb' and matches DuckDB's own answer."""
    q = (
        "SELECT user_id, epoch(ts::TIMESTAMP) AS es "
        "FROM events WHERE user_id = 7 ORDER BY es LIMIT 5"
    )
    got = [tuple(r) for r in sql_surface.run_user_sql(spark, q, dialect="duckdb").collect()]
    want = duck.execute(
        "SELECT user_id, epoch(ts::TIMESTAMP) AS es "
        "FROM events WHERE user_id = 7 ORDER BY es LIMIT 5"
    ).fetchall()
    assert got == [tuple(r) for r in want]


def test_duckdb_strftime_translates(spark, duck):
    q = "SELECT strftime(ts, '%Y-%m') AS m, COUNT(*) AS n FROM events GROUP BY m ORDER BY m"
    got = [tuple(r) for r in sql_surface.run_user_sql(spark, q, dialect="duckdb").collect()]
    want = [tuple(r) for r in duck.execute(q).fetchall()]
    assert got == want


def test_duckdb_read_parquet_single_path(spark, sf_dir):
    q = f"SELECT COUNT(*) AS n FROM read_parquet('{sf_dir}/region.parquet')"
    n = sql_surface.run_user_sql(spark, q, dialect="duckdb").collect()[0].n
    assert n == 5


def test_duckdb_cast_inside_string_untouched(spark):
    # a literal containing '::' must survive translation verbatim
    df = sql_surface.run_user_sql(
        spark, "SELECT 'a::b' AS s, (1+1)::BIGINT AS two", dialect="duckdb"
    )
    row = df.collect()[0]
    assert row.s == "a::b" and row.two == 2


@pytest.mark.parametrize(
    "q,needle",
    [
        ("SELECT read_parquet(['a.parquet','b.parquet'])", "path LIST"),
        ("SELECT unnest(xs) FROM t", "explode"),
        ("SELECT string_agg(x, ',') FROM t", "collect_list"),
        ("SELECT arg_max(a, b) FROM t", "max_by"),
        ("SELECT struct_pack(a := 1)", "named_struct"),
    ],
)
def test_duckdb_unsupported_rejected_with_guidance(q, needle):
    with pytest.raises(sql_surface.SqlGuardError, match=needle):
        sql_surface.translate_duckdb(q)


def test_duckdb_function_call_cast_operands(spark, duck):
    # f(args)::TYPE must capture the whole call, not just (args)
    q = (
        "SELECT count(*)::DOUBLE AS c, epoch_ms(ts)::DOUBLE AS e "
        "FROM events WHERE user_id = 7 GROUP BY ts ORDER BY e LIMIT 3"
    )
    t = sql_surface.translate_duckdb(q)
    assert "CAST(count(*) AS DOUBLE)" in t
    assert "CAST(unix_millis(ts) AS DOUBLE)" in t
    got = [tuple(r) for r in sql_surface.run_user_sql(spark, q, dialect="duckdb").collect()]
    want = [tuple(r) for r in duck.execute(q).fetchall()]
    assert got == want


def test_duckdb_len_rejected_with_guidance():
    # DuckDB len() is polymorphic over strings AND lists; a blind
    # rename to length() silently breaks list args, so reject with
    # the explicit choice instead
    with pytest.raises(sql_surface.SqlGuardError, match="size"):
        sql_surface.translate_duckdb("SELECT len(xs) FROM t")


def test_duckdb_read_parquet_list_registers_mergeschema_view(spark, sf_dir):
    q = (
        f"SELECT COUNT(*) AS n FROM read_parquet(["
        f"'{sf_dir}/region.parquet', '{sf_dir}/nation.parquet'"
        f"], union_by_name = true)"
    )
    n = sql_surface.run_user_sql(spark, q, dialect="duckdb").collect()[0].n
    assert n == 30  # 5 regions + 25 nations, unioned by name


def test_duckdb_read_parquet_list_without_session_guides():
    with pytest.raises(sql_surface.SqlGuardError, match="run_user_sql"):
        sql_surface.translate_duckdb(
            "SELECT * FROM read_parquet(['a.parquet','b.parquet'])"
        )


DIFFERENTIAL_QUERIES = [
    # mixed ::casts + renames + arithmetic in one statement
    "SELECT o_orderpriority, count(*)::BIGINT AS n, "
    "(sum(o_totalprice)::DOUBLE / count(*))::DOUBLE AS avg_price "
    "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    # epoch family + strftime over event time
    "SELECT strftime(CAST(e.ts AS TIMESTAMP), '%Y-%m-%d') AS d, "
    "count(*)::BIGINT AS n FROM events e GROUP BY d ORDER BY d LIMIT 5",
    # rlike rename + string ops
    "SELECT count(*)::BIGINT AS n FROM part "
    "WHERE regexp_matches(p_name, 'red|blue')",
    # list_contains on a built array + nested cast chains
    "SELECT count(*)::BIGINT AS n FROM nation "
    "WHERE list_contains(['ALGERIA', 'KENYA'], n_name)",
    # epoch_ms on a timestamp expression inside an aggregate
    "SELECT max(epoch_ms(CAST(ts AS TIMESTAMP)))::BIGINT AS mx FROM events",
    # CTE + join + cast — the shape the UI's saved queries use
    "WITH big AS (SELECT o_custkey, o_totalprice FROM orders "
    "WHERE o_totalprice > 100000) "
    "SELECT c.c_mktsegment, count(*)::BIGINT AS n "
    "FROM big b JOIN customer c ON b.o_custkey = c.c_custkey "
    "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
]


@pytest.mark.parametrize("q", DIFFERENTIAL_QUERIES)
def test_duckdb_dialect_differential(spark, duck, q):
    """Differential harness: each DuckDB-idiom query runs VERBATIM on
    DuckDB and through translate_duckdb on Spark; row sets must match
    exactly (the translator's contract is answer-preservation, not
    just parseability)."""
    from noaa_data_pipeline_spark import sql_surface

    got = sorted(
        tuple(r) for r in sql_surface.run_user_sql(spark, q, dialect="duckdb").collect()
    )
    want = sorted(tuple(r) for r in duck.execute(q).fetchall())
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert len(g) == len(w)
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                assert abs(a - b) < 1e-9 * max(1.0, abs(b))
            else:
                assert a == b, (q, g, w)


def test_duckdb_list_literal_and_subscript_translate(spark, duck):
    q = ("SELECT n_name, ['ALGERIA','KENYA'] AS pair "
         "FROM nation WHERE list_contains(['ALGERIA','KENYA'], n_name) "
         "ORDER BY n_name")
    from noaa_data_pipeline_spark import sql_surface

    got = [(r.n_name, list(r.pair))
           for r in sql_surface.run_user_sql(spark, q, dialect="duckdb").collect()]
    want = [(n, list(p)) for n, p in duck.execute(q).fetchall()]
    assert got == want

    # DuckDB subscripts are 1-based; the translation must preserve that
    q2 = "SELECT (['a','b','c'])[2] AS x"
    t2 = sql_surface.translate_duckdb("SELECT xs[2] AS x FROM t")
    assert "element_at(xs, 2)" in t2
    assert duck.execute(q2).fetchone()[0] == "b"
    got2 = spark.sql("SELECT element_at(array('a','b','c'), 2) AS x").collect()[0].x
    assert got2 == "b"


def test_duckdb_strftime_nested_expr_and_computed_format(duck):
    from noaa_data_pipeline_spark import sql_surface

    t = sql_surface.translate_duckdb(
        "SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d FROM events"
    )
    assert "date_format(CAST(ts AS TIMESTAMP), 'yyyy-MM-dd')" in t
    with pytest.raises(sql_surface.SqlGuardError):
        sql_surface.translate_duckdb("SELECT strftime(ts, fmt_col) FROM t")


# --- property-based differential fuzz of the dialect translator ------
#
# The r5 `f(args)::TYPE` mangle was found by inspection; this finds the
# next one mechanically. Hypothesis composes random expressions from
# the constructs the translator claims to cover (:: casts, list
# literals + 1-based subscripts, strftime literal formats, the epoch_*
# family, renamed scalar functions, string literals stuffed with
# translator-trigger text) and asserts DuckDB on the ORIGINAL equals
# Spark on the TRANSLATION, value for value — a silently-wrong rewrite
# cannot hide, it shows up as a cross-engine mismatch.

hypothesis = pytest.importorskip("hypothesis")
import hypothesis.strategies as st  # noqa: E402
from hypothesis import HealthCheck, given, settings  # noqa: E402

# string pool chosen to hit every masked-literal hazard: cast markers,
# list brackets, commas, escaped quotes, strftime codes, paren noise
_TRICKY_STRINGS = ["a::b", "c,d", "e[1]", "it's", "%Y-%m", "f(x)", "  ", "::"]
_TS_LIT = "TIMESTAMP '2024-03-05 06:07:08'"
_STRFTIME_FMTS = ["%Y-%m-%d", "%H:%M:%S", "%Y%j", "%d/%m/%y %% %H"]


def _ints(depth: int) -> st.SearchStrategy[str]:
    if depth <= 0:
        return st.one_of(
            st.integers(-99, 99).map(str),
            st.just("x"),
            st.just("y"),
        )
    sub = _ints(depth - 1)
    return st.one_of(
        sub,
        st.tuples(sub, sub).map(lambda t: f"({t[0]} + {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"({t[0]} * {t[1]})"),
        sub.map(lambda e: f"abs({e})"),
        st.tuples(sub, sub).map(lambda t: f"greatest({t[0]}, {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"coalesce({t[0]}, {t[1]})"),
        sub.map(lambda e: f"({e})::BIGINT"),
        sub.map(lambda e: f"CAST({e} AS BIGINT)"),
        # list literal + 1-based subscript, rewritten together
        st.tuples(sub, sub, st.integers(1, 2)).map(
            lambda t: f"[{t[0]}, {t[1]}][{t[2]}]"
        ),
        # modulo keeps downstream products inside INT64 in both engines
        st.just(f"(epoch_ms({_TS_LIT}) % 86400)"),
        st.just(f"(epoch_us({_TS_LIT}) % 86400)"),
    )


def _strs(depth: int) -> st.SearchStrategy[str]:
    lit = st.sampled_from(_TRICKY_STRINGS).map(
        lambda s: "'" + s.replace("'", "''") + "'"
    )
    if depth <= 0:
        return st.one_of(lit, st.just("s"))
    sub = _strs(depth - 1)
    return st.one_of(
        sub,
        sub.map(lambda e: f"upper({e})"),
        st.tuples(sub, sub).map(lambda t: f"({t[0]} || {t[1]})"),
        _ints(depth - 1).map(lambda e: f"({e})::VARCHAR"),
        st.sampled_from(_STRFTIME_FMTS).map(
            lambda f: f"strftime({_TS_LIT}, '{f}')"
        ),
    )


def _bools(depth: int) -> st.SearchStrategy[str]:
    ints, strs = _ints(depth), _strs(max(depth - 1, 0))
    base = st.one_of(
        st.tuples(ints, ints).map(lambda t: f"({t[0]} < {t[1]})"),
        st.tuples(ints, ints).map(lambda t: f"({t[0]} = {t[1]})"),
        st.tuples(ints, ints, ints).map(
            lambda t: f"({t[0]} BETWEEN {t[1]} AND {t[2]})"
        ),
        st.tuples(ints, ints, ints).map(
            lambda t: f"({t[0]} IN ({t[1]}, {t[2]}, 7))"
        ),
        # renamed function composed with a rewritten list literal
        st.tuples(ints, ints, ints).map(
            lambda t: f"list_contains([{t[0]}, {t[1]}], {t[2]})"
        ),
        strs.map(lambda e: f"regexp_matches({e}, 'a+')"),
    )
    if depth <= 0:
        return base
    sub = _bools(depth - 1)
    return st.one_of(base, sub.map(lambda e: f"(NOT {e})"))


def _cases(depth: int) -> st.SearchStrategy[str]:
    return st.tuples(_bools(depth), _ints(depth), _ints(depth)).map(
        lambda t: f"CASE WHEN {t[0]} THEN {t[1]} ELSE {t[2]} END"
    )


def _strfns(depth: int) -> st.SearchStrategy[str]:
    strs, ints = _strs(depth), st.integers(1, 4).map(str)
    return st.one_of(
        st.tuples(strs, ints, ints).map(
            lambda t: f"substr({t[0]}, {t[1]}, {t[2]})"
        ),
        st.tuples(strs, strs).map(lambda t: f"replace({t[0]}, 'a', {t[1]})"),
        strs.map(lambda e: f"length({e})"),
    )


_EXPR = st.one_of(_ints(3), _strs(2), _bools(2), _cases(2), _strfns(2))


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(expr=_EXPR)
def test_translator_differential_fuzz(spark, expr):
    import duckdb as _duckdb

    sql = f"SELECT {expr} AS c FROM (VALUES (7, -3, 'q::r')) t(x, y, s)"
    translated = sql_surface.translate_duckdb(sql, spark)
    duck_rows = _duckdb.connect().execute(sql).fetchall()
    spark_rows = [tuple(r) for r in spark.sql(translated).collect()]

    def canon(v):
        if isinstance(v, float):
            return f"{v:.10g}"
        return str(v)

    assert [canon(v) for r in duck_rows for v in r] == [
        canon(v) for r in spark_rows for v in r
    ], f"original: {sql}\ntranslated: {translated}"


# --- path-root restriction (r8 ADVICE: the HTTP query box must not
# --- be an arbitrary-file-read primitive) ----------------------------


def test_path_guard_default_unrestricted(spark, sf_dir):
    """Programmatic callers (dialect tools, tests) keep the old
    behavior: qualified-path tables work with no root list."""
    p = f"{sf_dir}/region.parquet"
    n = sql_surface.run_user_sql(spark, f"SELECT COUNT(*) AS n FROM parquet.`{p}`")
    assert n.collect()[0].n == 5


@pytest.mark.parametrize(
    "template",
    [
        "SELECT * FROM parquet.`{p}`",
        "SELECT * FROM PARQUET.`{p}`",
        "SELECT * FROM json.`{p}`",
        "SELECT * FROM read_parquet('{p}')",
        "SELECT * FROM read_parquet(['{p}'], union_by_name = true)",
    ],
)
def test_path_guard_empty_roots_rejects_all_paths(spark, sf_dir, template):
    """allowed_path_roots=[] (the /ui/sql setting) means registered
    views only — every file-backed reference form is rejected."""
    q = template.format(p=f"{sf_dir}/region.parquet")
    with pytest.raises(sql_surface.SqlGuardError, match="allowed directories"):
        sql_surface.run_user_sql(spark, q, dialect="duckdb", allowed_path_roots=[])


@pytest.mark.parametrize(
    "template",
    [
        # fully-qualified datasource class names resolve through
        # DataSource.lookupDataSource exactly like short names — the
        # original blacklist never matched them (live-verified bypass)
        "SELECT * FROM `org.apache.spark.sql.execution.datasources."
        "parquet.ParquetFileFormat`.`{p}`",
        "SELECT * FROM `org.apache.spark.sql.execution.datasources."
        "v2.text.TextDataSourceV2`.`{p}`",
        # backquoted short name dodges the \b word-boundary form
        "SELECT * FROM `parquet`.`{p}`",
        # relation buried in a subquery
        "SELECT 1 FROM region WHERE 1 IN (SELECT 1 FROM `parquet`.`{p}`)",
        # spark 4 ships an xml source; it was missing from the list
        "SELECT * FROM xml.`{p}`",
    ],
)
def test_path_guard_rejects_class_name_and_quoted_qualifiers(
    spark, sf_dir, template
):
    q = template.format(p=f"{sf_dir}/region.parquet")
    with pytest.raises(sql_surface.SqlGuardError, match="allowed directories"):
        sql_surface.run_user_sql(spark, q, allowed_path_roots=[])


@pytest.mark.parametrize(
    "template",
    [
        # r9 (ADVICE): relation in a comma-join list — Rule B's old
        # FROM/JOIN anchor never saw it
        "SELECT * FROM region, `parquet`.`{p}`",
        "SELECT * FROM region, `text`.`secrets`",
        # r9 (ADVICE): parenthesized relation
        "SELECT * FROM (`text`.`secrets`)",
        "SELECT * FROM ((`csv`.`secrets`))",
        # r9 (ADVICE): bare <format>.identifier — no backquotes at all,
        # reads ./somefile relative to the server cwd via runSQLOnFiles
        "SELECT * FROM parquet.somefile",
        "SELECT * FROM text.secrets",
        # bare-file with a class-name qualifier
        "SELECT * FROM `org.apache.spark.sql.execution.datasources."
        "parquet.ParquetFileFormat`.secrets",
        # comma-join after an explicit JOIN ... ON expression
        "SELECT * FROM region r JOIN nation n "
        "ON r.r_regionkey = n.n_regionkey, `text`.`secrets`",
    ],
)
def test_path_guard_rejects_relation_position_bypasses(sf_dir, template):
    """The r8 ADVICE bypass shapes: every relation-position spelling of
    a file-backed table must be rejected on the restricted surface,
    with or without backquotes, wherever the relation appears."""
    q = template.format(p=f"{sf_dir}/region.parquet")
    with pytest.raises(sql_surface.SqlGuardError, match="allowed directories"):
        sql_surface.validate_select_only(q, allowed_path_roots=[])


def test_path_guard_restores_run_sql_on_files(spark, views_only):
    """The views-only surface's defense in depth behind the textual
    guard is a property of its session: the child has runSQLOnFiles
    off and the parent's conf is never written. A session with the
    flag on is refused once the guard has passed."""
    import unittest.mock as mock

    parent_conf = spark.conf
    writes = []
    orig_set = type(parent_conf).set

    def recording_set(self, key, value):
        if self is parent_conf:
            writes.append((key, value))
        orig_set(self, key, value)

    with mock.patch.object(type(parent_conf), "set", recording_set):
        out = sql_surface.run_user_sql(
            views_only, "SELECT COUNT(*) AS n FROM region", allowed_path_roots=[]
        )
        assert out.collect()[0].n == 5
    assert writes == []
    assert views_only.conf.get("spark.sql.runSQLOnFiles") == "false"
    assert views_only.conf.get("spark.sql.session.timeZone") == spark.conf.get(
        "spark.sql.session.timeZone"
    )
    with pytest.raises(ValueError, match="runSQLOnFiles"):
        sql_surface.run_user_sql(spark, "SELECT COUNT(*) AS n FROM region", allowed_path_roots=[])


def test_path_guard_literal_containing_from_not_confused(views_only):
    """A string literal containing 'FROM x.y' is data, not a relation
    — masked before the scanner runs."""
    df = sql_surface.run_user_sql(
        views_only,
        "SELECT 'FROM parquet.somefile' AS s FROM region LIMIT 1",
        allowed_path_roots=[],
    )
    assert df.collect()[0].s == "FROM parquet.somefile"


def test_path_guard_leaves_qualified_columns_alone(views_only):
    """Backquoted table.column references in EXPRESSION position are
    not path references and must keep working under the restricted
    surface."""
    df = sql_surface.run_user_sql(
        views_only,
        "SELECT `r`.`r_name` FROM region r ORDER BY `r`.`r_regionkey` LIMIT 1",
        allowed_path_roots=[],
    )
    assert df.collect()[0][0] is not None


def test_path_guard_allows_inside_root_and_resolves_traversal(spark, sf_dir):
    p = f"{sf_dir}/region.parquet"
    df = sql_surface.run_user_sql(
        spark,
        f"SELECT COUNT(*) AS n FROM read_parquet('{p}')",
        dialect="duckdb",
        allowed_path_roots=[sf_dir],
    )
    assert df.collect()[0].n == 5
    # a path that STARTS under the root but realpath-resolves outside
    # it (.. traversal) must still be rejected
    sneaky = f"{sf_dir}/../../etc/passwd"
    with pytest.raises(sql_surface.SqlGuardError, match="allowed directories"):
        sql_surface.run_user_sql(
            spark,
            f"SELECT * FROM read_parquet('{sneaky}')",
            dialect="duckdb",
            allowed_path_roots=[sf_dir],
        )


def test_ui_run_query_is_views_only(views_only, sf_dir):
    """weather/ui.run_query (the /ui/sql handler body) refuses paths
    outright while registered-view queries still work."""
    from noaa_data_pipeline_spark.weather import ui

    out = ui.run_query(views_only, "SELECT COUNT(*) AS n FROM region")
    assert out["rows"][0]["n"] == 5
    with pytest.raises(sql_surface.SqlGuardError):
        ui.run_query(views_only, f"SELECT * FROM read_parquet('{sf_dir}/region.parquet')")
    with pytest.raises(sql_surface.SqlGuardError):
        ui.run_query(views_only, f"SELECT * FROM parquet.`{sf_dir}/region.parquet`")


def test_no_conf_writes_outside_views_only_session():
    """The UI surface and the weather package write no session conf;
    the one ``conf.set`` allowed is the new session's own setup in
    ``views_only_session``."""
    import ast
    import pathlib

    pkg = pathlib.Path(sql_surface.__file__).parent
    offenders = []
    for path in [pkg / "sql_surface.py", *sorted((pkg / "weather").glob("*.py"))]:
        tree = ast.parse(path.read_text())
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "views_only_session"
            for n in ast.walk(fn)
        }
        offenders += [
            f"{path.name}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
            and id(node) not in allowed
        ]
    assert offenders == []
