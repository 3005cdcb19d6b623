"""Ad-hoc SQL surface (SURVEY §3.3, M5).

The reference ships duckdb-wasm in the browser and runs arbitrary
user SQL over the two parquet tables (ui/main.js:112-141), with an
acknowledged TODO to restrict to SELECT (:130-131). Here: temp views
over the lake + ``spark.sql`` behind an actual SELECT-only guard,
plus the schema introspection the UI derives from Arrow metadata
(ui/main.js:143-159). Untrusted SQL runs in a
:func:`views_only_session`, which plays the part of the browser's own
DuckDB instance: its temp views and conf are its own, and it cannot
read files by path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

FORBIDDEN_KEYWORDS = {
    "insert", "update", "delete", "merge", "drop", "create", "alter",
    "truncate", "grant", "revoke", "set", "refresh", "cache", "uncache",
    "analyze", "msck", "load", "call",
}


class SqlGuardError(ValueError):
    pass


def _strip_comments(sql: str) -> str:
    import re

    sql = re.sub(r"--[^\n]*", " ", sql)
    sql = re.sub(r"/\*.*?\*/", " ", sql, flags=re.S)
    return sql


# Spark's qualified-path table syntax: FROM <format>.`/abs/path`.
# Any of these reads server-side files directly, bypassing the view
# registry — the restricted surface must see and police them all.
# The short-name list is NOT sufficient on its own: Spark's
# DataSource.lookupDataSource also resolves FULLY-QUALIFIED datasource
# class names, so ``FROM `org.apache.spark.sql.execution.datasources.
# parquet.ParquetFileFormat`.`/any/file``` reads the file while never
# matching a short name (found by review, reproduced live) — hence the
# structural rules in validate_select_only below.
_PATH_TABLE_FORMATS = r"parquet|json|csv|text|orc|avro|binaryfile|delta|textfile|xml"


# Tokens that open a relation position; a chain scanned right after
# one of these is a table reference, which Spark will happily resolve
# as <datasource>.`path` whenever it has two parts and the head looks
# like a datasource (ResolveSQLOnFile fires on ANY 2-part relation).
_RELATION_STARTERS = {"from", "join", "table"}
_SUBQUERY_STARTERS = {"select", "with", "values", "table"}
# Keywords that end a FROM clause's relation list, after which a
# top-level comma no longer introduces another relation.
_FROM_CLAUSE_ENDERS = {
    "where", "group", "order", "having", "limit", "union", "intersect",
    "except", "window", "qualify", "distribute", "cluster", "sort",
}


def _relation_chains(sql: str) -> list[list[str]]:
    """Every identifier chain appearing in RELATION position: after
    FROM/JOIN/TABLE, after a comma inside a FROM relation list
    (comma-join), and inside parenthesized relations — the three
    spots a keyword-anchored regex misses (r8 ADVICE: ``FROM region,
    `parquet`.`secrets``` and ``FROM (`text`.`secrets`)`` dodged the
    FROM/JOIN anchor). String literals must be masked by the caller.

    Token-level state machine, not a parser: commas re-open relation
    position only at the depth their FROM list opened at (so a
    subquery's SELECT-list commas don't flag qualified columns), and
    each paren pushes/restores that state (a ``(`` followed by a
    subquery starter begins a fresh scope; any other ``(`` in
    relation position is a parenthesized relation)."""
    import re

    toks = re.findall(r"`[^`]*`|[A-Za-z_][\w$]*|\d+(?:\.\d+)?|\S", sql)

    def word(t: str) -> str | None:
        return t.lower() if re.fullmatch(r"[A-Za-z_][\w$]*", t) else None

    chains: list[list[str]] = []
    expecting = False   # next identifier chain is a relation
    in_from_list = False
    from_depth = 0      # paren depth where the current FROM list opened
    depth = 0
    stack: list[tuple[bool, bool, int]] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        w = word(t)
        if t == "(":
            nxt = word(toks[i + 1]) if i + 1 < len(toks) else None
            stack.append((expecting, in_from_list, from_depth))
            depth += 1
            if expecting and nxt not in _SUBQUERY_STARTERS:
                from_depth = depth  # parenthesized relation (list)
                in_from_list = True
            else:
                expecting = False
                in_from_list = False
            i += 1
            continue
        if t == ")":
            depth -= 1
            if stack:
                expecting, in_from_list, from_depth = stack.pop()
            expecting = False
            i += 1
            continue
        if w in _RELATION_STARTERS:
            expecting = True
            if w == "from":
                in_from_list = True
                from_depth = depth
            i += 1
            continue
        if t == "," and in_from_list and depth == from_depth:
            expecting = True  # comma-join: next chain is a relation
            i += 1
            continue
        if w in _FROM_CLAUSE_ENDERS:
            in_from_list = False
            expecting = False
            i += 1
            continue
        if expecting and (t.startswith("`") or w is not None):
            chain = [t]
            i += 1
            while (
                i + 1 < len(toks)
                and toks[i] == "."
                and (toks[i + 1].startswith("`") or word(toks[i + 1]) is not None)
            ):
                chain.append(toks[i + 1])
                i += 2
            chains.append(chain)
            expecting = False
            continue
        i += 1
    return chains


def _path_allowed(path: str, roots: list[str]) -> bool:
    """True iff ``path`` resolves (symlinks and ``..`` included) to a
    file under one of ``roots``."""
    import os

    rp = os.path.realpath(path)
    for root in roots:
        rr = os.path.realpath(root)
        if rp == rr or rp.startswith(rr + os.sep):
            return True
    return False


def validate_select_only(sql: str, allowed_path_roots: list[str] | None = None) -> None:
    """Reject anything but a single SELECT/WITH query. Token-level
    check on the comment-stripped text: statement must start with
    SELECT/WITH/VALUES, contain no statement separator, and no DML/
    DDL keyword anywhere (conservative: a SELECT mentioning 'update'
    as a bare word is rejected rather than risk a bypass).

    ``allowed_path_roots`` (r8, ADVICE): when not None, the query may
    not read files outside those directory roots — every
    ``<format>.`path``` qualified-path table reference is resolved
    (realpath, so symlinks and ``..`` cannot escape) and checked.
    ``[]`` therefore restricts the query to registered views only.
    The default None keeps the programmatic surface unrestricted;
    HTTP-facing callers (the UI query box) MUST pass a root list,
    because a SELECT over ``parquet.`/any/file``` is otherwise an
    arbitrary-file-read primitive for any client that can reach the
    port."""
    import re

    cleaned = _strip_comments(sql).strip().rstrip(";").strip()
    if not cleaned:
        raise SqlGuardError("empty query")
    if ";" in cleaned:
        raise SqlGuardError("multiple statements are not allowed")
    first = re.split(r"\s+", cleaned, maxsplit=1)[0].lower()
    if first not in {"select", "with", "values", "table", "explain"}:
        raise SqlGuardError(f"only read queries are allowed (got '{first}')")
    tokens = set(re.findall(r"[a-zA-Z_]+", cleaned.lower()))
    hit = tokens & FORBIDDEN_KEYWORDS
    if hit:
        raise SqlGuardError(f"forbidden keyword(s): {sorted(hit)}")
    if allowed_path_roots is not None:
        def _reject_if_outside(path: str, ref: str) -> None:
            if not _path_allowed(path, allowed_path_roots):
                raise SqlGuardError(
                    f"path-backed table reference {ref} is outside the "
                    "allowed directories; query the registered views instead"
                )

        # Literals are masked first so a quoted string containing
        # 'FROM x.y' can neither trip the rules nor confuse the
        # relation scanner's comma/keyword tracking.
        masked, _lits = _mask_literals(cleaned)
        # Rule A: a known format short name qualifying a backquoted
        # path, anywhere in the statement.
        for m in re.finditer(
            rf"(?i)\b({_PATH_TABLE_FORMATS})\s*\.\s*`([^`]*)`", masked
        ):
            _reject_if_outside(m.group(2), f"{m.group(1)}.`{m.group(2)}`")
        # Rule B: ANY multi-part identifier chain in RELATION position
        # is treated as <datasource>.`path` — Spark's ResolveSQLOnFile
        # fires on any 2-part relation whose head resolves as a
        # datasource (short names AND fully-qualified class names), so
        # the qualifier spelling cannot be trusted. The token scanner
        # covers the positions a FROM/JOIN-anchored regex missed
        # (comma-joins, parenthesized relations, bare
        # ``FROM parquet.somefile`` — r8 ADVICE bypasses). Conservative
        # by design: `global_temp`.`v`-style and db-qualified view
        # references are rejected on this surface (use the bare view
        # name); backquoted table.column refs in EXPRESSION position
        # are untouched.
        for chain in _relation_chains(masked):
            if len(chain) >= 2:
                _reject_if_outside(chain[-1].strip("`"), ".".join(chain))
        # Rule C: any dot-qualified backquoted segment containing a
        # path separator, wherever it appears (expression-position
        # spots the relation scanner does not cover).
        for m in re.finditer(r"\.\s*`([^`]*[/\\][^`]*)`", masked):
            _reject_if_outside(m.group(1), f"`{m.group(1)}`")


def views_only_session(spark: SparkSession) -> SparkSession:
    """A session for untrusted SQL: ``spark.newSession()`` (its own SQL
    conf and temp views, the same SparkContext) with the parent's
    modifiable runtime SQL settings copied over, so zone and Arrow
    settings match, and ``spark.sql.runSQLOnFiles`` off. With that flag
    off Spark's analyzer cannot resolve ANY ``<datasource>.`path```
    relation, whatever spelling dodged the textual guard. Build it once
    and keep it: the flag is a property of the session, so no request
    writes a conf that another request is reading."""
    child = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            child.conf.set(key, value)
    child.conf.set("spark.sql.runSQLOnFiles", "false")
    return child


def run_user_sql(
    spark: SparkSession,
    sql: str,
    dialect: str = "spark",
    allowed_path_roots: list[str] | None = None,
) -> DataFrame:
    """Execute guarded ad-hoc SQL against the registered views.

    ``dialect="duckdb"`` accepts the reference UI's dialect
    (duckdb-wasm, ui/main.js:131-141) and translates the common
    idioms to Spark SQL first — see :func:`translate_duckdb`.

    ``allowed_path_roots`` restricts file-backed table references
    (``read_parquet`` in the DuckDB dialect, ``<format>.`path``` in
    Spark SQL) to the given directory roots — ``[]`` means registered
    views only, and then ``spark`` must be a
    :func:`views_only_session` (``ValueError`` otherwise, raised after
    the textual guard). Untrusted (HTTP) callers must pass it; see
    :func:`validate_select_only`."""
    if dialect == "duckdb":
        sql = translate_duckdb(sql, spark, allowed_path_roots=allowed_path_roots)
    validate_select_only(sql, allowed_path_roots=allowed_path_roots)
    if allowed_path_roots == [] and spark.conf.get("spark.sql.runSQLOnFiles") != "false":
        raise ValueError(
            "a views-only query needs a session with spark.sql.runSQLOnFiles "
            "off; build one with views_only_session"
        )
    return spark.sql(sql)


# --- DuckDB-dialect translation (SURVEY §3.3 dialect gap) -------------
#
# The reference's ad-hoc surface is duckdb-wasm, so users arrive with
# saved DuckDB SQL. The overlap with Spark SQL is large (the shipped
# example query, ui/main.js:52, runs unmodified); this layer maps the
# common divergent idioms and rejects the known-untranslatable ones
# with actionable guidance instead of an opaque parser error.

_DUCKDB_FUNC_RENAMES = {
    # DuckDB name -> Spark name (same argument shape AND result type)
    "epoch_ms": "unix_millis",
    "epoch_us": "unix_micros",
    "to_timestamp": "timestamp_seconds",  # seconds -> TIMESTAMP
    "list_contains": "array_contains",
    "regexp_matches": "rlike",
}

_DUCKDB_UNSUPPORTED = {
    "read_csv": "register the data as a view instead (tables.register_views)",
    "read_json": "register the data as a view instead",
    "unnest": "use LATERAL VIEW explode(...) or the explode() table function",
    "struct_pack": "use named_struct(name1, val1, ...)",
    "list_value": "use array(...)",
    "string_agg": "use array_join(collect_list(x), sep) (note: unordered)",
    "arg_max": "use max_by(x, y)",
    "arg_min": "use min_by(x, y)",
    # DuckDB len() is polymorphic (strings AND lists); Spark splits
    # the two, and a blind rename to length() breaks list arguments
    "len": "use length(x) for strings or size(x) for lists",
}

# C-style strftime codes -> Java datetime pattern (literal formats only)
_STRFTIME_CODES = {
    "%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%M": "mm", "%S": "ss", "%j": "DDD", "%y": "yy", "%%": "%",
}

def _mask_literals(sql: str) -> tuple[str, dict[str, str]]:
    """Replace every '...' string literal with an identifier-shaped
    placeholder so regex rewrites can never touch literal contents;
    returns (masked_sql, placeholder -> original literal)."""
    import re

    table: dict[str, str] = {}

    def repl(m: "re.Match[str]") -> str:
        key = f"__SQLLIT{len(table)}X__"
        table[key] = m.group(0)
        return key

    return re.sub(r"'(?:[^']|'')*'", repl, sql), table


def _translate_strftime_format(fmt: str) -> str:
    out = fmt
    for c_code, java in _STRFTIME_CODES.items():
        out = out.replace(c_code, java)
    return out


def _rewrite_call(code: str, name: str, template: str) -> str:
    """Replace every ``name(args)`` call (balanced parens) with
    ``template.format(args=...)``."""
    import re

    pat = re.compile(rf"\b{name}\s*\(", flags=re.I)
    while True:
        m = pat.search(code)
        if not m:
            return code
        depth, i = 1, m.end()
        while i < len(code) and depth:
            if code[i] == "(":
                depth += 1
            elif code[i] == ")":
                depth -= 1
            i += 1
        if depth:  # unbalanced: leave as-is for the SQL parser to report
            return code
        args = code[m.end() : i - 1]
        code = code[: m.start()] + template.format(args=args) + code[i:]


_SQL_KEYWORDS = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "IN", "ON", "BY", "THEN",
    "ELSE", "WHEN", "CASE", "VALUES", "FROM", "JOIN", "HAVING",
    "LIMIT", "OFFSET", "UNION", "ALL", "DISTINCT", "AS", "BETWEEN",
    "LIKE", "ILIKE", "IS", "RETURN", "END",
}


def _rewrite_list_literals(code: str) -> str:
    """DuckDB ``[a, b, ...]`` list literals -> Spark ``array(a, b,
    ...)``. A ``[`` is a literal only in EXPRESSION position (after
    an operator, comma, open paren, statement start, or a SQL
    keyword); after an identifier/``)``/``]`` it is a subscript and
    left for :func:`_rewrite_subscripts`."""
    i = 0
    while i < len(code):
        if code[i] != "[":
            i += 1
            continue
        j = i - 1
        while j >= 0 and code[j].isspace():
            j -= 1
        literal_pos = j < 0 or code[j] in "(,=<>+-*/%|"
        if not literal_pos and (code[j].isalnum() or code[j] == "_"):
            k = j
            while k >= 0 and (code[k].isalnum() or code[k] == "_"):
                k -= 1
            literal_pos = code[k + 1 : j + 1].upper() in _SQL_KEYWORDS
        if not literal_pos:
            i += 1
            continue
        depth, e = 1, i + 1
        while e < len(code) and depth:
            if code[e] == "[":
                depth += 1
            elif code[e] == "]":
                depth -= 1
            e += 1
        if depth:  # unbalanced: let the parser report it
            return code
        inner = _rewrite_list_literals(code[i + 1 : e - 1])
        code = code[:i] + "array(" + inner + ")" + code[e:]
        i += 1
    return code


def _rewrite_subscripts(code: str) -> str:
    """DuckDB integer list subscripts are 1-BASED while Spark's
    bracket indexing is 0-based — a blind pass-through is a silent
    off-by-one, so ``ident[n]`` becomes ``element_at(ident, n)``
    (1-based in Spark, negative-from-end in both). Non-integer
    subscripts (map keys) index identically and pass through.

    The second pass handles a subscript on a PARENTHESIZED operand —
    ``(expr)[n]``, a function call ``f(args)[n]``, and in particular
    the ``array(...)``  that :func:`_rewrite_list_literals` just
    produced from a DuckDB list literal, so ``[a, b][2]`` indexes
    1-based like DuckDB instead of silently hitting Spark's 0-based
    bracket (found by the differential fuzzer in
    tests/test_sql_surface.py: ``[0, x][1]`` returned x, and
    ``[x, x][2]`` threw out-of-bounds)."""
    import re

    code = re.sub(
        r"\b([A-Za-z_][\w.]*)\[(-?\d+)\]", r"element_at(\1, \2)", code
    )
    paren_sub = re.compile(r"\)\[(-?\d+)\]")
    ident = re.compile(r"[A-Za-z_0-9.]")
    prev = None
    while prev != code:
        prev = code
        m = paren_sub.search(code)
        if not m:
            break
        depth, i = 0, m.start()
        while i >= 0:
            if code[i] == ")":
                depth += 1
            elif code[i] == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
        if i < 0:  # unbalanced: let the parser report it
            break
        while i > 0 and ident.match(code[i - 1]):
            i -= 1
        expr = code[i : m.start() + 1]
        code = code[:i] + f"element_at({expr}, {m.group(1)})" + code[m.end():]
    return code


# DuckDB type names with no size-free Spark spelling: a bare VARCHAR
# parses in DuckDB but Spark demands VARCHAR(n) — map to the Spark
# equivalent (found by the differential fuzzer: (x)::VARCHAR).
_DUCKDB_TYPE_RENAMES = {
    "VARCHAR": "STRING",
    "TEXT": "STRING",
    "BLOB": "BINARY",
    "BYTEA": "BINARY",
}


def _spark_type(name: str) -> str:
    return _DUCKDB_TYPE_RENAMES.get(name.upper(), name)


def _rewrite_casts(code: str) -> str:
    """``expr::TYPE`` -> ``CAST(expr AS TYPE)``. Operand forms: an
    identifier/number/placeholder token, a balanced parenthesized
    expression, or a FUNCTION CALL ``f(args)::TYPE`` (the backward
    scan that finds the balanced opening paren keeps extending left
    over an adjacent identifier, so ``count(*)::DOUBLE`` captures
    ``count(*)``, not ``(*)``). Iterates so chained and nested casts
    resolve. Type names translate through _DUCKDB_TYPE_RENAMES."""
    import re

    simple = re.compile(
        r"([A-Za-z_][A-Za-z_0-9.]*|[0-9][0-9.]*)::([A-Za-z_]+(?:\(\d+(?:,\s*\d+)?\))?)"
    )
    ident = re.compile(r"[A-Za-z_0-9.]")
    prev = None
    while prev != code:
        prev = code
        m = re.search(r"\)::([A-Za-z_]+(?:\(\d+(?:,\s*\d+)?\))?)", code)
        if m:
            depth, i = 0, m.start()
            while i >= 0:
                if code[i] == ")":
                    depth += 1
                elif code[i] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                i -= 1
            if i >= 0:
                # include a function name directly left of the paren
                while i > 0 and ident.match(code[i - 1]):
                    i -= 1
                expr = code[i : m.start() + 1]
                code = (
                    code[:i]
                    + f"CAST({expr} AS {_spark_type(m.group(1))})"
                    + code[m.end():]
                )
                continue
        code = simple.sub(
            lambda m: f"CAST({m.group(1)} AS {_spark_type(m.group(2))})", code
        )
    return code


_RP_LIST = (
    r"(?i)\bread_parquet\s*\(\s*\[\s*(__SQLLIT\d+X__(?:\s*,\s*__SQLLIT\d+X__)*)"
    r"\s*\]\s*(?:,[^)]*)?\)"
)


def translate_duckdb(
    sql: str,
    spark: SparkSession | None = None,
    allowed_path_roots: list[str] | None = None,
) -> str:
    """Best-effort DuckDB -> Spark SQL translation of the common
    idioms; raises SqlGuardError with guidance for the known
    untranslatable ones. Covered: ``expr::TYPE`` casts (including
    function-call operands like ``count(*)::DOUBLE``), the
    ``epoch``/``epoch_ms``/``epoch_us`` family, single-path
    ``read_parquet('p')`` (-> ``parquet.`p```), LIST-path
    ``read_parquet(['a','b'], union_by_name = true)`` — the
    reference UI's own registration idiom (ui/main.js:112-123) —
    when a ``spark`` session is supplied (the paths become one
    mergeSchema temp view, Spark's by-name union, substituted into
    the query), ``strftime`` with a literal format (C codes -> Java
    pattern), and a rename table for aligned scalar functions.
    String literals are masked first so no rewrite can alter quoted
    data."""
    import hashlib
    import re

    masked, literals = _mask_literals(_strip_comments(sql))

    for fn, hint in _DUCKDB_UNSUPPORTED.items():
        if re.search(rf"\b{fn}\s*\(", masked, flags=re.I):
            raise SqlGuardError(f"unsupported DuckDB function {fn}(): {hint}")

    def _check_paths(paths: list[str]) -> None:
        # enforced HERE, before any view registration: registering a
        # mergeSchema view over an arbitrary path is already the read
        if allowed_path_roots is None:
            return
        for p in paths:
            if not _path_allowed(p, allowed_path_roots):
                raise SqlGuardError(
                    f"read_parquet path '{p}' is outside the allowed "
                    "directories; query the registered views instead"
                )

    def _rp_list(m: "re.Match[str]") -> str:
        paths = [literals[k][1:-1] for k in re.split(r"\s*,\s*", m.group(1))]
        _check_paths(paths)
        view = "read_parquet_" + hashlib.md5("|".join(paths).encode()).hexdigest()[:8]
        (
            spark.read.option("mergeSchema", "true")
            .parquet(*paths)
            .createOrReplaceTempView(view)
        )
        return view

    if re.search(r"\bread_parquet\s*\(\s*\[", masked, flags=re.I):
        if spark is None:
            raise SqlGuardError(
                "read_parquet with a path LIST needs a session to register "
                "the mergeSchema view — call run_user_sql(spark, sql, "
                "dialect='duckdb') (or register the files as one view "
                "yourself and query the view)"
            )
        masked = re.sub(_RP_LIST, _rp_list, masked)

    masked = _rewrite_list_literals(masked)
    masked = _rewrite_subscripts(masked)
    masked = _rewrite_casts(masked)
    for old, new in _DUCKDB_FUNC_RENAMES.items():
        masked = re.sub(rf"\b{old}\s*\(", f"{new}(", masked, flags=re.I)
    # epoch(ts) returns fractional-second DOUBLE in DuckDB;
    # unix_timestamp truncates, so wrap unix_micros instead
    masked = _rewrite_call(
        masked, "epoch", "(unix_micros({args}) / 1000000.0D)"
    )

    # read_parquet('path') -> parquet.`path` (single literal path)
    def _rp(m: "re.Match[str]") -> str:
        path = literals[m.group(1)][1:-1]
        _check_paths([path])
        return f"parquet.`{path}`"

    masked = re.sub(
        r"(?i)\bread_parquet\s*\(\s*(__SQLLIT\d+X__)\s*(?:,[^)]*)?\)", _rp, masked
    )

    # strftime(expr, '%Y-%m') -> date_format(expr, 'yyyy-MM') with a
    # balanced-paren scan so nested expressions (CAST(ts AS
    # TIMESTAMP), function calls) work as the first argument
    strf_pat = re.compile(r"(?i)\bstrftime\s*\(")
    while True:
        m = strf_pat.search(masked)
        if not m:
            break
        depth, i = 1, m.end()
        while i < len(masked) and depth:
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
            i += 1
        if depth:  # unbalanced: let the parser report it
            break
        args = masked[m.end() : i - 1]
        d, split = 0, -1
        for j, ch in enumerate(args):
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
            elif ch == "," and d == 0:
                split = j  # LAST top-level comma = the format arg
        fmt_tok = args[split + 1 :].strip() if split >= 0 else ""
        if split < 0 or not re.fullmatch(r"__SQLLIT\d+X__", fmt_tok):
            raise SqlGuardError(
                "strftime requires a literal format string "
                "('%Y-%m-%d'-style); use date_format(expr, 'java "
                "pattern') directly for computed formats"
            )
        fmt = literals[fmt_tok][1:-1]
        masked = (
            masked[: m.start()]
            + f"date_format({args[:split].strip()}, "
            + f"'{_translate_strftime_format(fmt)}')"
            + masked[i:]
        )

    for key, lit in literals.items():
        masked = masked.replace(key, lit)
    return masked


def table_schemas(spark: SparkSession, tables: list[str]) -> dict[str, list[dict[str, str]]]:
    """The UI's schema introspection: column name/type per view."""
    out: dict[str, list[dict[str, str]]] = {}
    for t in tables:
        out[t] = [
            {"column_name": f.name, "column_type": f.dataType.simpleString()}
            for f in spark.table(t).schema.fields
        ]
    return out
