"""Browser UI parity (reference crates/oracle/ui/index.html +
ui/main.js, served from startup.rs:133).

The reference ships a static page that (1) lists the day's exchanged
parquet files (GET /files), (2) downloads each one and registers the
group as a table inside an in-browser duckdb-wasm instance via the
verbatim statement ``CREATE TABLE <name> AS SELECT * FROM
read_parquet(['u1','u2'], union_by_name = true);`` (ui/main.js:112-123),
(3) shows each table's schema, and (4) runs an ad-hoc query box whose
shipped example is ``SELECT * FROM observations ORDER BY station_id,
generated_at DESC LIMIT 200`` (ui/main.js:52).

Here the engine IS the SQL backend, so the page drives three small
JSON endpoints instead of a wasm build, all on the app's one
``sql_surface.views_only_session`` (the counterpart of the page's own
DuckDB instance): POST /ui/bootstrap resolves the exchanged file names
server-side and registers each group as a temp view with a
``mergeSchema`` read (Spark's ``union_by_name``), GET /ui/schema
mirrors the loadSchema pass, and POST /ui/sql is the query box —
guarded SELECT-only, views only, DuckDB dialect accepted
(sql_surface.run_user_sql).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .. import sql_surface
from .schemas import collect_utc

# Row cap for the query box: the reference UI renders whatever the
# wasm query returns into the DOM; a server shim needs a bound.
UI_MAX_ROWS = 1000

INDEX_HTML = """<!DOCTYPE html>
<html lang="en">
<head>
<meta charset="UTF-8">
<title>NOAA Forecast and Observation Data Analyzer</title>
<style>
 body { font-family: sans-serif; margin: 2rem; }
 textarea { width: 100%; height: 6rem; font-family: monospace; }
 table { border-collapse: collapse; margin-top: 1rem; }
 td, th { border: 1px solid #999; padding: 2px 8px; font-size: 0.85rem; }
 .error { color: #b00; white-space: pre-wrap; }
</style>
</head>
<body>
<h1>NOAA Forecast and Observation Data Analyzer</h1>
<p>
 <label>Start <input id="start" type="datetime" value=""></label>
 <label>End <input id="end" type="datetime" value=""></label>
 <label><input id="forecasts" type="checkbox" checked> forecasts</label>
 <label><input id="observations" type="checkbox" checked> observations</label>
 <button id="load" onclick="bootstrap()">Load files</button>
</p>
<div id="schemas"></div>
<p>
<textarea id="customQuery">SELECT * FROM observations ORDER BY station_id, generated_at DESC LIMIT 200</textarea>
<button id="run" onclick="runQuery()">Run query</button>
</p>
<div id="queryErr" class="error"></div>
<div id="queryResult"></div>
<script>
async function bootstrap() {
  const qs = new URLSearchParams({
    start: document.getElementById('start').value,
    end: document.getElementById('end').value,
    forecasts: document.getElementById('forecasts').checked,
    observations: document.getElementById('observations').checked,
  });
  const names = (await (await fetch('/files?' + qs)).json()).file_names;
  const res = await (await fetch('/ui/bootstrap', {
    method: 'POST', headers: {'Content-Type': 'application/json'},
    body: JSON.stringify({file_names: names}),
  })).json();
  const div = document.getElementById('schemas');
  div.innerHTML = '';
  for (const [table, cols] of Object.entries(res.schemas || {})) {
    div.innerHTML += '<h3>' + table + '</h3>' + renderTable(cols);
  }
}
async function runQuery() {
  const resp = await fetch('/ui/sql', {
    method: 'POST', headers: {'Content-Type': 'application/json'},
    body: JSON.stringify({sql: document.getElementById('customQuery').value}),
  });
  const body = await resp.json();
  document.getElementById('queryErr').textContent = resp.ok ? '' : (body.error || 'query failed');
  document.getElementById('queryResult').innerHTML = resp.ok ? renderTable(body.rows) : '';
}
function esc(v) {
  // data values travel through the exchange from other parties —
  // escape before innerHTML or a string cell becomes stored XSS
  return String(v).replace(/&/g, '&amp;').replace(/</g, '&lt;')
    .replace(/>/g, '&gt;').replace(/"/g, '&quot;');
}
function renderTable(rows) {
  if (!rows || !rows.length) return '<p>(no rows)</p>';
  const cols = Object.keys(rows[0]);
  let h = '<table><tr>' + cols.map(c => '<th>' + esc(c) + '</th>').join('') + '</tr>';
  for (const r of rows)
    h += '<tr>' + cols.map(c => '<td>' + esc(r[c]) + '</td>').join('') + '</tr>';
  return h + '</table>';
}
</script>
</body>
</html>
"""


_ALIAS_DIR: list[str] = []


def _alias_dir() -> str:
    import atexit
    import shutil
    import tempfile

    if not _ALIAS_DIR:
        _ALIAS_DIR.append(tempfile.mkdtemp(prefix="ui_bootstrap_"))
        atexit.register(shutil.rmtree, _ALIAS_DIR[0], ignore_errors=True)
    return _ALIAS_DIR[0]


def bootstrap_tables(
    spark: SparkSession, named_paths: list[tuple[str, str]]
) -> dict[str, list[dict[str, str]]]:
    """Server-side twin of ui/main.js loadFiles: split the exchanged
    files into the observations and forecasts groups by name and
    register each group as a temp view of ``spark``, read as the
    reference's ``read_parquet([...], union_by_name = true)`` reads it
    (ui/main.js:112-123). Returns {table: schema-rows} exactly like the
    loadSchema pass."""
    import os

    groups: dict[str, list[str]] = {"observations": [], "forecasts": []}
    for name, path in named_paths:
        if ":" in os.path.basename(path):
            # the exchange keeps the reference's RFC3339 filenames
            # (file_access.rs), but Hadoop's Path parses ':' as a URI
            # scheme separator — serve Spark a colon-free symlink
            # from ONE process-lifetime alias dir (a per-request
            # mkdtemp would leak a directory per bootstrap click)
            alias = os.path.join(
                _alias_dir(), os.path.basename(path).replace(":", "-")
            )
            if os.path.islink(alias):
                if os.readlink(alias) != path:
                    os.remove(alias)
                    os.symlink(path, alias)
            else:
                os.symlink(path, alias)
            path = alias
        key = "observations" if "observations" in name else "forecasts"
        groups[key].append(path)
    registered: list[str] = []
    for table, paths in groups.items():
        if paths:
            spark.read.option("mergeSchema", "true").parquet(*paths).createOrReplaceTempView(table)
            registered.append(table)
    return sql_surface.table_schemas(spark, registered)


def run_query(spark: SparkSession, sql: str) -> dict:
    """The query box: guarded, DuckDB dialect accepted, row-capped.

    Registered views ONLY (``allowed_path_roots=[]``, r8 ADVICE): the
    reference page's query box runs in-browser over files the client
    already downloaded, so a server-side twin that accepted
    ``read_parquet('/any/path')`` or ``parquet.`/any/path``` would be
    a NEW arbitrary-file-read primitive for any HTTP client — the
    /ui/bootstrap route registers the exchange files as views, and
    the box queries those. ``spark`` is therefore a
    ``sql_surface.views_only_session``. Rows are collected with
    ``collect_utc``, so TIMESTAMPs, nested ones included, come back as
    UTC whatever the process zone."""
    df = sql_surface.run_user_sql(spark, sql, dialect="duckdb", allowed_path_roots=[])
    rows = [r.asDict(recursive=True) for r in collect_utc(df.limit(UI_MAX_ROWS))]
    return {"columns": df.columns, "rows": rows, "row_cap": UI_MAX_ROWS}
