"""External-readable exports of GoldStore snapshots.

GoldStore's ``_manifest.json`` is the store's own commit log — no other
engine understands it, so a BI user cannot point DuckDB/Trino/pandas at
a gold table (the reference's terminal store is Postgres exactly so
external tools can query it: dags/custom_operators/LoadDimsOperator.py
:16-28 stages CSV and upserts with ON CONFLICT,
dags/scripts/sql_queries.py:11-31). This module closes that gap three
ways, ordered by cost:

- ``export_file_list``: **zero-copy**. The exact parquet files of a
  snapshot, as a public JSON manifest any engine can feed to
  ``read_parquet([...])``. O(metadata); valid while the snapshot's dirs
  are retained (same lifetime contract as ``read_at``).
- ``export_snapshot``: **materialized**. One clean parquet dir per
  table under ``dest/`` plus ``_export_manifest.json`` — a
  self-contained handoff that survives vacuum and store deletion. Cost
  ∝ exported bytes, so at 100 TB you export the tables you hand off,
  not the store.
- ``write_upsert_script``: **reference-parity warehouse load**. CSV
  staging files plus an ANSI SQL script (CREATE TABLE + temp staging +
  ``INSERT .. ON CONFLICT DO UPDATE``) — byte-for-byte the reference's
  load shape, executable against Postgres or DuckDB. Idempotent by
  construction: re-running the script converges (the ON CONFLICT arm
  makes replays latest-wins, matching sql_queries.py:95-101).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame

#: public manifest format tag — readers should refuse unknown majors
EXPORT_FORMAT = "parquet-export/1"


def _spark_to_sql_type(t: dict | str) -> str:
    """ANSI SQL type for a Spark schema JSON type (primitives only —
    the upsert script targets relational stores, which is also the
    reference's constraint: every warehouse column is scalar)."""
    mapping = {
        "byte": "SMALLINT",
        "short": "SMALLINT",
        "integer": "INTEGER",
        "long": "BIGINT",
        "float": "REAL",
        "double": "DOUBLE PRECISION",
        "string": "VARCHAR",
        "boolean": "BOOLEAN",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP",
        "binary": "BLOB",
    }
    if isinstance(t, str):
        if t in mapping:
            return mapping[t]
        if t.startswith("decimal"):
            return t.upper()
        raise ValueError(f"no ANSI mapping for Spark type {t!r}")
    raise ValueError(f"nested type {t.get('type')!r} has no relational mapping")


def export_file_list(store, name: str, version: int | None = None) -> dict:
    """Zero-copy export: the snapshot's exact parquet file paths in a
    public JSON shape. Raises for tables with outstanding deletion
    vectors — their raw files contain dead rows an external reader
    cannot mask; ``export_snapshot`` (or ``optimize``) first."""
    manifest = (
        store.current_manifest() if version is None else store.manifest_at(version)
    )
    entry = manifest["tables"][name]
    files = store._files(name, entry)
    if any(f.get("dv") for f in files):
        raise ValueError(
            f"{name}: snapshot has outstanding deletion vectors — raw files "
            "contain dead rows; materialize via export_snapshot (or run "
            "optimize) instead"
        )
    return {
        "format": EXPORT_FORMAT,
        "zero_copy": True,
        "table": name,
        "source_version": int(manifest["version"]),
        "rows": int(entry["rows"]),
        "schema": entry["schema"],
        "files": [os.path.join(store.path, f["path"]) for f in files],
    }


def export_snapshot(
    store,
    dest: str,
    tables: list[str] | None = None,
    version: int | None = None,
) -> dict:
    """Materialize a snapshot as plain parquet dirs + a public manifest.

    ``dest/<table>/*.parquet`` is readable by ANY parquet reader with no
    knowledge of GoldStore: deletion vectors are applied, multi-dir
    append entries are folded, and the manifest-recorded union schema is
    resolved — what lands is exactly what ``store.read`` serves.
    ``dest/_export_manifest.json`` records row counts and schemas so a
    receiver can audit the handoff without trusting the wire."""
    manifest = (
        store.current_manifest() if version is None else store.manifest_at(version)
    )
    names = list(manifest["tables"]) if tables is None else list(tables)
    missing = [n for n in names if n not in manifest["tables"]]
    if missing:
        raise KeyError(f"export: {missing} not in v{manifest['version']}")
    os.makedirs(dest, exist_ok=True)
    out_tables: dict[str, dict] = {}
    for n in names:
        df = store._read_entry(n, manifest["tables"][n])
        target = os.path.join(dest, n)
        df.write.mode("error").parquet(target)
        back = store.spark.read.parquet(target)
        out_tables[n] = {
            "path": n,
            "rows": back.count(),
            "schema": back.schema.jsonValue(),
        }
    doc = {
        "format": EXPORT_FORMAT,
        "zero_copy": False,
        "source_version": int(manifest["version"]),
        "exported_at_unix": time.time(),
        "tables": out_tables,
    }
    tmp = os.path.join(dest, "_export_manifest.json.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=2)
    os.replace(tmp, os.path.join(dest, "_export_manifest.json"))
    return doc


def read_export_manifest(dest: str) -> dict:
    with open(os.path.join(dest, "_export_manifest.json"), encoding="utf-8") as f:
        doc = json.load(f)
    if doc.get("format") != EXPORT_FORMAT:
        raise ValueError(f"unknown export format {doc.get('format')!r}")
    return doc


def write_upsert_script(
    df: DataFrame,
    dest: str,
    table: str,
    key_cols: list[str],
    update_cols: list[str] | None = None,
    constraints: dict | None = None,
) -> tuple[str, str]:
    """Reference-parity relational load: CSV staging + ON CONFLICT SQL.

    Writes ``dest/<table>.csv`` (header row, coalesced to one file —
    this path targets DIMENSION-sized tables, the same tables the
    reference round-trips through CSV) and ``dest/<table>_upsert.sql``:

    1. ``CREATE TABLE IF NOT EXISTS`` with a PRIMARY KEY on
       ``key_cols`` (the conflict arbiter);
    2. a TEMP staging table + ``COPY`` of the CSV (the reference's
       stage step, LoadDimsOperator.py:16-24);
    3. ``INSERT ... SELECT ... ON CONFLICT (keys) DO UPDATE SET`` over
       ``update_cols`` (default: every non-key column), matching
       sql_queries.py:95-101's latest-wins arm. ``DO NOTHING`` when no
       update columns remain (pure insert-if-absent dims).

    ``constraints`` (the ``GoldStore.declare_constraints`` shape)
    emits the declared NOT NULL columns, table CHECK clauses, and
    FOREIGN KEY references into the CREATE TABLE — the reference's
    warehouse DDL (data_warehouse.sql) regenerated from the manifest.
    Scripts referencing other tables must run after their referents,
    the reference's dims-then-facts order.

    Returns ``(csv_path, sql_path)``. The script is ANSI enough to run
    unmodified on Postgres and DuckDB; the round-trip test executes it
    on DuckDB twice and checks convergence."""
    fields = df.schema.jsonValue()["fields"]
    cols = [f["name"] for f in fields]
    bad = [k for k in key_cols if k not in cols]
    if bad:
        raise ValueError(f"key columns {bad} not in frame columns {cols}")
    if update_cols is None:
        update_cols = [c for c in cols if c not in key_cols]
    cons = constraints or {}
    not_null = set(cons.get("not_null") or [])
    # validate the relational mapping BEFORE any write: a nested column
    # must fail here with a clear message, not inside the CSV writer
    col_defs = ",\n  ".join(
        f"{f['name']} {_spark_to_sql_type(f['type'])}"
        + (" NOT NULL" if f["name"] in not_null else "")
        for f in fields
    )
    table_cons = [f"CHECK ({c})" for c in cons.get("check") or []]
    for fk in cons.get("foreign_keys") or []:
        fcols = ", ".join(fk["columns"])
        rcols = ", ".join(fk.get("ref_columns") or fk["columns"])
        table_cons.append(
            f"FOREIGN KEY ({fcols}) REFERENCES {fk['ref_table']} ({rcols})"
        )
    os.makedirs(dest, exist_ok=True)
    csv_dir = os.path.join(dest, f"_{table}_csv")
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .option("nullValue", "")
        .csv(csv_dir)
    )
    import glob as _glob

    part = _glob.glob(os.path.join(csv_dir, "part-*.csv"))
    if len(part) != 1:
        raise RuntimeError(f"expected one CSV part file, found {part}")
    csv_path = os.path.join(dest, f"{table}.csv")
    os.replace(part[0], csv_path)
    collist = ", ".join(cols)
    keylist = ", ".join(key_cols)
    extra_cons = "".join(f",\n  {c}" for c in table_cons)
    if update_cols:
        conflict = "DO UPDATE SET " + ", ".join(
            f"{c} = excluded.{c}" for c in update_cols
        )
    else:
        conflict = "DO NOTHING"
    sql = f"""-- generated by rustcheatersdatapipeline_spark.warehouse.export
-- staging + upsert load for {table!r} (reference shape:
-- LoadDimsOperator.py:16-28, sql_queries.py:95-101)
CREATE TABLE IF NOT EXISTS {table} (
  {col_defs},
  PRIMARY KEY ({keylist}){extra_cons}
);
CREATE TEMPORARY TABLE {table}_staging (
  {col_defs}
);
COPY {table}_staging FROM '{csv_path}' (FORMAT csv, HEADER true);
INSERT INTO {table} ({collist})
SELECT {collist} FROM {table}_staging
ON CONFLICT ({keylist}) {conflict};
DROP TABLE {table}_staging;
"""
    sql_path = os.path.join(dest, f"{table}_upsert.sql")
    with open(sql_path, "w", encoding="utf-8") as f:
        f.write(sql)
    return csv_path, sql_path


def _split_sql_statements(text: str) -> list[str]:
    """Split a generated script into statements on top-level ``;`` —
    quote-aware (single quotes with ``''`` escapes, the only string
    syntax the generator emits) so a quoted CSV path or CHECK literal
    never splits. Line comments stay attached to their statement."""
    stmts: list[str] = []
    buf: list[str] = []
    in_str = False
    i = 0
    while i < len(text):
        ch = text[i]
        if in_str:
            buf.append(ch)
            if ch == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    buf.append("'")
                    i += 1
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
            buf.append(ch)
        elif ch == ";":
            s = "".join(buf).strip()
            if s:
                stmts.append(s)
            buf = []
        else:
            buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    # a trailing fragment that is only comments/whitespace is not a
    # statement
    if tail and any(
        line.strip() and not line.strip().startswith("--")
        for line in tail.splitlines()
    ):
        stmts.append(tail)
    return stmts


def apply_upsert_script(sql_path: str, conn) -> int:
    """Execute a generated upsert script against any DB-API connection —
    the live half of the reference's warehouse load (LoadDimsOperator
    runs the same staged-CSV + ON CONFLICT SQL through a Postgres hook).
    ``conn`` is a psycopg2/duckdb/any PEP 249 connection; statements run
    in script order on one cursor and the transaction commits at the end
    when the driver exposes ``commit`` (DuckDB autocommits; Postgres
    gets the reference's all-or-nothing load). Returns the number of
    statements executed. Idempotent whenever the script is (the
    generator's ON CONFLICT arms), so a retry after a mid-script crash
    simply re-runs it."""
    with open(sql_path, encoding="utf-8") as f:
        text = f.read()
    cur = conn.cursor() if hasattr(conn, "cursor") else conn
    n = 0
    for stmt in _split_sql_statements(text):
        cur.execute(stmt)
        n += 1
    if hasattr(conn, "commit"):
        conn.commit()
    return n


def export_upsert_script_from_store(
    store,
    name: str,
    dest: str,
    key_cols: list[str] | None = None,
    update_cols: list[str] | None = None,
) -> tuple[str, str]:
    """Store-aware export: the table's rows, its declared PRIMARY KEY
    as the conflict arbiter, and its declared constraints regenerated
    as DDL — the manifest is the single source of truth for the
    relational contract (reference: data_warehouse.sql + the
    LoadDimsOperator staging load, produced from one call here)."""
    cons = store.constraints(name)
    if key_cols is None:
        key_cols = list(cons.get("primary_key") or [])
        if not key_cols:
            raise ValueError(
                f"table {name!r} declares no primary_key constraint — "
                "pass key_cols explicitly"
            )
    return write_upsert_script(
        store.read(name), dest, name, list(key_cols), update_cols,
        constraints=cons,
    )
