"""Output checks, run outside the timed phase.

Query results are compared with DuckDB running each query's
``ORACLE_SQL`` entry over the same parquet tables: same column names,
same row count, and the same multiset of rows after normalising each
cell with ``tests.helpers._normalize``, the rules of the repo's oracle
tests (exact doubles through ``repr``, timestamps as naive ISO strings).
"""

from __future__ import annotations

import hashlib
import json
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _plain(v):
    """numpy arrays and scalars as Python lists and numbers, which
    ``tests.helpers`` normalises."""
    return v.tolist() if hasattr(v, "tolist") else v


def fingerprint(pdf) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, hash of the rows as the repo's
    oracle tests normalise and order them)."""
    from tests.helpers import _normalize

    rows = _normalize(pdf.map(_plain))
    digest = hashlib.sha256("\n".join(map(repr, rows)).encode()).hexdigest()
    return tuple(sorted(pdf.columns)), len(rows), digest


def answers(sf_dir: str, sql: dict[str, str], cache_dir: str) -> dict[str, tuple]:
    """DuckDB fingerprint of every query in ``sql`` over the tables in
    ``sf_dir``. The tables are generated from a fixed seed, so the answers
    are cached in ``cache_dir`` keyed by a digest of the tables, the SQL
    text and the normalisation code."""
    import duckdb

    import tests.helpers

    h = hashlib.sha256()
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in TABLES]
    for path in paths + [__file__, tests.helpers.__file__]:
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(json.dumps(sql, sort_keys=True).encode())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return {k: (tuple(c), n, d) for k, (c, n, d) in json.load(fh).items()}
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {name: fingerprint(con.execute(q).df()) for name, q in sql.items()}
    finally:
        con.close()
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out
