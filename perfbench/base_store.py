"""Build the base warehouse for ``hourly_etl``: interval 0 of the
``bronze.BASE_SEED`` batch landed into an empty GoldStore.

    python3 perfbench/base_store.py <dir>

writes ``<dir>/bronze/0/*.json`` and ``<dir>/gold``. ``run.py`` starts it
as a child process with the benchmark's launch environment already set,
so the driver it measures afterwards starts cold.
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def source_digest() -> str:
    """Short digest of everything the base warehouse is built by: the
    generator, this script and the engine package. It names the cached
    base, so a change to any of them builds a new one rather than landing
    the timed interval on a store another version of the code wrote."""
    files = [os.path.join(HERE, "bronze.py"), os.path.join(HERE, "base_store.py")]
    engine = os.path.join(ROOT, "rustcheatersdatapipeline_spark")
    for d, dirs, names in os.walk(engine):
        dirs.sort()
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:12]


def main(out_dir: str) -> int:
    import bronze
    from workloads import stop_spark
    from rustcheatersdatapipeline_spark.backfill import run_interval_range
    from rustcheatersdatapipeline_spark.session import get_spark
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    bronze_dir = os.path.join(out_dir, "bronze", "0")
    bronze.BronzeGenerator(bronze.BASE_SEED).write_interval(0, bronze_dir)
    spark = get_spark(app_name="perfbench-base")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        end = bronze.interval_end(0)
        ran = run_interval_range(
            spark, GoldStore(spark, os.path.join(out_dir, "gold")),
            lambda _end: bronze_dir, end - bronze.STEP, end,
        )
        if len(ran) != 1 or not ran[0][1].succeeded:
            print(f"base interval failed: {ran}", file=sys.stderr)
            return 1
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
