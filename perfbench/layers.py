"""Which public functions of the engine the traced run wraps, per layer.

Names are patched where their callers look them up: ``run_batch`` reads
``read_bronze``, ``validate_silver``, ``build_warehouse`` and the
transform tables from the ``pipeline`` module's globals, ``backfill``
binds ``run_batch`` and ``publish_with_retry`` in its own namespace, and
the training/retrieval plans bind ``cached``/``checkpointed`` by name.
The declared queries are traced by the workload itself (a ``plans.*``
span around build and collect), so they are not patched here.
"""

from __future__ import annotations

import os
import time

from spans import Tracer


def _tree_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def install(tracer: Tracer) -> None:
    from rustcheatersdatapipeline_spark import backfill, pipeline, plan_cache, session
    from rustcheatersdatapipeline_spark.plans import retrieval, training
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    counters = tracer.counters

    tracer.patch(session, "get_spark", "session")

    # plan_cache: a cached() call is a hit when it does not run its build
    def traced_cached(orig):
        def cached(spark, sf_dir, key, build, **kw):
            built = []

            def build_once():
                built.append(1)
                return build()

            span = tracer.open("plan_cache", f"cached:{key}")
            try:
                return orig(spark, sf_dir, key, build_once, **kw)
            finally:
                tracer.close(span)
                if span is not None:
                    counters["plan_cache.cached_calls"] += 1
                    counters["plan_cache.hits"] += not built

        return cached

    tracer.patch(training, "cached", "plan_cache", traced_cached)
    tracer.patch(training, "checkpointed", "plan_cache")
    tracer.patch(retrieval, "checkpointed", "plan_cache")
    tracer.patch(plan_cache, "release", "plan_cache")

    # pipeline and transforms: looked up in pipeline's globals by run_batch
    tracer.patch(backfill, "run_batch", "pipeline")
    tracer.patch(pipeline, "read_bronze", "pipeline")
    tracer.patch(pipeline, "validate_silver", "pipeline")
    for table in ("DIM_TRANSFORMS", "FACT_TRANSFORMS"):
        tracer.patch(pipeline, table, "transforms", lambda orig: {
            name: (tracer.wrap("transforms", fn, name), src)
            for name, (fn, src) in orig.items()
        })

    tracer.patch(pipeline, "build_warehouse", "warehouse.loads")

    # persist: publish also records the files and bytes it adds to the store
    def traced_publish(orig):
        def publish(self, *args, **kwargs):
            if not tracer.enabled:
                return orig(self, *args, **kwargs)
            t = time.perf_counter()
            f0, b0 = _tree_stats(self.path)
            tracer.overhead_s += time.perf_counter() - t
            span = tracer.open("warehouse.persist", "publish")
            try:
                return orig(self, *args, **kwargs)
            finally:
                tracer.close(span)
                t = time.perf_counter()
                f1, b1 = _tree_stats(self.path)
                counters["warehouse.persist.publish_attempts"] += 1
                counters["warehouse.persist.files_written"] += max(f1 - f0, 0)
                counters["warehouse.persist.bytes_written_mb"] += max(b1 - b0, 0) / 1e6
                tracer.overhead_s += time.perf_counter() - t

        return publish

    tracer.patch(GoldStore, "publish", "warehouse.persist", traced_publish)
    tracer.patch(GoldStore, "read_all", "warehouse.persist")
    tracer.patch(backfill, "publish_with_retry", "warehouse.persist")
    tracer.patch(backfill, "run_interval_range", "backfill")
