"""Gold persistence round-trip through GoldStore + partition pruning on
date_sk."""

import pytest
import datetime

from rustcheatersdatapipeline_spark.pipeline import run_batch
from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

from .fixtures import write_fixtures


@pytest.mark.slow
def test_gold_round_trip_and_pruning(spark, tmp_path):
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    write_fixtures(bronze)
    res = run_batch(spark, str(bronze), datetime.datetime(2022, 1, 15, 12, 0, 0))
    assert res.succeeded

    store = GoldStore(spark, str(tmp_path / "gold"))
    store.publish(res.gold, base_version=0)
    back = store.read_all()
    assert set(back) == set(res.gold)
    for name in res.gold:
        a = sorted(map(tuple, res.gold[name].select(*sorted(res.gold[name].columns)).collect()))
        b = sorted(map(tuple, back[name].select(*sorted(res.gold[name].columns)).collect()))
        assert a == b, name

    # date_sk filter prunes partitions on a partitioned fact
    one_sk = res.gold["game_playtime_fact"].collect()[0]["date_sk"]
    scan = store.read("game_playtime_fact").filter(f"date_sk = {one_sk}")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "date_sk" in pf, plan  # filter landed in PartitionFilters, not a scan filter
