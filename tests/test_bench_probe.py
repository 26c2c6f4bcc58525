"""The bench shuffle-byte probe must keep working across Spark upgrades —
it reads internal AppStatusStore APIs via py4j, which have changed
signature before (stageList grew parameters in Spark 4)."""


def test_shuffle_probe_monotone_and_nonnull(spark):
    from npc_recommender_netflix_spark.metrics import (
        drain_listeners,
        shuffle_written,
    )

    before = shuffle_written(spark)
    assert before is not None, "probe returned None: AppStatusStore API drift"
    spark.range(0, 200_000).selectExpr("id % 13 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").count()
    drain_listeners(spark)
    after = shuffle_written(spark)
    assert after is not None
    assert after > before, "groupBy must add shuffle-write bytes"
