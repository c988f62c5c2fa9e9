"""Dashboard insight queries A1-A8 (SURVEY.md §2.6).

The reference serves these from a BI tool over the Postgres warehouse
(reference README.md:36-81); here they are Spark queries over the gold
tables produced by ``warehouse.build_warehouse``. Each takes the gold
dict so they compose with any warehouse state (fixture-built in tests,
full-scale in production). All are dimension-sized aggregations after
joins — bounded dims (game) carry a broadcast hint, population-scaled
dims (player, group) are left to AQE (a forced broadcast of a
population-sized table is a driver OOM at 100 TB). Catalyst plans
TakeOrderedAndProject for the top-k shapes, so no full sort
materializes at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bans_per_country(gold: dict[str, DataFrame]) -> DataFrame:
    """A1 (reference README.md:40): ban counts by player country."""
    return (
        gold["bans_fact"]
        .join(gold["player_dim"], "player_sk")  # population-scaled: AQE decides
        .groupBy("loc_country_code")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "loc_country_code")
    )


def modal_steam_level(gold: dict[str, DataFrame]) -> DataFrame:
    """A2 (reference README.md:42): most common steam level."""
    return (
        gold["badges_fact"]
        .select("player_sk", "steam_level")
        .distinct()
        .groupBy("steam_level")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "steam_level")
        .limit(1)
    )


def top_cheater_names(gold: dict[str, DataFrame], k: int = 3) -> DataFrame:
    """A3 (reference README.md:44-50): top-k persona names."""
    return (
        gold["player_dim"]
        .groupBy("persona_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "persona_name")
        .limit(k)
    )


def most_common_avatar(gold: dict[str, DataFrame]) -> DataFrame:
    """A4 (reference README.md:52)."""
    return (
        gold["player_dim"]
        .groupBy("avatar_hash")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "avatar_hash")
        .limit(1)
    )


def hours_to_ban_histogram(gold: dict[str, DataFrame], bucket_hours: int = 10) -> DataFrame:
    """A5 (reference README.md:54): playtime-at-ban bucketed histogram."""
    return (
        gold["game_playtime_fact"]
        .select(
            F.floor(F.col("playtime_windows_mins") / 60 / bucket_hours).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bucket")
    )


def top_owned_games(gold: dict[str, DataFrame], k: int = 3) -> DataFrame:
    """A6 (reference README.md:56-62)."""
    return (
        gold["game_playtime_fact"]
        .join(F.broadcast(gold["game_dim"]), "game_sk")
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "name")
        .limit(k)
    )


def top_groups(gold: dict[str, DataFrame], k: int = 3) -> DataFrame:
    """A7 (reference README.md:64-70)."""
    return (
        gold["groups_fact"]
        .join(gold["group_dim"], "group_sk")  # population-scaled: AQE decides
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "group_id")
        .limit(k)
    )


def profile_visibility_counts(gold: dict[str, DataFrame]) -> DataFrame:
    """A8 (reference README.md:74-80)."""
    return (
        gold["player_dim"]
        .groupBy("community_vis_state")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("community_vis_state")
    )


def bans_per_country_in_range(
    gold: dict[str, DataFrame], date_sk_lo: int, date_sk_hi: int
) -> DataFrame:
    """A1 restricted to a date_sk range — the incremental/dashboard
    shape. Over gold persisted by ``persist.GoldStore`` (facts
    partitioned by date_sk) the range lands in PartitionFilters and the
    scan reads only the touched dates; pinned by
    tests/test_skew_and_bucketing.py."""
    return (
        gold["bans_fact"]
        .filter(
            (F.col("date_sk") >= date_sk_lo) & (F.col("date_sk") <= date_sk_hi)
        )
        .join(gold["player_dim"], "player_sk")  # population-scaled: AQE decides
        .groupBy("loc_country_code")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "loc_country_code")
    )


INSIGHTS = {
    "a1_bans_per_country": bans_per_country,
    "a2_modal_steam_level": modal_steam_level,
    "a3_top_cheater_names": top_cheater_names,
    "a4_most_common_avatar": most_common_avatar,
    "a5_hours_to_ban_histogram": hours_to_ban_histogram,
    "a6_top_owned_games": top_owned_games,
    "a7_top_groups": top_groups,
    "a8_profile_visibility": profile_visibility_counts,
}
