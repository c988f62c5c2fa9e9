"""Deterministic hourly bronze generator for the ``hourly_etl`` workload.

Writes one directory per interval holding the 8 Steam endpoint families
(``{family}.json``, FIXTURES.md §A shapes, ``schemas.BRONZE_SCHEMAS``
fields). Each line of a file is one API response page:
``{"responses": [...]}`` with up to ``PAGE`` responses.

Every interval queries a sample of a fixed player population, so players
recur across intervals and the gold upserts hit existing keys. The
batches carry the drift cases the pipeline repairs: private profiles
with the inner array key absent, responses missing optional fields, an
empty achievement description, ``unlocktime``/``completion_time`` of 0,
and duplicate player ids inside one summaries batch.

The generator also records in ``expected`` the natural keys it wrote per
gold dim, so a caller can check that the warehouse holds each exactly
once.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random

FAMILIES = (
    "player_summaries",
    "player_friendlists",
    "player_bans",
    "player_subscribed_groups",
    "player_achievements",
    "player_stats",
    "player_owned_games",
    "player_steam_badges",
)

PAGE = 100
POPULATION = 450
#: players queried per interval: about 1.2 MB of bronze JSON, inside the
#: 1-5 MB an hour the reference handles (BASELINE.md)
PER_INTERVAL = 150
#: seed of interval 0, the batch the base warehouse is built from
BASE_SEED = 20240101
BASE_ID = 76561198000000000
#: Steam's launch and Rust's release (UTC epoch seconds): accounts are
#: created after the first, Rust achievements unlock after the second
STEAM_LAUNCH = 1063324800
RUST_RELEASE = 1386720000
#: friend-since, unlock and badge-completion times fall in this many days
#: before the interval end (see README.md, "Bronze history")
HISTORY_DAYS = 30
#: the first interval covers [START, START + STEP)
START = _dt.datetime(2024, 1, 1)
STEP = _dt.timedelta(hours=1)

#: the game catalog; "Rust" first: achievement and stats facts join to it
#: by name, and every player with a public library owns it
GAMES = [(252490, "Rust")] + [(730 + 10 * i, f"Game {i:03d}") for i in range(1, 60)]
STATS = [f"stat_{i:02d}" for i in range(40)]
RELATIONSHIPS = ["friend", "friend", "friend", "blocked"]
COUNTRIES = ["US", "DE", "BR", "RU", "CN", "GB", "FR", "PL", "SE", "CA"]


def _achievements() -> list[tuple[str, str, str]]:
    """(apiname, name, description); every seventh description is empty."""
    out = []
    for i in range(120):
        desc = "" if i % 7 == 0 else f"Do thing number {i}"
        out.append((f"ACH_{i:03d}", f"Achievement {i:03d}", desc))
    return out


ACHIEVEMENTS = _achievements()
#: (badgeid, appid or None, communityitemid or None, xp, level)
BADGES = [
    (
        i,
        None if i % 5 == 0 else GAMES[i % len(GAMES)][0],
        None if i % 5 == 0 else str(170000000000000 + i),
        25 * (1 + i % 8),
        1 + i % 5,
    )
    for i in range(1, 61)
]


def _epoch(t: _dt.datetime) -> int:
    return int(t.replace(tzinfo=_dt.timezone.utc).timestamp())


def interval_end(i: int) -> _dt.datetime:
    """End of interval ``i`` (naive UTC), the key the pipeline runs it by."""
    return START + (i + 1) * STEP


class BronzeGenerator:
    """Seeded generator of hourly bronze batches.

    ``POPULATION`` players exist; each interval queries ``PER_INTERVAL``
    of them. The same ``seed`` writes byte-identical files.
    """

    def __init__(self, seed: int):
        self.seed = seed
        self.expected: dict[str, set] = {
            name: set()
            for name in (
                "player_dim", "friend_dim", "group_dim", "game_dim",
                "stats_dim", "achievement_dim", "badges_dim", "relationship_dim",
            )
        }
        self.rows = 0
        self.bytes = 0

    def _player(self, rng: random.Random, idx: int) -> dict:
        """One stable profile per player; the interval rng only decides
        which optional fields this response carries."""
        prof = random.Random(self.seed * 1_000_003 + idx)
        p = {
            "steamid": str(BASE_ID + idx),
            "communityvisibilitystate": prof.choice([1, 3]),
            "profilestate": 1,
            "personaname": f"player_{idx}_{rng.randrange(4)}",
            "avatarhash": f"{prof.getrandbits(40):010x}",
            "personastate": rng.randrange(4),
            "timecreated": prof.randrange(STEAM_LAUNCH, _epoch(START) - 30 * 86_400),
        }
        if rng.random() < 0.6:
            p.update({
                "commentpermission": 1,
                "realname": f"Real Name {idx}",
                "primaryclanid": str(103582791429521412 + prof.randrange(500)),
                "loccountrycode": prof.choice(COUNTRIES),
                "locstatecode": f"S{prof.randrange(30)}",
                "loccityid": prof.randrange(10_000),
            })
        if rng.random() < 0.2:
            p["gameid"] = str(rng.choice(GAMES)[0])
        return p

    def interval(self, i: int) -> dict[str, list[dict]]:
        """Responses per family for interval ``i`` (no I/O)."""
        rng = random.Random(self.seed * 7919 + i)
        end = _epoch(interval_end(i))

        def since(start: int) -> int:
            """A time after ``start`` within the last ``HISTORY_DAYS``
            before the interval end."""
            return rng.randrange(max(start, end - HISTORY_DAYS * 86_400), end)

        ids = rng.sample(range(POPULATION), PER_INTERVAL)
        exp = self.expected
        out: dict[str, list[dict]] = {f: [] for f in FAMILIES}

        players = [self._player(rng, idx) for idx in ids]
        # duplicate ids inside one batch: re-listed profiles without a
        # current game (the reference dedups them on steam_id)
        for p in rng.sample(players, 3):
            dup = {k: v for k, v in p.items() if k != "gameid"}
            dup["personaname"] += "_dup"
            players.append(dup)
        exp["player_dim"].update(int(p["steamid"]) for p in players)
        # batched endpoints: one response lists every player of the batch
        out["player_summaries"] = [{"response": {"players": players}}]
        out["player_bans"] = [{"players": [
            {
                "SteamId": str(BASE_ID + idx),
                "CommunityBanned": rng.random() < 0.1,
                "VACBanned": rng.random() < 0.5,
                "NumberOfVACBans": rng.randrange(3),
                "DaysSinceLastBan": rng.randrange(2000),
                "NumberOfGameBans": rng.randrange(3),
                "EconomyBan": rng.choice(["none", "none", "probation", "banned"]),
            }
            for idx in ids
        ]}]

        # a fixed share of private profiles and fixed list lengths keep the
        # volume of every interval the same; the seed picks the contents
        private_ids = set(rng.sample(ids, len(ids) // 10))
        created = {int(p["steamid"]) - BASE_ID: p["timecreated"] for p in players}
        for idx in ids:
            q = str(BASE_ID + idx)
            private = idx in private_ids
            born = created[idx]
            # friends: other players and outsiders
            if private:
                out["player_friendlists"].append({"queried_steam_id": q})
            else:
                friends = []
                for f in rng.sample(range(20_000), 16):
                    rel = rng.choice(RELATIONSHIPS)
                    friends.append({
                        "steamid": str(BASE_ID + f),
                        "relationship": rel,
                        "friend_since": since(born),
                    })
                    exp["friend_dim"].add(BASE_ID + f)
                    exp["relationship_dim"].add(rel)
                out["player_friendlists"].append(
                    {"queried_steam_id": q, "friendslist": {"friends": friends}}
                )
            # groups
            gids = [] if private else rng.sample(range(3_000), 6)
            out["player_subscribed_groups"].append({
                "queried_steam_id": q,
                "response": {"groups": [{"gid": str(103582791429521412 + g)} for g in gids]}
                if gids else {},
            })
            exp["group_dim"].update(103582791429521412 + g for g in gids)
            # achievements
            if private:
                out["player_achievements"].append({"queried_steam_id": q})
            else:
                achs = []
                for k, (api, name, desc) in enumerate(rng.sample(ACHIEVEMENTS, 20)):
                    got = k < 14
                    achs.append({
                        "apiname": api,
                        "achieved": int(got),
                        "unlocktime": since(max(born, RUST_RELEASE)) if got else 0,
                        "name": name,
                        "description": desc,
                    })
                    exp["achievement_dim"].add((name, desc or name))
                out["player_achievements"].append({
                    "queried_steam_id": q,
                    "playerstats": {"gameName": "Rust", "achievements": achs},
                })
            # stats: the inner key is absent for private profiles
            stats = [] if private else [
                {"name": s, "value": round(rng.uniform(0, 5000), 1)}
                for s in rng.sample(STATS, 15)
            ]
            exp["stats_dim"].update(s["name"] for s in stats)
            out["player_stats"].append({
                "queried_steam_id": q,
                "playerstats": {"stats": stats} if stats else {},
            })
            # owned games: optional fields sometimes absent
            games = []
            owned = [] if private else [GAMES[0]] + rng.sample(GAMES[1:], 12)
            for appid, name in owned:
                total = rng.randrange(10_000)
                g = {
                    "appid": appid,
                    "name": name,
                    "playtime_windows_forever": total,
                    "playtime_mac_forever": 0,
                    "playtime_linux_forever": rng.randrange(50),
                    "playtime_forever": total,
                }
                if rng.random() < 0.7:
                    g["has_community_visible_stats"] = True
                    g["playtime_2weeks"] = rng.randrange(600)
                games.append(g)
                exp["game_dim"].add((appid, name))
            out["player_owned_games"].append({
                "queried_steam_id": q,
                "response": {"games": games} if games else {},
            })
            # badges: appid / communityitemid optional
            badges = []
            for bid, appid, item, xp, level in (
                [] if private else rng.sample(BADGES, 8)
            ):
                b = {
                    "badgeid": bid, "xp": xp, "level": level,
                    "completion_time": 0 if rng.random() < 0.1 else since(born),
                    "scarcity": rng.randrange(100, 100_000),
                }
                if appid is not None:
                    b["appid"] = appid
                    b["communityitemid"] = item
                badges.append(b)
                exp["badges_dim"].add(
                    (bid, appid if appid is not None else -1,
                     int(item) if item is not None else -1, xp, level)
                )
            out["player_steam_badges"].append({
                "queried_steam_id": q,
                "response": {"badges": badges, "player_level": rng.randrange(1, 200)}
                if badges else {},
            })
        # bronze records: players of the batched endpoints, responses of
        # the per-id ones
        self.rows += len(players) + 7 * len(ids)
        return out

    def write_interval(self, i: int, dirpath: str) -> None:
        """Write interval ``i`` as one JSONL file per family under
        ``dirpath``, ``PAGE`` responses per line."""
        os.makedirs(dirpath, exist_ok=True)
        for family, responses in self.interval(i).items():
            path = os.path.join(dirpath, f"{family}.json")
            with open(path, "w") as fh:
                for k in range(0, len(responses), PAGE):
                    page = {"responses": responses[k:k + PAGE]}
                    fh.write(json.dumps(page, separators=(",", ":")) + "\n")
            self.bytes += os.path.getsize(path)
