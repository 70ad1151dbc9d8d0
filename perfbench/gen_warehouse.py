"""Seeded staged extracts for the six warehouse pipelines, plus a 1% delta.

The shapes follow the pipelines' transform inputs (see
``survivor_processing_spark/pipelines``): 46 seasons x 14 episodes,
about a thousand contestant attempts, the four episode-stats frames,
confessionals, and reddit submissions and comments, which hold most of
the rows.  Every frame is written as one parquet file; the same seed
gives byte-identical files.

No frame holds two rows with the same warehouse conflict key after its
transform, so no expected result depends on the sink's tiebreak.  The
delta changes non-key values on about 1% of each frame's keys and adds
about 0.5% new keys to the fact frames that can take new keys
(confessional, reddit).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_SEASONS = 46
EPISODES_PER_SEASON = 14
ATTEMPTS_PER_SEASON = 24
RETURNEES_PER_SEASON = 4
N_SUBMISSIONS = 1_600
N_COMMENTS = 16_000
DELTA_CHANGE_FRAC = 0.01
DELTA_NEW_FRAC = 0.005

_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
_SYL = ["ka", "lo", "mi", "ra", "te", "no", "su", "vi", "da", "ze", "po", "an",
        "el", "or", "ub", "in", "ja", "qu", "fe", "hy"]
_WORDS = ["tribe", "vote", "idol", "camp", "fire", "rain", "merge", "jury",
          "blind", "side", "trust", "plan", "rice", "beach", "reward", "win",
          "lose", "strategy", "alliance", "final", "three", "numbers", "swing"]
_EPOCH = dt.datetime(1970, 1, 1)
_FIRST_AIR = dt.datetime(2000, 5, 31, 20, 0, 0)

STR_LIST = pa.list_(pa.string())
QUOTE_MAP = pa.map_(pa.string(), STR_LIST)

SCHEMAS: dict[str, pa.Schema] = {
    "season": pa.schema([
        ("season_id", pa.int64()), ("name", pa.string()),
        ("air_dates", pa.string()), ("season", pa.string()),
        ("days", pa.string()), ("episodes", pa.string()),
        ("winner", STR_LIST), ("runnerup", STR_LIST),
    ]),
    "episodes": pa.schema([
        ("episode_id", pa.int64()), ("season", pa.int64()),
        ("title", pa.string()), ("firstbroadcast", pa.string()),
        ("share_txt", pa.string()), ("viewership_txt", pa.string()),
        ("number_txt", pa.string()),
        ("voting_confessionals", QUOTE_MAP), ("final_words", QUOTE_MAP),
        ("story_quotes", QUOTE_MAP),
    ]),
    "name_dim": pa.schema([
        ("full_name", pa.string()), ("season", pa.int64()),
        ("contestant_season_id", pa.int64()),
    ]),
    "contestants": pa.schema([
        ("contestant_season_id", pa.int64()), ("contestant_id", pa.int64()),
        ("season_id", pa.int64()), ("first_name", pa.string()),
        ("last_name", pa.string()), ("sex", pa.string()),
        ("birthdate", pa.string()), ("tribes", STR_LIST),
        ("alliances", STR_LIST), ("opponents", STR_LIST),
    ]),
    "tribe": pa.schema([
        ("tribe_id", pa.int64()), ("name", pa.string()),
        ("season_id", pa.int64()), ("tribe_type", pa.string()),
    ]),
    "alliance": pa.schema([
        ("alliance_id", pa.int64()), ("name", pa.string()),
        ("season_id", pa.int64()),
    ]),
    "agg_stats": pa.schema([
        ("contestant_season_id", pa.int64()), ("ndays", pa.float64()),
        ("placement", pa.int64()), ("votes_against", pa.int64()),
    ]),
    "name_map": pa.schema([
        ("merge_key", pa.string()), ("contestant_season_id", pa.int64()),
    ]),
    "tribal_council": pa.schema([
        ("season_id", pa.int64()), ("episode_id", pa.int64()),
        ("tc_number", pa.int64()), ("voter", pa.string()),
        ("voted_for", pa.string()), ("total_players_remaining", pa.float64()),
        ("vote_counted", pa.bool_()),
    ]),
    "immunity_challenge": pa.schema([
        ("season_id", pa.int64()), ("episode_id", pa.int64()),
        ("tc_number", pa.int64()), ("contestant", pa.string()),
        ("win", pa.float64()), ("win_alt", pa.float64()),
        ("win_pct", pa.float64()),
    ]),
    "reward_challenge": pa.schema([
        ("season_id", pa.int64()), ("episode_id", pa.int64()),
        ("tc_number", pa.int64()), ("challenge_number", pa.int64()),
        ("contestant", pa.string()), ("win_pct", pa.float64()),
        ("team", pa.float64()), ("episode_win_pct", pa.float64()),
    ]),
    "overall_episode": pa.schema([
        ("season_id", pa.int64()), ("episode_id", pa.int64()),
        ("contestant", pa.string()), ("challenge_wins", pa.float64()),
        ("votes_against_player", pa.float64()),
        ("tribal_councils_attended", pa.float64()),
        ("confessional_count", pa.float64()),
    ]),
    "confessional": pa.schema([
        ("season", pa.int64()), ("episode", pa.int64()),
        ("contestant", pa.string()), ("n_in_episode", pa.int64()),
        ("total_in_episode", pa.int64()), ("content", pa.string()),
        ("day", pa.int64()), ("para_order", pa.int64()),
    ]),
    "contestant_dim": pa.schema([
        ("season", pa.int64()), ("first_name", pa.string()),
        ("contestant_id", pa.int64()),
    ]),
    "submissions": pa.schema([
        ("id", pa.string()), ("created_utc", pa.int64()),
        ("title", pa.string()), ("score", pa.int64()),
        ("num_comments", pa.int64()), ("flair", STR_LIST),
    ]),
    "comments": pa.schema([
        ("id", pa.string()), ("created_utc", pa.int64()),
        ("link_id", pa.string()), ("body", pa.string()),
        ("score", pa.int64()), ("tags", STR_LIST),
    ]),
}

# Frames the pipelines read but whose rows are never loaded themselves:
# lookup dimensions and the flagship aggregate.  They are not part of
# the delta; the delta's transforms look up against the full frames.
LOOKUPS = ("name_dim", "agg_stats", "name_map", "contestant_dim")


def _words(rnd: random.Random, n: int) -> str:
    return " ".join(rnd.choices(_WORDS, k=n))


def _name(rnd: random.Random, n_syl: int) -> str:
    return "".join(rnd.choices(_SYL, k=n_syl)).capitalize()


def _epoch(t: dt.datetime) -> int:
    return int((t - _EPOCH).total_seconds())


def _date_text(d: dt.datetime, with_year: bool = True) -> str:
    s = f"{_MONTHS[d.month - 1]} {d.day}"
    return f"{s}, {d.year}" if with_year else s


def _people(rnd: random.Random):
    """Contestant persons and per-season attempts.  First names and
    full names are unique within a season (the name lookups join on
    them); a returnee keeps the same person attributes."""
    persons: list[dict] = []
    attempts: list[dict] = []
    for s in range(1, N_SEASONS + 1):
        used_first: set[str] = set()
        cast: list[dict] = []
        if s > 3:
            pool = [p for p in persons if p["last_season"] < s]
            pick = rnd.sample(range(len(pool)), RETURNEES_PER_SEASON)
            for i in sorted(pick):
                p = pool[int(i)]
                if p["first_name"] not in used_first:
                    used_first.add(p["first_name"])
                    cast.append(p)
        while len(cast) < ATTEMPTS_PER_SEASON:
            first = _name(rnd, 2 + rnd.randrange(0, 2))
            if first in used_first:
                continue
            used_first.add(first)
            born = dt.date(1950, 1, 1) + dt.timedelta(days=rnd.randrange(0, 18000))
            p = {
                "contestant_id": len(persons) + 1,
                "first_name": first,
                "last_name": _name(rnd, 3),
                "sex": "MF"[rnd.randrange(0, 2)],
                "birthdate": born.isoformat(),
                "last_season": s,
            }
            persons.append(p)
            cast.append(p)
        for p in cast:
            p["last_season"] = s
            attempts.append({"season": s, "person": p, "csid": len(attempts) + 1})
    return persons, attempts


def base(seed: int) -> dict[str, pa.Table]:
    """The full staged extracts for one first load."""
    rnd = random.Random(seed)  # scalar draws; numpy draws the reddit columns
    _persons, attempts = _people(rnd)
    by_season: dict[int, list[dict]] = {}
    for a in attempts:
        by_season.setdefault(a["season"], []).append(a)

    rows: dict[str, list[dict]] = {k: [] for k in SCHEMAS}  # reddit frames: _reddit
    season_windows: list[tuple[int, int]] = []
    tribe_id = alliance_id = 0
    for s in range(1, N_SEASONS + 1):
        cast = by_season[s]
        start = _FIRST_AIR + dt.timedelta(days=round((s - 1) * 182.5))
        eps = [start + dt.timedelta(days=7 * k) for k in range(EPISODES_PER_SEASON)]
        end = eps[-1]
        season_windows.append((_epoch(start), _epoch(end)))
        omit_year = start.year == end.year and bool(rnd.randrange(0, 2))
        dash = " – " if rnd.random() < 0.8 else " - "
        order = rnd.sample(range(len(cast)), len(cast))  # elimination order, last = winner
        finalists = [cast[int(i)] for i in order[-3:]]
        rows["season"].append({
            # the last two seasons arrive without ids and are minted
            "season_id": None if s > N_SEASONS - 2 else s,
            "name": f"Survivor: {_name(rnd, 3)}",
            "air_dates": _date_text(start, not omit_year) + dash + _date_text(end),
            "season": str(s),
            "days": "39",
            "episodes": str(EPISODES_PER_SEASON),
            "winner": [finalists[-1]["person"]["first_name"]],
            "runnerup": [f["person"]["first_name"] for f in finalists[:-1][: 1 + rnd.randrange(0, 2)]],
        })

        # tribes: two starting tribes, one merge tribe; names unique overall
        tribes = []
        for kind in ("start", "start", "merge"):
            tribe_id += 1
            tribes.append((tribe_id, f"{_name(rnd, 2)}{tribe_id}", kind))
            rows["tribe"].append({"tribe_id": tribe_id, "name": tribes[-1][1],
                                  "season_id": s, "tribe_type": kind})
        alliances = []
        for _ in range(rnd.randrange(2, 4)):
            alliance_id += 1
            alliances.append(f"{_name(rnd, 2)} Alliance {alliance_id}")
            rows["alliance"].append({"alliance_id": alliance_id,
                                     "name": alliances[-1], "season_id": s})

        placement = {cast[int(i)]["csid"]: len(cast) - rank for rank, i in enumerate(order)}
        for a in cast:
            p = a["person"]
            own = tribes[rnd.randrange(0, 2)]
            merged = placement[a["csid"]] <= 12
            t_names = [own[1]] + ([tribes[2][1]] if merged else [])
            rows["contestants"].append({
                "contestant_season_id": a["csid"], "contestant_id": p["contestant_id"],
                "season_id": s, "first_name": p["first_name"],
                "last_name": p["last_name"], "sex": p["sex"],
                "birthdate": p["birthdate"], "tribes": t_names,
                "alliances": [alliances[int(i)] for i in
                              rnd.sample(range(len(alliances)), rnd.randrange(0, 3))],
                "opponents": [t[1] for t in tribes if t[1] not in t_names][:3],
            })
            rows["name_dim"].append({"full_name": f"{p['first_name']} {p['last_name']}",
                                     "season": s, "contestant_season_id": a["csid"]})
            rows["name_map"].append({"merge_key": f"{p['first_name'].lower()}_{s}",
                                     "contestant_season_id": a["csid"]})
            rows["contestant_dim"].append({"season": s, "first_name": p["first_name"],
                                           "contestant_id": p["contestant_id"]})
            rows["agg_stats"].append({
                "contestant_season_id": a["csid"],
                "ndays": float(39 if placement[a["csid"]] <= 3 else 3 * (25 - placement[a["csid"]])),
                "placement": placement[a["csid"]],
                "votes_against": rnd.randrange(0, 12),
            })

        # episodes: 21 eliminations over 14 episodes, 7 double councils
        doubles = set(int(k) for k in rnd.sample(range(EPISODES_PER_SEASON - 1), 7))
        alive = [cast[int(i)] for i in order]  # front = next out
        for k, air in enumerate(eps):
            ep_id = s * 100 + k + 1
            remaining = list(alive)
            speakers = [f"{a['person']['first_name']} {a['person']['last_name']}"
                        for a in remaining]
            vc = {}
            for j in rnd.sample(range(len(speakers)), min(3, len(speakers))):
                vc[speakers[int(j)]] = [f"{ep_id}-vc-{j}-{q} {_words(rnd, 6)}"
                                        for q in range(1 + rnd.randrange(0, 2))]
            if rnd.random() < 0.2:  # the host is not a contestant: unresolved
                vc["Jeff Probst"] = [f"{ep_id}-host {_words(rnd, 5)}"]
            fw = {speakers[0]: [f"{ep_id}-fw {_words(rnd, 8)}"]}
            sq = {"narrator": [f"{ep_id}-sq-{q} {_words(rnd, 7)}" for q in range(3)]}
            rating = 3 + 6 * rnd.random()
            view = rnd.random()
            rows["episodes"].append({
                "episode_id": ep_id, "season": s,
                "title": f"{_words(rnd, 3).title()}",
                "firstbroadcast": air.strftime("%Y-%m-%d %H:%M:%S"),
                "share_txt": f"{rating:.1f}/{rnd.randrange(5, 20)} (18-49)",
                "viewership_txt": ("Unavailable" if view < 0.03 else "N/A" if view < 0.05
                                   else f"{5 + 25 * rnd.random():.2f} million viewers"),
                "number_txt": f"{k + 1}/{EPISODES_PER_SEASON} ({(s - 1) * EPISODES_PER_SEASON + k + 1})",
                "voting_confessionals": list(vc.items()),
                "final_words": list(fw.items()),
                "story_quotes": list(sq.items()),
            })

            n_tc = 2 if k in doubles else 1
            ic_tc = None if n_tc == 1 and rnd.random() < 0.3 else 1
            for tc in range(1, n_tc + 1):
                if len(alive) <= 3:
                    break
                tc_num = ic_tc if n_tc == 1 else tc
                out = alive[0]
                n_left = float(len(alive))
                revote = rnd.random() < 0.1
                for a in alive:
                    voter = a["person"]["first_name"]
                    target = out if a is not out else alive[1]
                    if rnd.random() < 0.25:
                        target = alive[rnd.randrange(0, len(alive))]
                    no_vote = rnd.random() < 0.03
                    rows["tribal_council"].append({
                        "season_id": s, "episode_id": ep_id, "tc_number": tc_num,
                        "voter": voter,
                        "voted_for": None if no_vote else target["person"]["first_name"],
                        "total_players_remaining": n_left,
                        "vote_counted": bool(rnd.random() < 0.95),
                    })
                    if revote and not no_vote:
                        rows["tribal_council"].append({
                            "season_id": s, "episode_id": ep_id, "tc_number": tc_num,
                            "voter": voter, "voted_for": out["person"]["first_name"],
                            "total_players_remaining": n_left - 1.0,
                            "vote_counted": True,
                        })
                alive = alive[1:]
            for a in remaining:
                first = a["person"]["first_name"]
                lost = rnd.random() < 0.01  # lost episode id: filtered out
                win = None if rnd.random() < 0.1 else float(rnd.randrange(0, 2))
                rows["immunity_challenge"].append({
                    "season_id": s, "episode_id": None if lost else ep_id,
                    "tc_number": ic_tc, "contestant": first, "win": win,
                    "win_alt": None if win is not None or rnd.random() < 0.5 else 1.0,
                    "win_pct": None if rnd.random() < 0.1 else round(rnd.random(), 4),
                })
                for ch in range(1, 1 + (2 if k % 5 == 4 else 1)):
                    rows["reward_challenge"].append({
                        "season_id": s, "episode_id": None if rnd.random() < 0.01 else ep_id,
                        "tc_number": ic_tc, "challenge_number": None if ch == 1 else ch,
                        "contestant": first,
                        "win_pct": None if rnd.random() < 0.1 else round(rnd.random(), 4),
                        "team": None if rnd.random() < 0.2 else float(rnd.randrange(1, 5)),
                        "episode_win_pct": None if rnd.random() < 0.1 else round(2 * rnd.random(), 4),
                    })
                # one or two raw rows per (episode, contestant): the
                # transform sums them; NULL challenge_wins rows are dropped
                for _ in range(1 + int(rnd.random() < 0.2)):
                    rows["overall_episode"].append({
                        "season_id": s, "episode_id": ep_id, "contestant": first,
                        "challenge_wins": None if rnd.random() < 0.02 else float(rnd.randrange(0, 3)),
                        "votes_against_player": float(rnd.randrange(0, 4)),
                        "tribal_councils_attended": float(rnd.randrange(0, 3)),
                        "confessional_count": float(rnd.randrange(0, 9)),
                    })
                n_conf = rnd.randrange(0, 4)
                name = first if rnd.random() > 0.03 else f"{first}x"  # unresolvable
                for n in range(1, n_conf + 1):
                    rows["confessional"].append({
                        "season": s, "episode": ep_id, "contestant": name,
                        "n_in_episode": n, "total_in_episode": n_conf,
                        "content": _words(rnd, 12), "day": 3 * k + 1,
                        "para_order": n,
                    })

    tables = {k: pa.Table.from_pylist(v, schema=SCHEMAS[k])
              for k, v in rows.items() if v}
    tables.update(_reddit(np.random.default_rng(seed), season_windows[0][0] - 180 * 86400,
                          season_windows[-1][1] + 180 * 86400))
    return tables


def _texts(rng: np.random.Generator, n: int, n_words: int) -> list[str]:
    words = np.array(_WORDS, dtype=object)[rng.integers(0, len(_WORDS), (n, n_words))]
    return [" ".join(w) for w in words]


def _reddit(rng: np.random.Generator, first_utc: int, last_utc: int) -> dict[str, pa.Table]:
    """Posts from half a year before the first season to half a year
    after the last, so they fall before, inside, between and after
    season windows."""
    sub_t = np.sort(rng.integers(first_utc, last_utc, N_SUBMISSIONS))
    flair = rng.integers(0, len(_WORDS), N_SUBMISSIONS)
    submissions = pa.table({
        "id": [f"s{i:07d}" for i in range(N_SUBMISSIONS)],
        "created_utc": sub_t,
        "title": _texts(rng, N_SUBMISSIONS, 6),
        "score": rng.integers(0, 5000, N_SUBMISSIONS),
        "num_comments": rng.integers(0, 400, N_SUBMISSIONS),
        "flair": [None if f % 2 else [_WORDS[f]] for f in flair.tolist()],
    }, schema=SCHEMAS["submissions"])
    parent = rng.integers(0, N_SUBMISSIONS, N_COMMENTS)
    tagged = rng.random(N_COMMENTS) < 0.3
    comments = pa.table({
        "id": [f"c{i:08d}" for i in range(N_COMMENTS)],
        "created_utc": sub_t[parent] + rng.integers(0, 7 * 86400, N_COMMENTS),
        "link_id": [f"s{p:07d}" for p in parent.tolist()],
        "body": _texts(rng, N_COMMENTS, 10),
        "score": rng.integers(-20, 500, N_COMMENTS),
        "tags": [["mod"] if t else None for t in tagged.tolist()],
    }, schema=SCHEMAS["comments"])
    return {"submissions": submissions, "comments": comments}


def _pick(rnd: random.Random, n: int, frac: float) -> list[int]:
    return sorted(rnd.sample(range(n), max(1, round(n * frac))))


def delta(seed: int, full: dict[str, pa.Table]) -> dict[str, pa.Table]:
    """A re-load batch: about 1% of each loaded frame's keys with new
    non-key values, plus about 0.5% new keys on the confessional and
    reddit frames.  Keys are whole groups where the transform numbers
    or sums rows within a group (votes, overall episode rows)."""
    rnd = random.Random(f"{seed}-delta")
    out: dict[str, pa.Table] = {}
    for name, t in full.items():
        if name in LOOKUPS:
            continue
        if name in ("tribal_council", "overall_episode"):
            rows = t.to_pylist()
            who = "voter" if name == "tribal_council" else "contestant"
            groups = sorted({(r["episode_id"], r.get("tc_number"), r[who]) for r in rows},
                            key=lambda g: (g[0] or 0, g[1] or 0, g[2]))
            chosen = {groups[int(i)] for i in _pick(rnd, len(groups), DELTA_CHANGE_FRAC)}
            picked = [r for r in rows
                      if (r["episode_id"], r.get("tc_number"), r[who]) in chosen]
        else:
            if name == "season":  # NULL ids are minted relative to the batch
                t = t.filter(pc.is_valid(t["season_id"]))
            picked = t.take(_pick(rnd, t.num_rows, DELTA_CHANGE_FRAC)).to_pylist()
        for r in picked:
            _change(name, r, rnd)
        if name in ("confessional", "submissions", "comments"):
            picked += _new_rows(name, t, rnd, max(1, round(t.num_rows * DELTA_NEW_FRAC)))
        out[name] = pa.Table.from_pylist(picked, schema=SCHEMAS[name])
    return out


def _change(name: str, r: dict, rnd: random.Random) -> None:
    """Change non-key values in place (keys stay as they are)."""
    if name == "season":
        r["name"] = r["name"] + " (Redux)"
    elif name == "episodes":
        r["title"] = r["title"] + " Part 2"
        r["viewership_txt"] = f"{5 + 25 * rnd.random():.2f} million viewers"
    elif name == "contestants":
        r["sex"] = "X"
        r["alliances"] = list(r["alliances"] or []) + ["Late Alliance"]
    elif name == "tribe":
        r["tribe_type"] = "swap"
    elif name == "alliance":
        r["name"] = r["name"] + " II"
    elif name == "tribal_council":
        r["vote_counted"] = not r["vote_counted"]
    elif name in ("immunity_challenge", "reward_challenge"):
        r["win_pct"] = round(rnd.random(), 4)
    elif name == "overall_episode":
        r["confessional_count"] = float(rnd.randrange(10, 20))
    elif name == "confessional":
        r["content"] = r["content"] + " edited"
    elif name == "submissions":
        r["score"] = rnd.randrange(5000, 9000)
    elif name == "comments":
        r["body"] = r["body"] + " [edited]"
        r["score"] = rnd.randrange(500, 900)
    else:
        raise KeyError(name)


def _new_rows(name: str, t: pa.Table, rnd: random.Random, n: int) -> list[dict]:
    """Rows with keys the base does not have."""
    new = []
    if name == "confessional":
        rows = t.to_pylist()
        # a further confessional after the last one of an existing
        # (episode, contestant) group
        last: dict[tuple, dict] = {}
        for r in rows:
            g = (r["episode"], r["contestant"])
            if g not in last or r["n_in_episode"] > last[g]["n_in_episode"]:
                last[g] = r
        keys = sorted(last)
        for i in rnd.sample(range(len(keys)), min(n, len(keys))):
            r = dict(last[keys[int(i)]])
            r["n_in_episode"] += 1
            r["para_order"] += 1
            r["content"] = _words(rnd, 12) + " late"
            new.append(r)
        return new
    hi = pc.max(t["created_utc"]).as_py()
    for i in range(n):
        t = int(hi + rnd.randrange(0, 86400))
        if name == "submissions":
            new.append({"id": f"s9{i:06d}", "created_utc": t, "title": _words(rnd, 6),
                        "score": rnd.randrange(0, 5000), "num_comments": 0,
                        "flair": None})
        else:
            new.append({"id": f"c9{i:07d}", "created_utc": t, "link_id": "s0000000",
                        "body": _words(rnd, 10), "score": 1, "tags": None})
    return new


def write(frames: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """One parquet file per frame; returns frame -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in frames.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name], compression="snappy")
    return paths
