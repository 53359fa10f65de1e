#!/usr/bin/env python3
"""Seeded, game-simulating input generator for the perfbench workloads.

One call writes one (division, year) slice: a raw play-by-play feed in
the text forms `graft.pbp.Regexes` parses, every dimension table
`graft.app.RunAll.Inputs` takes, and the ground truth the benchmark
checks the program's outputs against. The same seed gives byte-identical
files (pyarrow writes no timestamps; every random draw comes from one
`random.Random` seeded by a string, which Python hashes with SHA-512).

Simulation:
  - every game is 9 innings; a half-inning ends at its third out;
  - plate appearances: strikeout, walk, hit by pitch, single, double,
    triple, home run, reached on error, grounded/flied/lined/popped out
    (a fly out with a runner on third and fewer than two outs is a
    sacrifice fly that scores the runner);
  - with a runner on first and second base open, a steal attempt
    (stole second, or caught stealing) may come before the pitch;
  - from the fifth inning on the fielding team may change pitchers at
    the start of a half-inning ("X to p for Y", its own row);
  - each runner movement is written out ("R advanced to second",
    "R scored"), so the text alone determines runs and outs;
  - each player's name is written in one of five formats per game
    ("First Last", "F. Last", "Last, First", "LAST", "Last"); lineups
    carry the canonical "Last, First" form and the player id.

Usage: python3 perfbench/gen.py --seed N --out DIR --division D --year Y
           --games G [--files F]
"""
import argparse
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

FIRST = ("Aaron Ben Carl Dan Eli Frank Gabe Hank Ian Jack Kyle Leo Matt "
         "Nate Owen Paul Ray Sam Tom Vic Will Zack Adam Brad Cole Drew Evan "
         "Finn Gus Hugh Jake Luke Mark Noah Pete Ross Seth Troy Alex Neil").split()
LAST = ("Adams Baker Carter Dawson Ellis Fisher Garcia Hayes Irwin Jensen "
        "Keller Lopez Mason Nolan Owens Parker Quinn Reyes Sutton Tucker "
        "Vance Wallace Young Zimmer Abbott Bishop Collins Dunbar Emery Flores "
        "Grant Holt Ingram Jordan Knight Larson Monroe Nash Ortiz Pratt "
        "Ramsey Shaw Thornton Upton Vaughn Webb Yates Boyd Crane Doyle "
        "Fuller Gibbs Harper Hodge Jacobs Kemp Lowe Miles Norris Page Reed "
        "Sims Tate Watts Barnes Cobb Dean Frost Gray Hale Lane Moss Neal "
        "Price Rhodes Stone Terry Walsh Banks Chase Drake Ferris Glenn Hardy "
        "Kerr Lyons Marsh Noble Pope Riggs Sharp Todd Blake Cruz Duffy Finch "
        "Goode Haynes Kirby Lynch Mercer Nixon Pugh Rowe Snow Tyler Wolfe").split()
CITIES = ("Aurora Bayport Cedar Dover Elmwood Fairview Glendale Harbor "
          "Ironton Jasper Kingston Lakeside Milton Newport Oakdale Pinecrest "
          "Quarry Riverton Salem Trenton Union Valley Westfield Yorktown").split()
MASCOTS = ("Aardvarks Badgers Cougars Dingos Eagles Falcons Geckos Hawks "
           "Ibises Jaguars Kestrels Lynxes Mustangs Otters Pumas Ravens").split()
POSITIONS = ["c", "1b", "2b", "3b", "ss", "lf", "cf", "rf", "dh"]
OUT_VERBS = [("grounded out to", ["ss", "2b", "3b", "1b", "p"]),
             ("flied out to", ["lf", "cf", "rf"]),
             ("lined out to", ["ss", "2b", "lf", "cf", "rf"]),
             ("popped up to", ["1b", "2b", "ss", "3b", "c"])]
# plate-appearance mix, cumulative weights (fractions of all PAs)
PA_MIX = [("K", 0.22), ("BB", 0.09), ("HBP", 0.012), ("1B", 0.155),
          ("2B", 0.048), ("3B", 0.007), ("HR", 0.026), ("E", 0.018)]
STEAL_P = 0.10        # steal attempt per PA with a runner on first, second open
STEAL_OK = 0.72       # success rate of an attempt
PITCH_CHANGE_P = 0.30  # per half-inning from the fifth on, per fielding team
NAME_FORMATS = 5
STATE_RUNNERS = ["NNN", "YNN", "NYN", "NNY", "YYN", "YNY", "NYY", "YYY"]
SCORE_SPAN = 40


def fmt_name(first, last, form):
    return (f"{first} {last}", f"{first[0]}. {last}", f"{last}, {first}",
            last.upper(), last)[form]


def make_teams(rng, division, n_teams):
    teams = []
    names = rng.sample([f"{c} {m}" for c in CITIES for m in MASCOTS], n_teams)
    for t in range(n_teams):
        tid = f"{division.upper()}_T{t:03d}"
        lasts = rng.sample(LAST, 18)  # unique last names inside a team
        players = [{"id": f"{tid}_B{i:02d}", "first": rng.choice(FIRST),
                    "last": lasts[i], "pos": POSITIONS[i % 9],
                    "bats": rng.choice("LRRS"), "throws": rng.choice("LRR")}
                   for i in range(13)]
        pitchers = [{"id": f"{tid}_P{i:02d}", "first": rng.choice(FIRST),
                     "last": lasts[13 + i], "throws": rng.choice("LRR")}
                    for i in range(5)]
        teams.append({"id": tid, "name": names[t],
                      "conference": f"{division}_C{t % 4}",
                      "batters": players, "pitchers": pitchers,
                      "pf": round(92.0 + rng.random() * 16.0, 1)})
    return teams


class Tally:
    """Per-player season counters (batting and pitching)."""

    def __init__(self):
        self.bat = {}
        self.pit = {}

    def b(self, pid):
        return self.bat.setdefault(pid, dict.fromkeys(
            ["pa", "ab", "h", "2b", "3b", "hr", "bb", "hbp", "k", "sf",
             "sb", "cs", "r", "games"], 0))

    def p(self, pid):
        return self.pit.setdefault(pid, dict.fromkeys(
            ["app", "gs", "outs", "r", "h", "bb", "hbp", "so", "hr", "bf"], 0))


def sim_game(rng, cid, away, home, tally, rows, lineups, plineups):
    """Simulate one game; append its raw rows; return (away_runs, home_runs, outs)."""
    sides = []
    for team in (away, home):
        order = rng.sample(team["batters"], 9)
        form = {p["id"]: rng.randrange(NAME_FORMATS) for p in team["batters"] + team["pitchers"]}
        text = {p["id"]: fmt_name(p["first"], p["last"], form[p["id"]])
                for p in team["batters"] + team["pitchers"]}
        for slot, p in enumerate(order):
            lineups.append((cid, team["id"], f'{p["last"]}, {p["first"]}', p["id"],
                            POSITIONS[slot]))
            tally.b(p["id"])["games"] += 1
        staff = [team["pitchers"][0]] + rng.sample(team["pitchers"][1:], 4)
        sides.append({"team": team, "order": order, "text": text, "next": 0,
                      "staff": staff, "used": 1})
        tally.p(staff[0]["id"])["app"] += 1
        tally.p(staff[0]["id"])["gs"] += 1
    runs = [0, 0]
    seq = 0
    total_outs = 0

    def emit(side_idx, inning, desc):
        nonlocal seq
        seq += 1
        rows.append((cid, seq, inning, desc if side_idx == 0 else None,
                     desc if side_idx == 1 else None))

    for inning in range(1, 10):
        for bat in (0, 1):
            off, dfn = sides[bat], sides[1 - bat]
            if inning >= 5 and dfn["used"] < len(dfn["staff"]) and rng.random() < PITCH_CHANGE_P:
                new, old = dfn["staff"][dfn["used"]], dfn["staff"][dfn["used"] - 1]
                dfn["used"] += 1
                tally.p(new["id"])["app"] += 1
                emit(bat, inning, f'{dfn["text"][new["id"]]} to p for {dfn["text"][old["id"]]}.')
            pitcher = dfn["staff"][dfn["used"] - 1]["id"]
            pt = tally.p(pitcher)
            bases = [None, None, None]  # player ids on 1st, 2nd, 3rd
            outs = 0
            nm = off["text"]
            while outs < 3:
                if bases[0] and not bases[1] and rng.random() < STEAL_P:
                    r = bases[0]
                    bases[0] = None
                    if rng.random() < STEAL_OK:
                        bases[1] = r
                        tally.b(r)["sb"] += 1
                        emit(bat, inning, f"{nm[r]} stole second")
                    else:
                        outs += 1
                        pt["outs"] += 1
                        tally.b(r)["cs"] += 1
                        emit(bat, inning, f"{nm[r]} caught stealing, out at second c to ss")
                    continue
                batter = off["order"][off["next"] % 9]["id"]
                off["next"] += 1
                bt = tally.b(batter)
                bt["pa"] += 1
                pt["bf"] += 1
                u = rng.random()
                kind = "OUT"
                for k, w in PA_MIX:
                    if u < w:
                        kind = k
                        break
                    u -= w
                moves = []     # runner clauses, written after the batter clause
                scored = []
                r1, r2, r3 = bases

                def score(pid):
                    scored.append(pid)
                    moves.append(f"{nm[pid]} scored")

                def force():
                    # batter to first; only forced runners move
                    nb = [batter, r1, r2]
                    if r1:
                        if r2:
                            if r3:
                                score(r3)
                            moves.append(f"{nm[r2]} advanced to third")
                            nb[2] = r2
                        else:
                            nb[2] = r3
                        moves.append(f"{nm[r1]} advanced to second")
                        nb[1] = r1
                    else:
                        nb = [batter, r2, r3]
                    return nb

                field = rng.choice(["left field", "center field", "right field"])
                if kind == "K":
                    head = f"{nm[batter]} struck out {rng.choice(['swinging', 'looking'])}"
                    outs += 1
                    bt["ab"] += 1
                    bt["k"] += 1
                    pt["so"] += 1
                    pt["outs"] += 1
                elif kind in ("BB", "HBP", "E"):
                    head = {"BB": f"{nm[batter]} walked",
                            "HBP": f"{nm[batter]} hit by pitch",
                            "E": f"{nm[batter]} reached on an error by {rng.choice(['ss', '2b', '3b'])}"}[kind]
                    bases = force()
                    if kind == "BB":
                        bt["bb"] += 1
                        pt["bb"] += 1
                    elif kind == "HBP":
                        bt["hbp"] += 1
                        pt["hbp"] += 1
                    else:
                        bt["ab"] += 1
                elif kind == "1B":
                    head = f"{nm[batter]} singled to {field}"
                    nb = [batter, None, None]
                    if r3:
                        score(r3)
                    if r2:
                        if rng.random() < 0.6:
                            score(r2)
                        else:
                            moves.append(f"{nm[r2]} advanced to third")
                            nb[2] = r2
                    if r1:
                        if nb[2] is None and rng.random() < 0.25:
                            moves.append(f"{nm[r1]} advanced to third")
                            nb[2] = r1
                        else:
                            moves.append(f"{nm[r1]} advanced to second")
                            nb[1] = r1
                    bases = nb
                elif kind == "2B":
                    head = f"{nm[batter]} doubled to {field}"
                    nb = [None, batter, None]
                    for r in (r3, r2):
                        if r:
                            score(r)
                    if r1:
                        if rng.random() < 0.4:
                            score(r1)
                        else:
                            moves.append(f"{nm[r1]} advanced to third")
                            nb[2] = r1
                    bases = nb
                elif kind == "3B":
                    head = f"{nm[batter]} tripled to {field}"
                    for r in (r3, r2, r1):
                        if r:
                            score(r)
                    bases = [None, None, batter]
                elif kind == "HR":
                    head = f"{nm[batter]} homered to {field}"
                    for r in (r3, r2, r1):
                        if r:
                            score(r)
                    scored.append(batter)
                    bases = [None, None, None]
                else:
                    verb, spots = rng.choice(OUT_VERBS)
                    outs += 1
                    pt["outs"] += 1
                    if verb.startswith("flied") and r3 and outs < 3:
                        head = f"{nm[batter]} flied out to {rng.choice(spots)}, sacrifice fly"
                        score(r3)
                        bases = [r1, r2, None]
                        bt["sf"] += 1
                    else:
                        head = f"{nm[batter]} {verb} {rng.choice(spots)}"
                        bt["ab"] += 1
                if kind in ("1B", "2B", "3B", "HR"):
                    bt["ab"] += 1
                    bt["h"] += 1
                    pt["h"] += 1
                    if kind != "1B":
                        bt[kind.lower()] += 1
                        if kind == "HR":
                            pt["hr"] += 1
                if scored:
                    rbi = len(scored) if kind != "E" else 0
                    if rbi:
                        head += ", RBI" if rbi == 1 else f", {rbi} RBI"
                    runs[bat] += len(scored)
                    pt["r"] += len(scored)
                    for r in scored:
                        tally.b(r)["r"] += 1
                emit(bat, inning, "; ".join([head] + moves))
            total_outs += outs
    for side in sides:
        for order, p in enumerate(side["staff"][:side["used"]]):
            plineups.append((cid, side["team"]["id"], f'{p["last"]}, {p["first"]}',
                             p["id"], order + 1))
    return runs[0], runs[1], total_outs


def ip_notation(outs):
    return float(f"{outs // 3}.{outs % 3}")


def write(table, path, files=1):
    if files == 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"),
                       compression="snappy", row_group_size=max(1, (hi - lo) // 2))


def i32(xs):
    return pa.array(xs, pa.int32())


def generate(seed, out, division, year, games, files=1):
    rng = random.Random(f"perfbench-{seed}-{division}-{year}")
    n_teams = max(4, min(64, games // 10))
    teams = make_teams(rng, division, n_teams)
    tally = Tally()
    rows, lineups, plineups, team_rows, truth_games = [], [], [], [], []
    record = {t["id"]: [0, 0] for t in teams}
    base_cid = (year % 100) * 10_000_000 + (sum(map(ord, division)) % 100) * 100_000
    for g in range(games):
        away, home = rng.sample(teams, 2)
        cid = base_cid + g + 1
        a, h, outs = sim_game(rng, cid, away, home, tally, rows, lineups, plineups)
        team_rows.append((cid, away["id"], home["id"], away["name"], home["name"]))
        truth_games.append((cid, a + h, outs))
        if a != h:
            record[away["id"] if a > h else home["id"]][0] += 1
            record[home["id"] if a > h else away["id"]][1] += 1
    os.makedirs(out, exist_ok=True)
    cols = list(zip(*rows))
    write(pa.table({"contest_id": pa.array(cols[0], pa.int64()), "seq": i32(cols[1]),
                    "inning": i32(cols[2]), "away_text": pa.array(cols[3], pa.string()),
                    "home_text": pa.array(cols[4], pa.string())}),
          os.path.join(out, "raw_pbp"), files)
    c = list(zip(*team_rows))
    write(pa.table({"contest_id": pa.array(c[0], pa.int64()), "away_team_id": c[1],
                    "home_team_id": c[2], "away_team_name": c[3], "home_team_name": c[4]}),
          os.path.join(out, "teams.parquet"))
    c = list(zip(*lineups))
    write(pa.table({"contest_id": pa.array(c[0], pa.int64()), "team_id": c[1],
                    "player_name": c[2], "player_id": c[3], "position": c[4]}),
          os.path.join(out, "batting_lineups.parquet"))
    c = list(zip(*plineups))
    write(pa.table({"contest_id": pa.array(c[0], pa.int64()), "team_id": c[1],
                    "player_name": c[2], "player_id": c[3], "pitch_order": i32(c[4])}),
          os.path.join(out, "pitching_lineups.parquet"))
    everyone = [(p, t) for t in teams for p in t["batters"] + t["pitchers"]]
    write(pa.table({"player_id": [p["id"] for p, _ in everyone],
                    "bats": [p.get("bats", "R") for p, _ in everyone],
                    "throws": [p["throws"] for p, _ in everyone]}),
          os.path.join(out, "player_info.parquet"))
    bat = [(p, t, tally.bat[p["id"]]) for t in teams for p in t["batters"] if p["id"] in tally.bat]
    bcols = ["gp", "ab", "h", "2b", "3b", "hr", "bb", "ibb", "hbp", "k", "sf", "sh", "sb", "cs", "r"]
    src = {"gp": "games", "ibb": None, "sh": None}
    table = {"player_id": [p["id"] for p, _, _ in bat], "team_id": [t["id"] for _, t, _ in bat],
             "team_name": [t["name"] for _, t, _ in bat],
             "conference": [t["conference"] for _, t, _ in bat],
             "pos": [p["pos"] for p, _, _ in bat]}
    for col in bcols:
        key = src.get(col, col)
        table[col] = i32([s[key] if key else 0 for _, _, s in bat])
    write(pa.table(table), os.path.join(out, "batting_stats.parquet"))
    pit = [(p, t, tally.pit[p["id"]]) for t in teams for p in t["pitchers"] if p["id"] in tally.pit]
    write(pa.table({
        "player_id": [p["id"] for p, _, _ in pit], "team_id": [t["id"] for _, t, _ in pit],
        "team_name": [t["name"] for _, t, _ in pit],
        "conference": [t["conference"] for _, t, _ in pit],
        "app": i32([s["app"] for _, _, s in pit]), "gs": i32([s["gs"] for _, _, s in pit]),
        "ip": [ip_notation(s["outs"]) for _, _, s in pit],
        "er": i32([s["r"] for _, _, s in pit]), "r": i32([s["r"] for _, _, s in pit]),
        "era": [round(27.0 * s["r"] / s["outs"], 2) if s["outs"] else 0.0 for _, _, s in pit],
        "h": i32([s["h"] for _, _, s in pit]), "bb": i32([s["bb"] for _, _, s in pit]),
        "hbp": i32([s["hbp"] for _, _, s in pit]), "so": i32([s["so"] for _, _, s in pit]),
        "hr_a": i32([s["hr"] for _, _, s in pit]), "bf": i32([s["bf"] for _, _, s in pit])}),
        os.path.join(out, "pitching_stats.parquet"))
    write(pa.table({"team_id": [t["id"] for t in teams], "pf": [t["pf"] for t in teams]}),
          os.path.join(out, "park_factors.parquet"))
    write(pa.table({"massey_team": [t["name"] for t in teams],
                    "sos_val": [round(0.3 + rng.random() * 0.5, 3) for _ in teams],
                    "record": [f"{record[t['id']][0]}-{record[t['id']][1]}" for t in teams]}),
          os.path.join(out, "rankings.parquet"))
    write(pa.table({"ncaa_team_name": [t["name"] for t in teams],
                    "massey_team_name": [t["name"] for t in teams]}),
          os.path.join(out, "mappings.parquet"))
    write(pa.table({"team_id": [t["id"] for t in teams], "division": [division] * len(teams),
                    "year": i32([year] * len(teams)), "team_name": [t["name"] for t in teams],
                    "conference": [t["conference"] for t in teams]}),
          os.path.join(out, "team_history.parquet"))
    states = [(i, h, r, o, d) for i in range(1, 10) for h in ("Top", "Bottom")
              for r in STATE_RUNNERS for o in range(3) for d in range(-SCORE_SPAN, SCORE_SPAN + 1)]
    c = list(zip(*states))
    we = [1.0 / (1.0 + math.exp(-d * (0.15 + 0.05 * i) * (1 if h == "Bottom" else -1)))
          for i, h, _, _, d in states]
    li = [round((1.0 + 0.2 * r.count("Y") + 0.1 * o) * (0.5 + i / 9.0) / (1.0 + abs(d)), 4)
          for i, _, r, o, d in states]
    base = {"inning": i32(c[0]), "half": c[1], "runners": c[2], "outs": i32(c[3]),
            "score_diff": i32(c[4])}
    write(pa.table({**base, "win_expectancy": we}), os.path.join(out, "we.parquet"))
    write(pa.table({**base, "leverage_index": li}), os.path.join(out, "li.parquet"))
    # ground truth
    c = list(zip(*truth_games))
    write(pa.table({"contest_id": pa.array(c[0], pa.int64()), "runs": pa.array(c[1], pa.int64()),
                    "outs": pa.array(c[2], pa.int64())}),
          os.path.join(out, "truth_games.parquet"))
    ids = sorted(tally.bat)
    write(pa.table({"player_id": ids,
                    **{k: pa.array([tally.bat[i][k] for i in ids], pa.int64())
                       for k in ("pa", "h", "hr", "bb", "k")}}),
          os.path.join(out, "truth_batters.parquet"))
    meta = {"seed": seed, "division": division, "year": year, "games": games,
            "plays": len(rows), "teams": n_teams,
            "pitching_changes": sum(1 for r in rows if (r[3] or r[4]).endswith(".")),
            "plate_appearances": sum(s["pa"] for s in tally.bat.values())}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--division", default="ncaa_1")
    ap.add_argument("--year", type=int, default=2024)
    ap.add_argument("--games", type=int, default=100)
    ap.add_argument("--files", type=int, default=1)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.out, a.division, a.year, a.games, a.files)))


if __name__ == "__main__":
    main()
