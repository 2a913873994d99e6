#!/usr/bin/env python3
"""Seeded World Cup CSV generator for the worldcup_elt workload.

Replicates the 23 fixture CSVs in src/test/resources/worldcup as K
disjoint copies. In copy k every id gets the suffix "-c<k>" and every
natural key (team, federation, city, stadium, tournament, award and
confederation names and codes) gets " c<k>"; stage names get the prefix
"c<k> " so the knockout-stage rule (a trailing 's') still applies. Shared
vocabularies (position codes, event kinds, results) stay as they are.
Each file's rows are then shuffled by the seed, so the same seed gives
byte-identical files and another seed gives the same rows in another
order.

Usage: gen_worldcup.py <fixtures_dir> <out_dir> --seed N --copies K
"""
import argparse
import csv
import os
import random

ID_COLS = {
    "award_id", "confederation_id", "team_id", "opponent_id",
    "home_team_id", "away_team_id", "manager_id", "referee_id", "player_id",
    "match_id", "tournament_id", "stadium_id", "penalty_kick_id",
}
KEY_COLS = {
    "team_name", "winner", "team_code", "federation_name",
    "federation_wikipedia_link", "city_name", "city_wikipedia_link",
    "stadium_name", "tournament_name", "award_name", "confederation_code",
    "confederation_name", "match_name",
}
PREFIX_COLS = {"stage_name"}


def tag(col: str, value: str, k: int) -> str:
    if value == "":
        return value
    if col in ID_COLS:
        return f"{value}-c{k}"
    if col in KEY_COLS:
        return f"{value} c{k}"
    if col in PREFIX_COLS:
        return f"c{k} {value}"
    return value


def generate(fixtures: str, out: str, seed: int, copies: int) -> dict:
    """Writes one CSV per fixture into `out`; returns rows per file."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    counts = {}
    for name in sorted(f for f in os.listdir(fixtures) if f.endswith(".csv")):
        with open(os.path.join(fixtures, name), newline="") as f:
            reader = csv.reader(f)
            header = next(reader)
            rows = list(reader)
        out_rows = [[tag(c, v, k) for c, v in zip(header, row)]
                    for k in range(copies) for row in rows]
        rng.shuffle(out_rows)
        with open(os.path.join(out, name), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            w.writerows(out_rows)
        counts[name[:-4]] = len(out_rows)
    return counts


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("fixtures")
    p.add_argument("out")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--copies", type=int, required=True)
    a = p.parse_args()
    counts = generate(a.fixtures, a.out, a.seed, a.copies)
    print(f"{len(counts)} files, {sum(counts.values())} rows")


if __name__ == "__main__":
    main()
