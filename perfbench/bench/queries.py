"""The registry-query workload: which queries, in what order, and the
expected result of each.

One workload runs two sets chosen by executor share (query_sets.json):
quick queries whose wall is mostly fixed per-query cost, and heavy ones
dominated by executor task time or many-job loops. A round runs every
short query twice and every heavy one once: 5 short queries and 4 heavy
ones make 14 operations a round, so with R rounds the nearest rank of
op_p50_s (7R) lies in the middle of the fourth-fastest short query's 2R
samples, and that of op_p90_s among the heavy ones.
"""
import json
import math
import os
import random

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS_FILE = os.path.join(HERE, "query_sets.json")
EXPECTED = os.path.join(HERE, "expected", "queries.json")
SETS = ("queries_short", "queries_heavy")
REPEATS = {"queries_short": 2, "queries_heavy": 1}  # per round
MIN_OPS = 20
WARM_PASSES = 2


def data_dir():
    return os.path.join(HERE, "data", "sf0.01")


def load_sets():
    with open(SETS_FILE) as f:
        return json.load(f)


def expected():
    with open(EXPECTED) as f:
        return json.load(f)


def schedule(seed, seconds):
    """(warm, timed) query names. The timed pass is whole rounds over both
    sets, each round in its own seeded order: enough rounds for MIN_OPS
    operations and for about `seconds` of work at the committed per-query
    times. The warm pass runs every query WARM_PASSES times, in seeded
    order: after one pass the first timed round still ran about a fifth
    slower than the last."""
    sets = load_sets()
    entries = [e for name in SETS for e in sets[name]["queries"] * REPEATS[name]]
    names = [e["name"] for e in entries]
    round_s = sum(e["wall_s"] for e in entries)
    rounds = max(math.ceil(MIN_OPS / len(names)), math.ceil(seconds / round_s))
    rng = random.Random(seed)
    warm = []
    for _ in range(WARM_PASSES):
        w = sorted(set(names))
        rng.shuffle(w)
        warm += w
    timed = []
    for _ in range(rounds):
        r = names[:]
        rng.shuffle(r)
        timed += r
    return warm, timed
