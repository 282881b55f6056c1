"""Seeded inputs and reference results for the `ingest_cycle` workload.

The replay models the reference's Luchtmeetnet poller: every
(station, pollutant) key reports once an hour, and every poll re-reads
the trailing WINDOW hours (the reference's NL 6-hour lookback), so five
sixths of each poll repeats earlier polls. The key count sets the poll
volume: 576 keys x 6 hours is about the 3.3k rows per poll of the first
prototype of this workload. A seeded share of measurements arrives late
(first visible one or two polls after its hour), a share is re-sent
inside a poll with another value, and a share is invalid (unparseable
value or a pollutant outside the allowlist). Timestamps come in the five
shapes the normaliser accepts. Pages are JSONL files in arrival order.

`reference()` replays the same polls through the program's contract:
normalise, first-wins on (key, timestamp) in arrival order, keep rows
strictly newer than the key's cursor, advance the cursor to the per-key
maximum after the emit.
"""
import functools
import json
import os
import random
from datetime import datetime, timedelta, timezone

from . import stats

POLLUTANTS = ["pm25", "pm10", "no2", "o3", "nox", "no", "co", "so2"]
RAW_NAMES = {"pm25": ["PM2.5", "pm2.5", " Pm2.5 ", "pm25"]}
CATALOG_STATIONS = 70           # x 8 pollutants = 560 keys
UNKNOWN_STATIONS = 2            # report, but are not in the catalog
WINDOW = 6                      # hours each poll re-reads (NL lookback)
# The shares below are assumptions, not measured on the reference's
# traffic: small enough that most rows are clean, large enough that every
# path (late, re-sent, invalid, unmatched) runs in every poll.
NULL_ISLAND_SHARE = 0.03        # catalog rows without coordinates
LATE_SHARE = 0.04               # measurements first visible 1-2 polls late
RESEND_SHARE = 0.03             # rows re-sent in the same poll, new value
BAD_VALUE_SHARE = 0.01
BAD_POLLUTANT_SHARE = 0.005
PAGES_PER_POLL = 4
BASE = datetime(2024, 3, 1, tzinfo=timezone.utc)


# The JIT is still settling after 8 warm cycles (the timed cycles speed up
# by up to a quarter from first to last), but each warm cycle adds about
# 1.5 s to every run, and the benchmark's schedule has no room for more.
WARM_POLLS = 8
MIN_POLLS = 20                  # two samples beyond p90
CYCLE_S = 1.35                  # one cycle on a 4-core box, for sizing the pass
TRACED_POLLS = 8                # timed polls the traced pass repeats


def schedule(seconds):
    """(warm polls, timed polls, fault poll): the timed pass covers at
    least MIN_POLLS cycles and about `seconds` of work at CYCLE_S each."""
    n = max(MIN_POLLS, int(round(seconds / CYCLE_S)))
    warm = range(WARM_POLLS)
    timed = range(WARM_POLLS, WARM_POLLS + n)
    return warm, timed, WARM_POLLS + n


def station_ids():
    known = [f"NL{i:05d}" for i in range(CATALOG_STATIONS)]
    unknown = [f"XX{i:03d}" for i in range(UNKNOWN_STATIONS)]
    return known, unknown


def hour(step):
    return BASE + timedelta(hours=step)


def micros(step):
    return int((hour(step) - datetime(1970, 1, 1, tzinfo=timezone.utc)).total_seconds()) * 1_000_000


@functools.lru_cache(maxsize=None)
def envelope_ts(step):
    """The emitted envelope's timestamp text (micros, UTC as Z)."""
    return hour(step).strftime("%Y-%m-%dT%H:%M:%S.000000Z")


@functools.lru_cache(maxsize=None)
def ts_shapes(step):
    """The five raw shapes of one instant: ISO Z, ISO +02:00, naive T,
    naive space, ISO micros."""
    t = hour(step)
    return (t.strftime("%Y-%m-%dT%H:%M:%SZ"),
            t.astimezone(timezone(timedelta(hours=2))).strftime("%Y-%m-%dT%H:%M:%S+02:00"),
            t.strftime("%Y-%m-%dT%H:%M:%S"),
            t.strftime("%Y-%m-%d %H:%M:%S"),
            t.strftime("%Y-%m-%dT%H:%M:%S.000000Z"))


class Replay:
    """All polls of one seed. Poll p's newest hour is p + WINDOW - 1."""

    def __init__(self, seed, n_polls):
        self.seed = seed
        self.n_polls = n_polls
        rng = random.Random(seed)
        known, unknown = station_ids()
        self.catalog = []
        for i, sid in enumerate(known):
            lat = None if rng.random() < NULL_ISLAND_SHARE else round(50.5 + rng.random() * 3, 4)
            self.catalog.append({"station_id": sid, "source": "nl", "city": f"City{i % 97}",
                                 "lat": lat, "lon": round(3.3 + rng.random() * 3.9, 4)})
        self.keys = [(s, p) for s in known + unknown for p in POLLUTANTS]
        # measurements[(key, step)] = (value, first visible step)
        self.measurements = {}
        for step in range(n_polls + WINDOW - 1):
            for key in self.keys:
                value = round(1.0 + rng.random() * 149.0, 1)
                delay = rng.choice((1, 2)) if rng.random() < LATE_SHARE else 0
                self.measurements[(key, step)] = (value, step + delay)
        self._by_step = {}
        for (key, step), m in self.measurements.items():
            self._by_step.setdefault(step, []).append((key, m))
        self._rng_seed = rng.randrange(1 << 30)
        self._polls = {}

    def poll_rows(self, p):
        """Raw rows of poll p, in arrival order."""
        if p not in self._polls:
            self._polls[p] = self._make_poll(p)
        return self._polls[p]

    def _make_poll(self, p):
        rng = random.Random(self._rng_seed * 1_000_003 + p)
        newest = p + WINDOW - 1
        rows = []
        for step in range(newest - WINDOW + 1, newest + 1):
            for (sid, pol), (value, visible) in self._by_step.get(step, []):
                if visible > newest:
                    continue
                rows.append(self._raw(sid, pol, value, step, rng))
                if rng.random() < RESEND_SHARE:
                    rows.append(self._raw(sid, pol, round(value + 0.1 * rng.randint(1, 9), 1), step, rng))
        rng.shuffle(rows)
        return rows

    def _raw(self, sid, pol, value, step, rng):
        u = rng.random()
        names = RAW_NAMES.get(pol) or (pol, pol.upper())
        name = "pm1" if u < BAD_POLLUTANT_SHARE else names[int(u * 1000) % len(names)]
        v = rng.random()
        shown = "n/a" if v < BAD_VALUE_SHARE else (value if v < 0.5 else str(value))
        return {"station_id": sid, "pollutant": name, "value": shown, "city": "City" + sid[-2:],
                "location_name": None if int(u * 100) % 2 else "Loc " + sid, "lat": "52.1",
                "lon": 5.1, "ts_raw": ts_shapes(step)[int(v * 10007) % 5], "_step": step}


def normalise_pollutant(name):
    return name.strip().lower().replace("pm2.5", "pm25")


def parse_value(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def cycle(rows, cursors):
    """Apply one poll to `cursors` (mutated); return the emitted rows as
    (station, pollutant, step, value) plus the per-stage counts."""
    valid = []
    for r in rows:
        pol = normalise_pollutant(r["pollutant"])
        val = parse_value(r["value"])
        if val is None or pol not in POLLUTANTS:
            continue
        valid.append((r["station_id"], pol, r["_step"], val))
    seen = set()
    deduped = []
    for sid, pol, step, val in valid:
        if (sid, pol, step) not in seen:
            seen.add((sid, pol, step))
            deduped.append((sid, pol, step, val))
    fresh = [r for r in deduped if (r[0], r[1]) not in cursors or r[2] > cursors[(r[0], r[1])]]
    for sid, pol, step, _ in fresh:
        cursors[(sid, pol)] = max(step, cursors.get((sid, pol), step))
    return fresh, {"rows_in": len(rows), "normalized": len(valid), "deduped": len(deduped),
                   "emitted": len(fresh)}


def canonical(row):
    sid, pol, step, val = row
    return f"{sid}|{pol}|{envelope_ts(step)}|{round(val * 10)}"


def cursor_hash(cursors):
    return stats.row_hash(f"{s}|{p}|{micros(step)}" for (s, p), step in cursors.items())


def reference(replay, warm, timed, fault, traced=0):
    """Expected results of: warm polls, timed polls, a replay of the last
    timed poll, then the fault poll emitted twice (commit failed once);
    and the cursors after a fresh replay of warm + the first `traced`
    timed polls."""
    cursors = {}
    sink = {}
    counts = {}
    after_traced = cursor_hash({})
    for i, p in enumerate(list(warm) + list(timed)):
        fresh, counts[p] = cycle(replay.poll_rows(p), cursors)
        sink[p] = [canonical(r) for r in fresh]
        if i + 1 == len(warm) + traced:
            after_traced = cursor_hash(cursors)
    after_timed = cursor_hash(cursors)
    replay_fresh, _ = cycle(replay.poll_rows(timed[-1]), dict(cursors))
    fault_fresh, counts[fault] = cycle(replay.poll_rows(fault), cursors)
    sink[fault] = [canonical(r) for r in fault_fresh] * 2
    cutoff_step = timed[len(timed) // 2]
    kept = sum(1 for rows in sink.values() for r in rows
               if r.split("|")[2] >= envelope_ts(cutoff_step))
    keys = {r["station_id"] for r in replay.catalog if r["lat"] is not None and r["lon"] is not None}
    return {
        "sink": {str(p): list(stats.row_hash(rows)) for p, rows in sink.items()},
        "cursors_after_timed": list(after_timed),
        "cursors_after_traced": list(after_traced),
        "cursors_final": list(cursor_hash(cursors)),
        "replay_emitted": len(replay_fresh),
        "fault_emitted": len(fault_fresh),
        "catalog_rows": len(keys),
        "cutoff_us": micros(cutoff_step),
        "housekeeping_kept": kept,
        "counts": {str(p): c for p, c in counts.items()},
    }


def write_inputs(replay, polls, out_dir):
    """Write the catalog pages and each poll's pages as JSONL."""
    cat_dir = os.path.join(out_dir, "catalog")
    os.makedirs(cat_dir, exist_ok=True)
    rows = replay.catalog + replay.catalog[: len(replay.catalog) // 10]  # re-listed stations
    write_pages(cat_dir, rows, 2)
    for p in polls:
        d = os.path.join(out_dir, "polls", f"poll-{p:05d}")
        os.makedirs(d, exist_ok=True)
        write_pages(d, [{k: v for k, v in r.items() if k != "_step"} for r in replay.poll_rows(p)],
                    PAGES_PER_POLL)


def write_pages(d, rows, n_pages):
    per = -(-len(rows) // n_pages)
    for i in range(n_pages):
        with open(os.path.join(d, f"page-{i:04d}.jsonl"), "w", encoding="utf-8") as f:
            for r in rows[i * per:(i + 1) * per]:
                f.write(json.dumps(r) + "\n")
