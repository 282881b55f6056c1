"""The ingest reference computation on a hand-built replay."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import ingest_gen as g  # noqa: E402
from bench import stats  # noqa: E402


def raw(sid, pol, step, value):
    return {"station_id": sid, "pollutant": pol, "value": value, "ts_raw": "", "_step": step}


POLL_A = [
    raw("NL1", "pm25", 5, 10.0),
    raw("NL1", "PM2.5", 5, 11.0),    # re-sent later in the same poll: first arrival wins
    raw("NL1", " pm25 ", 6, "12.0"),
    raw("NL2", "no2", 5, "n/a"),     # unparseable value: dropped by the normaliser
    raw("NL2", "pm1", 5, 7.0),       # not in the allowlist: dropped
    raw("NL2", "NO2", 4, 3.0),
]
POLL_B = [
    raw("NL1", "pm25", 6, 12.0),     # repeat of an emitted row: not newer than the cursor
    raw("NL1", "pm25", 5, 10.5),     # late, older than the cursor: dropped
    raw("NL2", "no2", 5, 4.0),       # late, but newer than its key's cursor: emitted
    raw("NL2", "no2", 5, 9.9),       # duplicate of the row above: dropped
    raw("NL3", "o3", 2, 1.0),        # first row of a new key
]
POLL_C = [raw("NL3", "o3", 3, 2.0), raw("NL1", "pm25", 6, 12.0)]


class FakeReplay:
    catalog = [{"station_id": "NL1", "lat": 1.0, "lon": 2.0},
               {"station_id": "NL2", "lat": None, "lon": 2.0},
               {"station_id": "NL3", "lat": 1.0, "lon": 2.0},
               {"station_id": "NL3", "lat": 1.0, "lon": 2.0}]

    def poll_rows(self, p):
        return [POLL_A, POLL_B, POLL_C][p]


class Cycle(unittest.TestCase):
    def test_first_wins_late_and_resent(self):
        cursors = {}
        fresh, counts = g.cycle(POLL_A, cursors)
        self.assertEqual(fresh, [("NL1", "pm25", 5, 10.0), ("NL1", "pm25", 6, 12.0), ("NL2", "no2", 4, 3.0)])
        self.assertEqual(counts, {"rows_in": 6, "normalized": 4, "deduped": 3, "emitted": 3})
        self.assertEqual(cursors, {("NL1", "pm25"): 6, ("NL2", "no2"): 4})
        fresh, counts = g.cycle(POLL_B, cursors)
        self.assertEqual(fresh, [("NL2", "no2", 5, 4.0), ("NL3", "o3", 2, 1.0)])
        self.assertEqual(counts["deduped"], 4)
        self.assertEqual(cursors, {("NL1", "pm25"): 6, ("NL2", "no2"): 5, ("NL3", "o3"): 2})

    def test_cursor_never_moves_back(self):
        cursors = {("NL1", "pm25"): 9}
        fresh, _ = g.cycle([raw("NL1", "pm25", 8, 1.0)], cursors)
        self.assertEqual(fresh, [])
        self.assertEqual(cursors[("NL1", "pm25")], 9)


class Reference(unittest.TestCase):
    def test_replay_fault_and_final_state(self):
        ref = g.reference(FakeReplay(), warm=[0], timed=[1], fault=2)
        self.assertEqual(ref["replay_emitted"], 0)
        self.assertEqual(ref["fault_emitted"], 1)
        fault_row = g.canonical(("NL3", "o3", 3, 2.0))
        self.assertEqual(ref["sink"]["2"], list(stats.row_hash([fault_row, fault_row])))
        self.assertEqual(ref["sink"]["1"][0], 2)
        self.assertEqual(ref["cursors_after_timed"],
                         list(g.cursor_hash({("NL1", "pm25"): 6, ("NL2", "no2"): 5, ("NL3", "o3"): 2})))
        self.assertEqual(ref["cursors_final"],
                         list(g.cursor_hash({("NL1", "pm25"): 6, ("NL2", "no2"): 5, ("NL3", "o3"): 3})))
        self.assertEqual(ref["catalog_rows"], 2)

    def test_canonical_row_text(self):
        self.assertEqual(g.canonical(("NL1", "pm25", 0, 23.4)), "NL1|pm25|2024-03-01T00:00:00.000000Z|234")


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, b, c = g.Replay(7, 3), g.Replay(7, 3), g.Replay(8, 3)
        self.assertEqual(a.poll_rows(2), b.poll_rows(2))
        self.assertNotEqual(a.poll_rows(2), c.poll_rows(2))

    def test_polls_repeat_a_trailing_window(self):
        r = g.Replay(1, 4)
        steps = {row["_step"] for row in r.poll_rows(3)}
        self.assertEqual(steps, set(range(3, 3 + g.WINDOW)))


if __name__ == "__main__":
    unittest.main()
