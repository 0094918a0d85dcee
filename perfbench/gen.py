"""Seeded, single-threaded input generator for the CDC workloads.

Events are the replication job's JSON envelope lines
(event_id, ts in ns, user_id, event_type, value, props). The generator
keeps its own record of every event, so the expected target state and
DLQ contents are folded here, independently of the program.
"""
import os
import random

VALID_TYPES = ["signup", "purchase", "view", "click"]
DELETE_TYPE = "error"      # the replication config's delete type
MAX_VALUE = 150.0          # the replication config's value bound
TS_BASE_NS = 1_760_000_000_000_000_000


class Segment:
    __slots__ = ("name", "payload", "rows", "events")

    def __init__(self, name, events):
        self.name = name
        self.events = events
        self.rows = len(events)
        self.payload = "".join(
            f'{{"event_id":{e[0]},"ts":{e[1]},"user_id":{e[2]},"event_type":"{e[3]}",'
            f'"value":{e[4]!r},"props":"{e[5]}"}}\n' for e in events).encode()


class Generator:
    """One seeded stream of events."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.next_id = 1

    def _ts(self):
        # ids 0.1 ms apart plus up to 2 s of reordering, at ms resolution
        # so (ts_us, event_id) ties are common
        i = self.next_id
        jitter = self.rng.randrange(0, 2_000_000_000)
        return (TS_BASE_NS + i * 100_000 + jitter) // 1_000_000 * 1_000_000

    def _event(self, user_id, event_type, value):
        e = (self.next_id, self._ts(), user_id, event_type, value, f"p{self.rng.randrange(100)}")
        self.next_id += 1
        return e

    def fixture_event(self):
        """The fixture law: 15,000 keys, 5 types (~20% deletes), ~5% invalid."""
        r = self.rng.random()
        uid = self.rng.randrange(1, 15_001)
        value = round(self.rng.uniform(0.0, MAX_VALUE), 2)
        if r < 0.025:
            return self._event(uid, "bogus", value)                       # unknown type
        if r < 0.05:
            return self._event(uid, self.rng.choice(VALID_TYPES),
                               round(self.rng.uniform(MAX_VALUE + 1, 300.0), 2))  # out of range
        if r < 0.25:
            return self._event(uid, DELETE_TYPE, value)
        return self._event(uid, self.rng.choice(VALID_TYPES), value)

    def segments(self, make, n_segments, rows_per_segment):
        return [Segment(f"seg{s:07d}.log",
                        [make() for _ in range(rows_per_segment)])
                for s in range(n_segments)]


def is_valid(e):
    _, _, _, etype, value, _ = e
    return (etype in VALID_TYPES or etype == DELETE_TYPE) and 0.0 <= value <= MAX_VALUE


def expected_state(segments):
    """Latest (ts_us, event_id) valid event per key, with its provenance,
    plus the event_ids the DLQ must hold."""
    state, dlq = {}, set()
    for seg in segments:
        for off, e in enumerate(seg.events):
            if not is_valid(e):
                dlq.add(e[0])
                continue
            pos = (e[1] // 1000, e[0])
            cur = state.get(e[2])
            if cur is None or pos > cur[0]:
                state[e[2]] = (pos, e, seg.name, off)
    rows = {k: (e[0], e[1], e[3], e[4], e[5], e[3] == DELETE_TYPE, name, off)
            for k, (_, e, name, off) in state.items()}
    return rows, dlq


def write_segment(log_dir, seg):
    """Lands one segment atomically: the log reader lists *.log only."""
    tmp = os.path.join(log_dir, seg.name + ".tmp")
    with open(tmp, "wb") as f:
        f.write(seg.payload)
    os.rename(tmp, os.path.join(log_dir, seg.name))
