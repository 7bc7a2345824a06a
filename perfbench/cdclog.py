"""Seeded MaxScale CDC change logs, the emitter's replay index, and the
per-key recompute the sink state is checked against.

Every event carries the GTID trio (domain 0, server 1, dense sequence
numbers from 1), the MaxScale event header and five typed table columns:
`id` (the key), `qty` (int), `version` (bigint), `amount` (double),
`updated_at` (datetime(6)) and `note` (a ~200-byte varchar).
"""
import numpy as np

DOMAIN = 0
SERVER_ID = 1
TABLE = "db.changes"

# workload sizes (BENCHMARK.json's `why` lines repeat them)
KEYS = 100_000         # key space of both CDC workloads
BACKLOG = 160_000      # cdc_catchup: events planted behind the emitter
WARM_EVENTS = 40_000   # cdc_catchup: the untimed warm round's table
LIVE_RATE = 2000.0     # cdc_live_tail: events/s of the open-loop generator

# (name, avro type, real_type, length) -- the emitter's in-band schema
FIELDS = [
    ("domain", "int", "int", -1),
    ("server_id", "int", "int", -1),
    ("sequence", "int", "int", -1),
    ("event_number", "int", "int", -1),
    ("timestamp", "int", "int", -1),
    ("event_type", "string", "varchar", 32),
    ("id", "int", "int", -1),
    ("qty", "int", "int", -1),
    ("version", "long", "bigint", -1),
    ("amount", "double", "double", -1),
    ("updated_at", "string", "datetime", -1),
    ("note", "string", "varchar", 255),
]

NOTE_MIN, NOTE_MAX = 150, 250
POOL_BYTES = 1 << 20
_BASE_US = 1_700_000_000 * 1_000_000  # 2023-11-14 22:13:20 UTC


def schema_line() -> bytes:
    parts = []
    for name, avro, real, length in FIELDS:
        parts.append('{"name":"%s","type":"%s","real_type":"%s","length":%d}'
                     % (name, avro, real, length))
    return ('{"namespace":"MaxScaleChangeDataSchema.avro","type":"record",'
            '"name":"ChangeRecord","fields":[' + ",".join(parts) + ']}\n'
            ).encode()


class Events:
    """Column arrays for a run of consecutive sequence numbers. `note` i is
    `note_text(pool, note_off[i], note_len[i])`."""

    def __init__(self, seq, key, qty, version, amount, upd_us, note_off,
                 note_len, event_type):
        self.seq = seq
        self.key = key
        self.qty = qty
        self.version = version
        self.amount = amount
        self.upd_us = upd_us
        self.note_off = note_off
        self.note_len = note_len
        self.event_type = event_type

    def __len__(self):
        return len(self.seq)


def note_pool(seed: int) -> bytes:
    """Letters the `note` values are cut from (JSON-safe, no escapes)."""
    rng = np.random.default_rng([seed, 7])
    return (rng.integers(0, 26, POOL_BYTES, dtype=np.uint8) + ord("a")).tobytes()


def note_text(pool: bytes, off: int, length: int) -> bytes:
    off %= len(pool)
    return (pool[off:] + pool)[:length] if off + length > len(pool) \
        else pool[off:off + length]


def generate(seed: int, stream: int, first_seq: int, keys: np.ndarray,
             event_type: str) -> Events:
    """Events `first_seq ..` for the given key sequence; every other column
    is drawn from (seed, stream). Notes are consecutive cuts of the pool,
    so a run's notes are one contiguous (wrapping) stretch of it."""
    n = len(keys)
    rng = np.random.default_rng([seed, stream])
    seq = np.arange(first_seq, first_seq + n, dtype=np.int64)
    note_len = rng.integers(NOTE_MIN, NOTE_MAX + 1, n)
    note_off = np.empty(n, dtype=np.int64)
    note_off[0] = rng.integers(0, POOL_BYTES)
    np.cumsum(note_len[:-1], out=note_off[1:])
    note_off[1:] += note_off[0]
    return Events(
        seq=seq,
        key=np.asarray(keys, dtype=np.int64),
        qty=rng.integers(1, 1000, n),
        version=rng.integers(1, 1 << 40, n),
        amount=np.round(rng.uniform(0, 100000, n), 2),
        upd_us=_BASE_US + seq * 1_000_003 + rng.integers(0, 1_000_000, n),
        note_off=note_off,
        note_len=note_len,
        event_type=event_type)


def random_keys(seed: int, stream: int, n: int, key_space: int) -> np.ndarray:
    return np.random.default_rng([seed, stream, 1]).integers(0, key_space, n)


def permuted_keys(seed: int, stream: int, key_space: int) -> np.ndarray:
    return np.random.default_rng([seed, stream, 1]).permutation(key_space)


def render(ev: Events, pool: bytes):
    """The events as MaxScale sends them, one JSON line each: returns the
    concatenated bytes and the int64 line-start offsets (len(ev) + 1)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def text(a):
        return pc.cast(pa.array(a), pa.string())

    n = len(ev)
    total = int(ev.note_len.sum())
    start = int(ev.note_off[0]) % len(pool)
    reps = (start + total) // len(pool) + 1
    letters = (pool * reps)[start:start + total]
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(ev.note_len, out=offs[1:])
    notes = pa.LargeStringArray.from_buffers(
        n, pa.py_buffer(offs), pa.py_buffer(letters))
    upd = pc.cast(pa.array(ev.upd_us.astype("datetime64[us]")), pa.string())
    lines = pc.binary_join_element_wise(
        '{"domain":%d,"server_id":%d,"sequence":' % (DOMAIN, SERVER_ID),
        text(ev.seq), ',"event_number":1,"timestamp":',
        text(ev.upd_us // 1_000_000),
        ',"event_type":"%s","id":' % ev.event_type, text(ev.key),
        ',"qty":', text(ev.qty), ',"version":', text(ev.version),
        ',"amount":', text(ev.amount), ',"updated_at":"', upd,
        '","note":"', pc.cast(notes, pa.string()), '"}\n', "")
    lines = lines.cast(pa.large_string())
    _, line_offs, data = lines.buffers()
    starts = np.frombuffer(line_offs, dtype=np.int64)[:n + 1]
    base = int(starts[0])
    return data.to_pybytes()[base:int(starts[-1])], starts - base


def parse_gtid(s: str):
    d, srv, q = s.strip().split("-")
    return int(d), int(srv), int(q)


def replay_start(seqs: np.ndarray, count: int, gtid) -> int:
    """Index of the first of the first `count` events a `REQUEST-DATA table
    gtid` replays. MaxScale replays INCLUSIVELY: the event at the requested
    position is sent again, and a position that is not an event of the
    table (a fabricated range cut) starts at the next event after it. GTID
    order is (domain, sequence, server_id)."""
    if gtid is None:
        return 0
    d, srv, q = gtid
    if d < DOMAIN:
        return 0
    if d > DOMAIN:
        return count
    i = int(np.searchsorted(seqs[:count], q, side="left"))
    if i < count and seqs[i] == q and SERVER_ID < srv:
        i += 1  # same sequence, lower server id: strictly before the request
    return i


def latest_by_key(*runs: Events) -> dict:
    """Recompute of the emitted log: per key, the event with the greatest
    GTID (runs are given in log order, so the last occurrence wins)."""
    out = {}
    for ev in runs:
        for i in range(len(ev)):
            out[int(ev.key[i])] = i, ev
    return {k: row(ev, i) for k, (i, ev) in out.items()}


def row(ev: Events, i: int) -> tuple:
    """The state row the sink must hold for event i: (sequence, qty,
    version, amount, updated_at micros, note offset, note length)."""
    return (int(ev.seq[i]), int(ev.qty[i]), int(ev.version[i]),
            float(ev.amount[i]), int(ev.upd_us[i]), int(ev.note_off[i]),
            int(ev.note_len[i]))


def check_state(expected: dict, state_rows, pool: bytes) -> list:
    """Compare the sink's final rows with the recompute. `state_rows` yields
    dicts with id, sequence, qty, version, amount, upd_us, note. Returns the
    keys that differ (missing, extra or wrong)."""
    bad = []
    seen = set()
    for r in state_rows:
        k = int(r["id"])
        exp = expected.get(k)
        if exp is None or k in seen:
            seen.add(k)
            bad.append(k)
            continue
        seen.add(k)
        seq, qty, version, amount, upd, off, ln = exp
        if (int(r["sequence"]) != seq or int(r["qty"]) != qty
                or int(r["version"]) != version or float(r["amount"]) != amount
                or int(r["upd_us"]) != upd
                or r["note"] != note_text(pool, off, ln).decode()):
            bad.append(k)
    bad.extend(k for k in expected if k not in seen)
    return bad
