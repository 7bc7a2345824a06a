"""Loopback MaxScale CDC emitter: the changelog server the benchmark's
engine JVM reads from. It runs in its own process.

It plants the seeded log before it reports READY, speaks the CDC protocol
(auth and REGISTER acks, then `REQUEST-DATA table [gtid]` answered with the
schema line and newline-JSON events, replayed inclusively from the GTID and
then tailed live), and counts per connection kind the bytes it sent and
the time it spent blocked in writes.

Control protocol: one line per command on the control port, one reply
line each.
  PROBE             connections from now on are schema probes
  QUERY             the next connection is a stream's tailer, later ones
                    its replay readers
  SIDE              connections from now on are side-pass clients
  PHASE <name>      bytes sent from now on are counted under <name>
  LIVE              (live mode) start the fixed-rate generator;
                    reply: OK <t0_ns> <first_seq> <count> <rate>
  WAIT_LIVE         block until the generator has appended every event
  STATS             reply: one JSON object of counters
  QUIT              stop serving

Usage: python3 emitter.py --seed N --mode catchup|live [--live-seconds S];
the sizes are cdclog's constants. Prints
`READY <cdc_port> <control_port>` once the log is planted.
"""
import argparse
import json
import select
import socket
import sys
import threading
import time

import numpy as np

import cdclog

CHUNK = 1 << 20
WARM_TABLE = "db.warm"


class Log:
    """Append-only rendered log in a preallocated buffer (never resized, so
    connection threads can send straight from views of it)."""

    def __init__(self, n_bytes: int, n_events: int):
        self.buf = bytearray(n_bytes)
        self.view = memoryview(self.buf)
        self.offs = np.zeros(n_events + 1, dtype=np.int64)
        self.seqs = np.zeros(n_events, dtype=np.int64)
        self.count = 0
        self.cond = threading.Condition()

    def append(self, data, starts, seqs):
        """Append a rendered run: its bytes, line starts and sequences."""
        n = len(seqs)
        b0 = int(self.offs[self.count])
        nbytes = int(starts[n])
        self.buf[b0:b0 + nbytes] = data[:nbytes]
        self.offs[self.count + 1:self.count + n + 1] = b0 + starts[1:n + 1]
        self.seqs[self.count:self.count + n] = seqs
        with self.cond:
            self.count += n
            self.cond.notify_all()
        return nbytes


class Emitter:
    def __init__(self, log: Log, tables: dict):
        self.log = log
        self.tables = tables  # name -> event limit (None = whole log)
        self.schema = cdclog.schema_line()
        self.lock = threading.Lock()
        self.mode = "probe"
        self.phase = "setup"
        self.stats = {}
        self.appended = {}
        self.live = None
        self.stopping = False
        self.threads = []

    # --------------------------------------------------------- accounting

    def _bucket(self, kind: str) -> dict:
        per = self.stats.setdefault(self.phase, {})
        return per.setdefault(kind, {"conns": 0, "bytes": 0, "blocked_s": 0.0})

    def _kind_of_new_connection(self) -> str:
        with self.lock:
            kind = self.mode
            if kind == "tailer":
                self.mode = "replay"
            self._bucket(kind)["conns"] += 1
            return kind

    def _count_send(self, kind: str, nbytes: int, secs: float):
        with self.lock:
            b = self._bucket(kind)
            b["bytes"] += nbytes
            b["blocked_s"] += secs

    # ----------------------------------------------------------- CDC wire

    def serve(self, conn: socket.socket):
        kind = self._kind_of_new_connection()
        try:
            conn.settimeout(120)
            if not conn.recv(4096):  # auth
                return
            conn.sendall(b"OK\n")
            if not conn.recv(4096):  # REGISTER
                return
            conn.sendall(b"OK\n")
            req = conn.recv(4096).decode().split()
            if len(req) < 2 or req[0] != "REQUEST-DATA" or req[1] not in self.tables:
                conn.sendall(b"ERR unknown table\n")
                return
            limit = self.tables[req[1]]
            log = self.log
            gtid = cdclog.parse_gtid(req[2]) if len(req) > 2 else None
            with log.cond:
                n = log.count if limit is None else min(log.count, limit)
                pos = cdclog.replay_start(log.seqs, n, gtid)
            conn.sendall(self.schema)
            while not self.stopping:
                with log.cond:
                    n = log.count if limit is None else min(log.count, limit)
                    if pos >= n:
                        log.cond.wait(0.02)
                        n = log.count if limit is None else min(log.count, limit)
                if pos < n:
                    a, end = int(log.offs[pos]), int(log.offs[n])
                    while a < end:
                        b = min(end, a + CHUNK)
                        t0 = time.perf_counter()
                        conn.sendall(log.view[a:b])
                        self._count_send(kind, b - a, time.perf_counter() - t0)
                        a = b
                    pos = n
                elif select.select([conn], [], [], 0)[0]:
                    got = conn.recv(4096)
                    if not got or b"CLOSE" in got:
                        return
        except OSError:
            pass  # the reader hung up mid-send: a replay that reached its end
        finally:
            conn.close()

    def accept_loop(self, srv: socket.socket):
        while not self.stopping:
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            t = threading.Thread(target=self.serve, args=(conn,), daemon=True)
            t.start()
            self.threads.append(t)

    # ---------------------------------------------------------- generator

    def start_live(self, run, rate: float):
        data, starts, seqs = run
        count = len(seqs)
        t0 = time.time_ns() + 20_000_000
        late = np.zeros(count)
        self.live = {"late": late, "done": threading.Event()}

        def gen():
            done = 0
            while done < count and not self.stopping:
                now = time.time_ns()
                due = min(count, int((now - t0) * rate / 1e9) + 1) if now >= t0 else 0
                if due > done:
                    sched = t0 + np.arange(done, due) * (1e9 / rate)
                    late[done:due] = (now - sched) / 1e9
                    # append events [done, due) of the pre-rendered run
                    sub = starts[done:due + 1] - starts[done]
                    b = self.log.append(
                        data[int(starts[done]):int(starts[due])], sub,
                        seqs[done:due])
                    with self.lock:
                        self.appended[self.phase] = self.appended.get(self.phase, 0) + b
                    done = due
                next_due = t0 + done * (1e9 / rate)
                time.sleep(max(0.0, (next_due - time.time_ns()) / 1e9))
            self.live["done"].set()

        threading.Thread(target=gen, daemon=True).start()
        return t0, int(seqs[0]), count

    # ------------------------------------------------------------ control

    def control(self, conn: socket.socket):
        f = conn.makefile("rw", buffering=1)
        for line in f:
            cmd = line.split()
            if not cmd:
                continue
            reply = "OK"
            with self.lock:
                if cmd[0] == "PROBE":
                    self.mode = "probe"
                elif cmd[0] == "QUERY":
                    self.mode = "tailer"
                elif cmd[0] == "SIDE":
                    self.mode = "side"
                elif cmd[0] == "PHASE":
                    self.phase = cmd[1]
            if cmd[0] == "LIVE":
                t0, first, count = self.start_live(self.live_run, self.rate)
                reply = "OK %d %d %d %r" % (t0, first, count, self.rate)
            elif cmd[0] == "WAIT_LIVE":
                self.live["done"].wait()
            elif cmd[0] == "STATS":
                reply = json.dumps(self.snapshot())
            elif cmd[0] == "QUIT":
                f.write("OK\n")
                return True
            f.write(reply + "\n")
        return False

    def snapshot(self) -> dict:
        with self.lock:
            out = {"phases": json.loads(json.dumps(self.stats)),
                   "appended_bytes": dict(self.appended),
                   "log_events": self.log.count,
                   "first_run_bytes": self.first_run_bytes,
                   "log_bytes": int(self.log.offs[self.log.count])}
        if self.live is not None and self.live["done"].is_set():
            late = self.live["late"]
            out["gen_late_p50_s"] = float(np.percentile(late, 50))
            out["gen_late_p99_s"] = float(np.percentile(late, 99))
            out["gen_late_max_s"] = float(late.max())
        return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--mode", choices=["catchup", "live"], required=True)
    ap.add_argument("--live-seconds", type=float, default=10.0,
                    help="length of the live schedule, warm part included")
    a = ap.parse_args()

    pool = cdclog.note_pool(a.seed)
    runs = []
    if a.mode == "catchup":
        keys = cdclog.random_keys(a.seed, 1, cdclog.BACKLOG, cdclog.KEYS)
        runs.append(cdclog.generate(a.seed, 1, 1, keys, "update_after"))
    else:
        runs.append(cdclog.generate(a.seed, 0, 1, cdclog.permuted_keys(
            a.seed, 0, cdclog.KEYS), "insert"))
        n_live = int(round(cdclog.LIVE_RATE * a.live_seconds))
        runs.append(cdclog.generate(a.seed, 2, cdclog.KEYS + 1, cdclog.random_keys(
            a.seed, 2, n_live, cdclog.KEYS), "update_after"))
    rendered = [cdclog.render(ev, pool) for ev in runs]
    log = Log(sum(len(d) for d, _ in rendered), sum(len(ev) for ev in runs))
    log.append(rendered[0][0], rendered[0][1], runs[0].seq)
    tables = {cdclog.TABLE: None}
    if a.mode == "catchup":
        tables[WARM_TABLE] = cdclog.WARM_EVENTS
    em = Emitter(log, tables)
    em.first_run_bytes = len(rendered[0][0])
    em.rate = cdclog.LIVE_RATE
    em.live_run = ((rendered[1][0], rendered[1][1], runs[1].seq)
                   if a.mode == "live" else None)

    srv = socket.create_server(("127.0.0.1", 0))
    ctl = socket.create_server(("127.0.0.1", 0))
    threading.Thread(target=em.accept_loop, args=(srv,), daemon=True).start()
    print("READY %d %d" % (srv.getsockname()[1], ctl.getsockname()[1]),
          flush=True)
    try:
        while True:
            conn, _ = ctl.accept()
            with conn:
                if em.control(conn):
                    break
    finally:
        em.stopping = True
        srv.close()
        ctl.close()
        for t in em.threads:
            t.join(5)
    sys.exit(0)


if __name__ == "__main__":
    main()
