"""Self-tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import socket
import threading
import unittest

import numpy as np

import cdclog
import emitter
import run
import stats


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 99), 99)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        for n in (40, 100, 200, 1000, 20000):
            self.assertGreaterEqual(stats.beyond(stats.tail_percentile(n), n), 10)

    def test_summary_reports_count(self):
        s = stats.summary(np.arange(1000) / 1000.0)
        self.assertEqual(s["n"], 1000)
        self.assertEqual(s["tail_p"], 99.0)
        self.assertAlmostEqual(s["tail"], 0.989)


class FreshnessJoin(unittest.TestCase):
    def test_event_published_by_first_batch_covering_it(self):
        ends = [3, 5, 9]
        pub = [100, 200, 400]
        got = stats.publish_times([1, 3, 4, 5, 6, 9], ends, pub)
        self.assertEqual(list(got), [100, 100, 200, 200, 400, 400])

    def test_uncovered_events_are_nan(self):
        got = stats.publish_times([10, 11], [3, 9], [1, 2])
        self.assertTrue(np.isnan(got).all())

    def test_visibility_is_publish_minus_due(self):
        vis = stats.visibility_s([1, 2], [0, 1_000_000_000], [2], [3_000_000_000])
        self.assertEqual(list(vis), [3.0, 2.0])

    def test_rejects_out_of_order_batches(self):
        with self.assertRaises(ValueError):
            stats.publish_times([1], [5, 3], [1, 2])


class Recompute(unittest.TestCase):
    def setUp(self):
        self.pool = cdclog.note_pool(5)
        self.a = cdclog.generate(5, 0, 1, np.array([1, 2, 3]), "insert")
        self.b = cdclog.generate(5, 1, 4, np.array([2, 2, 9]), "update_after")

    def test_latest_by_gtid_wins(self):
        exp = cdclog.latest_by_key(self.a, self.b)
        self.assertEqual(sorted(exp), [1, 2, 3, 9])
        self.assertEqual(exp[2][0], 5)  # the later of the two updates to key 2
        self.assertEqual(exp[1][0], 1)

    def _rows(self, exp):
        for k, (seq, qty, ver, amount, upd, off, ln) in exp.items():
            yield {"id": k, "sequence": seq, "qty": qty, "version": ver,
                   "amount": amount, "upd_us": upd,
                   "note": cdclog.note_text(self.pool, off, ln).decode()}

    def test_state_check(self):
        exp = cdclog.latest_by_key(self.a, self.b)
        rows = list(self._rows(exp))
        self.assertEqual(cdclog.check_state(exp, rows, self.pool), [])
        stale = [dict(r, sequence=4) if r["id"] == 2 else r for r in rows]
        self.assertEqual(cdclog.check_state(exp, stale, self.pool), [2])
        self.assertEqual(cdclog.check_state(exp, rows[1:], self.pool), [rows[0]["id"]])
        self.assertEqual(cdclog.check_state(exp, rows + rows[:1], self.pool),
                         [rows[0]["id"]])

    def test_rendered_line_round_trips(self):
        data, offs = cdclog.render(self.b, self.pool)
        self.assertEqual(len(offs), len(self.b) + 1)
        row = json.loads(data[offs[1]:offs[2]])
        self.assertEqual(row["sequence"], 5)
        self.assertEqual(row["id"], 2)
        self.assertEqual(row["amount"], float(self.b.amount[1]))
        self.assertEqual(row["note"], cdclog.note_text(
            self.pool, int(self.b.note_off[1]), int(self.b.note_len[1])).decode())


class InclusiveReplay(unittest.TestCase):
    seqs = np.array([1, 2, 3, 5, 8])

    def test_requested_event_is_replayed(self):
        self.assertEqual(cdclog.replay_start(self.seqs, 5, (0, 1, 3)), 2)

    def test_fabricated_cut_starts_at_next_event(self):
        self.assertEqual(cdclog.replay_start(self.seqs, 5, (0, 1, 4)), 3)
        self.assertEqual(cdclog.replay_start(self.seqs, 5, (0, 1, 9)), 5)

    def test_no_gtid_and_other_domains(self):
        self.assertEqual(cdclog.replay_start(self.seqs, 5, None), 0)
        self.assertEqual(cdclog.replay_start(self.seqs, 5, (1, 1, 1)), 5)
        # server id breaks ties within one sequence number
        self.assertEqual(cdclog.replay_start(self.seqs, 5, (0, 2, 3)), 3)

    def test_served_over_the_wire(self):
        pool = cdclog.note_pool(1)
        ev = cdclog.generate(1, 1, 1, np.arange(10), "update_after")
        data, offs = cdclog.render(ev, pool)
        log = emitter.Log(len(data), len(ev))
        log.append(data, offs, ev.seq)
        em = emitter.Emitter(log, {cdclog.TABLE: None})
        srv = socket.create_server(("127.0.0.1", 0))
        threading.Thread(target=em.accept_loop, args=(srv,), daemon=True).start()
        try:
            with socket.create_connection(srv.getsockname()) as c:
                f = c.makefile("rb")
                for msg in (b"61623a" + b"0" * 40, b"REGISTER UUID=X, TYPE=JSON"):
                    c.sendall(msg)
                    self.assertEqual(f.readline(), b"OK\n")
                c.sendall(b"REQUEST-DATA %s 0-1-7" % cdclog.TABLE.encode())
                self.assertIn(b'"fields"', f.readline())
                seqs = [json.loads(f.readline())["sequence"] for _ in range(4)]
                self.assertEqual(seqs, [7, 8, 9, 10])
                c.sendall(b"CLOSE")
        finally:
            em.stopping = True
            srv.close()


class OracleInputTables(unittest.TestCase):
    def test_base_tables_of_the_parse_tree(self):
        import duckdb
        sql = ("WITH x AS (SELECT * FROM orders) SELECT * FROM x JOIN lineitem "
               "ON true WHERE 1 IN (SELECT 1 FROM part)")
        tree = json.loads(duckdb.connect().execute(
            "SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0])
        self.assertEqual(run.sql_tables(tree) & set(run.FIXTURE_TABLES),
                         {"orders", "lineitem", "part"})


if __name__ == "__main__":
    unittest.main()
