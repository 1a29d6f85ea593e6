"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import report  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p95 has exactly 10 above it
        p, v, n = stats.tail_percentile(xs)
        self.assertEqual((p, v, n), (95.0, 190, 200))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_fewer_samples_lower_percentile(self):
        p, v, n = stats.tail_percentile(list(range(100, 0, -1)))  # unsorted input
        self.assertEqual((p, v, n), (90.0, 90, 100))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile([1.0] * 10))
        self.assertEqual(stats.tail_percentile([5.0] * 11)[0], 100.0 * 1 / 11)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


class OpenLoop(unittest.TestCase):
    def test_latency_from_due_time(self):
        # due at 0 and 100; the generator stalls and hands both over late,
        # and the second waits for a free client
        ops = [{"due": 0.0, "submit": 30.0, "send": 30.0, "end": 80.0},
               {"due": 100.0, "submit": 110.0, "send": 150.0, "end": 200.0}]
        ol = stats.open_loop(ops)
        self.assertEqual(ol["latency"], [80.0, 100.0])   # end - due, not end - send
        self.assertEqual(ol["lateness"], [30.0, 10.0])   # generator: submit - due
        self.assertEqual(ol["queued"], [0.0, 40.0])      # waiting for a client
        self.assertEqual(ol["service"], [50.0, 50.0])    # end - send

    def test_stall_charges_later_requests(self):
        # one stall of 500 ms delays every request due during it; timing from
        # the send time would hide all of that wait
        ops = [{"due": d, "submit": 500.0, "send": 500.0, "end": 510.0} for d in (0.0, 100.0, 200.0)]
        ol = stats.open_loop(ops)
        self.assertEqual(ol["latency"], [510.0, 410.0, 310.0])
        self.assertEqual(ol["service"], [10.0, 10.0, 10.0])


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(5, 3)]), 0.0)

    def test_self_time_subtracts_covered_part(self):
        parent = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 30.0}, {"start": 20.0, "end": 40.0},
                {"start": 90.0, "end": 120.0}]  # overlapping, and one past the end
        self.assertEqual(stats.self_time(parent, kids), 100.0 - 30.0 - 10.0)

    def test_self_times_by_name(self):
        spans = [
            {"id": 1, "parent": 0, "name": "a", "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "name": "b", "start": 2.0, "end": 5.0},
            {"id": 3, "parent": 2, "name": "c", "start": 3.0, "end": 4.0},
            {"id": 4, "parent": 0, "name": "b", "start": 20.0, "end": 22.0},
        ]
        self.assertEqual(stats.self_times(spans), {"a": 7.0, "b": 4.0, "c": 1.0})


class Attribution(unittest.TestCase):
    def test_fifo_server_owns_jobs_of_earliest_in_flight_request(self):
        reqs = [{"send": 0.0, "end": 100.0}, {"send": 50.0, "end": 180.0}]
        jobs = [{"start": 10.0}, {"start": 60.0}, {"start": 120.0}, {"start": 300.0}]
        owned = stats.attribute_fifo(reqs, jobs)
        self.assertEqual([j["start"] for j in owned[0]], [10.0, 60.0])
        self.assertEqual([j["start"] for j in owned[1]], [120.0])


class Metrics(unittest.TestCase):
    def test_spread_matches_quartile_rule(self):
        self.assertAlmostEqual(stats.spread([10.0] * 9 + [11.0]), 0.0)
        vs = [float(x) for x in range(1, 11)]
        self.assertAlmostEqual(stats.spread(vs), (8.25 - 2.75) / 5.5)

    def test_serve_end_to_end(self):
        rec = {
            "workload": "serve-http", "setup_s": 3.0, "clients": 2,
            "build": {"docs": 100, "stats_s": 1.0, "postings_s": 1.0, "bytes": 300, "postings": 100},
            "ops": [
                {"phase": "open", "ok": True, "due": 0.0, "submit": 0.0, "send": 5.0, "end": 100.0},
                {"phase": "open", "ok": True, "due": 0.0, "submit": 0.0, "send": 0.0, "end": 300.0},
                {"phase": "open", "ok": False, "due": 0.0, "submit": 0.0, "send": 0.0, "end": 1.0},
                {"phase": "closed", "ok": True, "due": 0.0, "submit": 0.0, "send": 0.0, "end": 500.0},
                {"phase": "closed", "ok": True, "due": 0.0, "submit": 0.0, "send": 0.0, "end": 500.0},
            ],
        }
        m = report.end_to_end(rec)
        self.assertEqual(m["op_p50_ms"], 200.0)        # failed request excluded
        self.assertEqual(m["work_per_s"], 4.0)         # 2 clients / 0.5 s
        self.assertEqual(m["build_docs_per_s"], 50.0)
        self.assertEqual(m["index_bytes_per_posting"], 3.0)


if __name__ == "__main__":
    unittest.main()
