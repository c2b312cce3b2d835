"""Tests of the benchmark's own math.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchmath as bm  # noqa: E402


def live_batches(anchor, start, total, eps, trigger_ts, trigger_ms):
    """Batches a rate-scheduled source would produce: a trigger at ts admits
    every id whose scheduled time has passed (capped at total)."""
    out, prev = [], start
    for n, ts in enumerate(trigger_ts):
        avail = start + int((ts - anchor) * eps // 1000)
        end = min(total, max(prev, avail))
        out.append({"batch": n, "ts_ms": ts, "trigger_ms": trigger_ms,
                    "start": prev if n else -1, "end": end, "latest": end,
                    "rows": end - prev})
        prev = end
    return out


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(bm.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(bm.percentile([5], 99), 5)
        self.assertAlmostEqual(bm.percentile(list(range(101)), 99), 99.0)

    def test_order_of_input_does_not_matter(self):
        self.assertEqual(bm.percentile([3, 1, 2], 50), bm.percentile([1, 2, 3], 50))


class LiveLatencyTest(unittest.TestCase):
    anchor, start, eps = 10_000, 500, 1000
    total = start + 3000

    def batches(self):
        return live_batches(self.anchor, self.start, self.total, self.eps,
                            [10_400, 11_400, 12_400, 13_400, 14_400], 250)

    def test_anchor_is_recovered_within_one_event_interval(self):
        bs = bm.data_batches(self.batches(), self.start)
        a = bm.infer_anchor_ms(bs, self.start, self.total, self.eps)
        self.assertLessEqual(a, self.anchor)
        self.assertGreaterEqual(a, self.anchor - 1000 / self.eps)

    def test_capped_batches_do_not_bound_the_anchor(self):
        bs = bm.data_batches(self.batches(), self.start)
        self.assertEqual(bs[-1]["end"], self.total)
        late = dict(bs[-1], ts_ms=bs[-1]["ts_ms"] + 60_000)
        a = bm.infer_anchor_ms(bs[:-1] + [late], self.start, self.total, self.eps)
        self.assertLessEqual(a, self.anchor)

    def test_latency_is_batch_end_minus_scheduled_time(self):
        s = {"start": self.start, "total": self.total, "eps": self.eps,
             "batches": self.batches(), "start_call_ms": self.anchor,
             "end_ms": 15_000, "leaderboard_ok": True}
        o = bm.stream_outcome(s, limit_ms=5000)
        self.assertEqual(o["committed"], 3000)
        self.assertEqual(len(o["latencies_ms"]), 3000)
        # Brute force with the true anchor: event i is due at anchor + i ms
        # (eps = 1000) and lands in the first trigger at or after it.
        due = [self.anchor + k for k in range(3000)]
        ends = []
        for d in due:
            ts = next(t for t in [10_400, 11_400, 12_400, 13_400, 14_400]
                      if (t - self.anchor) * self.eps // 1000 > d - self.anchor)
            ends.append(ts + 250 - d)
        for q in (50, 99):
            got = bm.percentile(o["latencies_ms"], q)
            want = bm.percentile(ends, q)
            self.assertAlmostEqual(got, want, delta=1.0)
        self.assertEqual(o["failed"], 0)

    def test_ramp_events_are_checked_but_not_sampled(self):
        s = {"start": self.start, "total": self.total, "eps": self.eps,
             "batches": self.batches(), "start_call_ms": self.anchor,
             "end_ms": 15_000, "leaderboard_ok": True}
        full = bm.stream_outcome(s, limit_ms=5000)
        ramped = bm.stream_outcome(s, limit_ms=5000, ramp_ms=1000)
        # eps = 1000: the first 1000 ms of the schedule hold ~1000 events.
        self.assertAlmostEqual(len(full["latencies_ms"]) - len(ramped["latencies_ms"]),
                               1000, delta=1)
        self.assertEqual(ramped["failed"], full["failed"])

    def test_events_past_the_limit_fail(self):
        s = {"start": self.start, "total": self.total, "eps": self.eps,
             "batches": self.batches(), "start_call_ms": self.anchor,
             "end_ms": 15_000, "leaderboard_ok": True}
        o = bm.stream_outcome(s, limit_ms=1000)
        want = sum(1 for x in o["latencies_ms"] if x > 1000)
        self.assertGreater(want, 0)
        self.assertEqual(o["late"], want)
        self.assertEqual(o["failed"], want)


class ErrorRateTest(unittest.TestCase):
    def stream(self, batches, **kw):
        return dict({"start": 0, "total": 30, "batches": batches,
                     "start_call_ms": 0, "end_ms": 10_000,
                     "leaderboard_ok": True}, **kw)

    @staticmethod
    def b(n, s, e):
        return {"batch": n, "ts_ms": 100 * n, "trigger_ms": 10, "start": s,
                "end": e, "latest": e, "rows": e - max(s, 0)}

    def test_gap_and_replay_ids_count_as_failed(self):
        o = bm.stream_outcome(self.stream(
            [self.b(0, 0, 10), self.b(1, 12, 20), self.b(2, 18, 30)]))
        self.assertEqual((o["gaps"], o["replays"]), (2, 2))
        self.assertEqual(o["failed"], 4)

    def test_uncommitted_tail_counts_as_failed(self):
        o = bm.stream_outcome(self.stream([self.b(0, 0, 10), self.b(1, 10, 25)]))
        self.assertEqual(o["failed"], 5)

    def test_query_error_or_wrong_leaderboard_fails_everything(self):
        bs = [self.b(0, 0, 30)]
        self.assertEqual(bm.stream_outcome(self.stream(bs, error="boom"))["failed"], 30)
        self.assertEqual(bm.stream_outcome(
            self.stream(bs, leaderboard_ok=False))["failed"], 30)

    def test_drained_stream_with_idle_progress_has_no_failures(self):
        bs = [self.b(0, -1, 10), self.b(1, 10, 30), dict(self.b(2, 30, 30), rows=0)]
        o = bm.stream_outcome(self.stream(bs))
        self.assertEqual((o["failed"], o["committed"]), (0, 30))
        self.assertEqual(o["last_end_ms"], 110)
        self.assertEqual((o["batches"], o["steady_eps"]), (2, 2000.0))
        self.assertEqual(o["latencies_ms"], [])

    def test_steady_rate_leaves_out_the_first_batch(self):
        bs = [{"rows": 100, "trigger_ms": 1000}, {"rows": 300, "trigger_ms": 100},
              {"rows": 100, "trigger_ms": 100}]
        self.assertEqual(bm.steady_rate(bs), 2000.0)
        self.assertTrue(math.isnan(bm.steady_rate(bs[:1])))

    def test_live_stream_without_an_anchor_fails_everything(self):
        o = bm.stream_outcome(self.stream([], eps=1000), limit_ms=5000)
        self.assertEqual((o["failed"], o["latencies_ms"]), (30, []))

    def test_metrics_without_a_value_are_left_out(self):
        m = {"wall_s": 1.5, "latency_p50_ms": float("nan"), "cpu_s": 0.0}
        self.assertEqual(bm.finite_metrics(m), {"wall_s": 1.5, "cpu_s": 0.0})

    def test_catalog_failures(self):
        golden = {"a": "1:00", "b": "2:00", "c": "3:00"}
        entries = [
            {"name": "a", "fingerprint": "1:00", "error": None, "total_s": 1.0},
            {"name": "b", "fingerprint": "2:ff", "error": None, "total_s": 0.1},
            {"name": "c", "fingerprint": None, "error": "boom", "total_s": 0.01},
            {"name": "d", "fingerprint": "4:00", "error": None, "total_s": 0.5},
        ]
        ok, failed = bm.catalog_outcome(entries, golden)
        self.assertEqual([e["name"] for e in ok], ["a"])
        self.assertEqual([e["name"] for e in failed], ["b", "c", "d"])
        self.assertEqual(bm.error_rate(len(entries), len(failed)), 0.75)

    def test_catalog_times_are_medians_over_passes_that_passed(self):
        golden = {"a": "1:00", "b": "2:00"}

        def entry(name, t, fp=None):
            return {"name": name, "fingerprint": fp or golden[name], "error": None,
                    "total_s": t}
        rounds = [
            {"cpu_s": 9.0, "entries": [entry("a", 1.0), entry("b", 3.0)]},
            {"cpu_s": 5.0, "entries": [entry("a", 9.0), entry("b", 2.0, "2:ff")]},
            {"cpu_s": 6.0, "entries": [entry("a", 2.0), entry("b", 4.0)]},
        ]
        m = bm.catalog_times(rounds, golden)
        # a: median(1, 9, 2) = 2; b: median(3, 4) = 3.5, its failed 2.0 left out.
        self.assertEqual(m["wall_s"], 5.5)
        self.assertEqual(m["cpu_s"], 6.0)
        self.assertEqual(m["events_per_s"], 2 / 5.5)
        self.assertEqual(m["latency_p50_ms"], 2750.0)
        self.assertAlmostEqual(m["latency_p99_ms"], 3485.0)

    def test_reference_speed_divides_times_and_multiplies_rates(self):
        m = {"wall_s": 6.0, "latency_p99_ms": 300.0, "events_per_s": 10.0}
        # Median probe 0.9 s against a 0.6 s reference: the host ran 1.5x slow.
        got = bm.at_reference_speed(m, [0.9, 1.2, 0.6], 0.6)
        self.assertEqual(got, {"wall_s": 4.0, "latency_p99_ms": 200.0,
                               "events_per_s": 15.0})

    def test_catalog_times_without_a_passing_entry_have_no_value(self):
        rounds = [{"cpu_s": 1.0, "entries": [
            {"name": "a", "fingerprint": None, "error": "boom", "total_s": 0.1}]}]
        m = bm.catalog_times(rounds, {"a": "1:00"})
        self.assertEqual(bm.finite_metrics(m), {"cpu_s": 1.0})


class SpanTest(unittest.TestCase):
    @staticmethod
    def span(i, kind, s, e, parent=None):
        return {"id": i, "kind": kind, "name": f"{kind}{i}", "start_ms": s,
                "end_ms": e, "parent": parent, "attrs": {}}

    def test_self_time_subtracts_the_union_of_children(self):
        parent = self.span(1, "entry", 0, 100)
        kids = [self.span(2, "job", 10, 30), self.span(3, "job", 20, 40),
                self.span(4, "job", 90, 120)]
        # Children cover [10, 40) and [90, 100): 40 ms of 100.
        self.assertEqual(bm.self_time_ms(parent, kids), 60)

    def test_parents_by_containment_and_totals_by_kind(self):
        spans = [self.span(1, "entry", 0, 100), self.span(2, "query", 10, 60),
                 self.span(3, "job", 20, 50), self.span(4, "stage", 25, 45, parent=3),
                 self.span(5, "phase", 10, 20, parent=2),
                 self.span(6, "job", 70, 80)]
        assigned = {s["id"]: s["parent"] for s in bm.assign_parents(spans)}
        self.assertEqual(assigned[2], 1)
        self.assertEqual(assigned[3], 2)
        self.assertEqual(assigned[6], 1)
        t = bm.self_time_by_kind_s(spans)
        self.assertAlmostEqual(t["entry"], (100 - 50 - 10) / 1000)
        self.assertAlmostEqual(t["query"], (50 - 10 - 30) / 1000)
        self.assertAlmostEqual(t["job"], (30 - 20 + 10) / 1000)
        self.assertAlmostEqual(t["stage"], 20 / 1000)

    def test_a_query_inside_a_micro_batch_belongs_to_it(self):
        spans = [self.span(1, "entry", 0, 100), self.span(2, "batch", 10, 60),
                 self.span(3, "query", 20, 50), self.span(4, "job", 30, 40)]
        assigned = {s["id"]: s["parent"] for s in bm.assign_parents(spans)}
        self.assertEqual((assigned[2], assigned[3], assigned[4]), (1, 2, 3))
        t = bm.self_time_by_kind_s(spans)
        self.assertAlmostEqual(t["batch"], 20 / 1000)


class StreamLayersTest(unittest.TestCase):
    def test_sums_medians_and_backlog(self):
        def p(run, ts, rows, trig, start, end, latest, put):
            return {"run": run, "batch": 0, "ts_ms": ts, "rows": rows,
                    "duration_ms": {"triggerExecution": trig, "addBatch": trig - 1},
                    "state": [{"update_ms": 5, "commit_ms": 2, "rows_total": ts,
                               "memory_bytes": 10, "custom": {"rocksdbPutCount": put}}],
                    "sources": [{"rows": rows, "start": start, "end": end,
                                 "latest": latest}]}
        prog = [p("a", 110, 10, 100, 0, 10, 15, 3), p("a", 220, 10, 300, 10, 20, 40, 4),
                p("b", 1000, 5, 200, 0, 5, 5, 1)]
        m = bm.stream_layers(prog, {"a": 100, "b": 900})
        self.assertEqual(m["stream.queries"], 2)
        self.assertEqual(m["stream.batches"], 3)
        self.assertAlmostEqual(m["stream.start_s"], (10 + 100) / 1000)
        self.assertEqual(m["stream.trigger_ms"], 600)
        self.assertEqual(m["stream.trigger_ms_p50"], 200)
        self.assertEqual(m["state.rows_total"], 220 + 1000)
        self.assertEqual(m["state.rocksdb_put_count"], 8)
        self.assertEqual(m["source.rows_admitted"], 25)
        self.assertEqual(m["source.backlog_rows_max"], 20)


if __name__ == "__main__":
    unittest.main()
