"""Self-tests of the benchmark's statistics.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def progress(start, end, t0_ms, dur_ms, rows=1):
    """A minimal StreamingQueryProgress as the engine reports it."""
    import datetime
    ts = datetime.datetime.fromtimestamp(t0_ms / 1000, datetime.timezone.utc)
    return {"kind": "trigger", "rung": "light", "progress": {
        "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
        "numInputRows": rows,
        "durationMs": {"triggerExecution": dur_ms, "addBatch": dur_ms // 2},
        "sources": [{"startOffset": None if start is None else str(start),
                     "endOffset": str(end)}]}}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(range(19), 0.5))
        self.assertEqual(stats.percentile(range(20), 0.5), 9.5)
        self.assertIsNone(stats.percentile(range(99), 0.9))
        self.assertAlmostEqual(stats.percentile(range(100), 0.9), 89.1)

    def test_low_percentiles_count_the_lower_side(self):
        self.assertIsNone(stats.percentile(range(50), 0.1))
        self.assertIsNotNone(stats.percentile(range(100), 0.1))

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 0.5))


class LatencyAttribution(unittest.TestCase):
    """Versions 1..5 due at 1000, 1100, ..., processed by a first trigger
    that starts the stream, an empty trigger, a merged trigger and a
    single-version one."""

    def setUp(self):
        base = 1_700_000_000_000
        self.base = base
        self.versions = [(v, base + 100 * v) for v in range(1, 6)]
        self.trigs = stats.triggers([
            progress(None, 1, base + 150, 100),   # covers 1 (first trigger)
            progress(1, 1, base + 260, 20),       # empty: covers nothing
            progress(1, 4, base + 450, 200),      # merged: covers 2, 3, 4
            progress(4, 5, base + 700, 50),       # covers 5
        ])

    def test_latency_runs_from_due_to_trigger_end(self):
        lat, cover = stats.attribute(self.versions, self.trigs, first_version=1)
        self.assertEqual(cover, {1: 1, 2: 1, 3: 1, 4: 1, 5: 1})
        end_merged = self.base + 650
        self.assertEqual(lat[1], self.base + 250 - (self.base + 100))
        self.assertEqual(lat[2], end_merged - (self.base + 200))
        self.assertEqual(lat[4], end_merged - (self.base + 400))
        self.assertEqual(lat[5], self.base + 750 - (self.base + 500))

    def test_lost_and_duplicated_versions(self):
        trigs = self.trigs[:2] + stats.triggers([
            progress(1, 3, self.base + 450, 10),
            progress(2, 3, self.base + 500, 10),   # replays 3
        ])
        _, cover = stats.attribute(self.versions, trigs, first_version=1)
        self.assertEqual(cover[3], 2)
        self.assertEqual(cover[4], 0)
        self.assertEqual(cover[5], 0)

    def test_lag_counts_committed_but_unprocessed_versions(self):
        commits = [(v, due + 50) for v, due in self.versions]
        self.assertEqual(stats.lag_series(commits, self.trigs), [1, 1, 1, 0])


class SpanSelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, layer, start, end):
        return {"id": i, "parent": parent, "layer": layer, "name": layer,
                "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, 0, "queries", 0, 10),
                 self.span(2, 1, "queries.plan", 1, 3),
                 self.span(3, 1, "queries.exec", 3, 9),
                 self.span(4, 3, "tablelog", 4, 5)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["queries"], 2.0)
        self.assertAlmostEqual(st["queries.plan"], 2.0)
        self.assertAlmostEqual(st["queries.exec"], 5.0)
        self.assertAlmostEqual(st["tablelog"], 1.0)

    def test_overlapping_and_overhanging_children(self):
        spans = [self.span(1, 0, "pipeline", 0, 10),
                 self.span(2, 1, "tablelog", 2, 6),
                 self.span(3, 1, "tablelog", 4, 8),    # overlaps the first
                 self.span(4, 1, "streaming", 9, 12)]  # ends after the parent
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["pipeline"], 10 - 6 - 1)
        self.assertAlmostEqual(st["tablelog"], 8.0)


class BatchFigures(unittest.TestCase):
    """Two queries over three passes; the first pass still warms up."""

    EXPECTED = {"batch_queries": {"fingerprints": {
        "a": {"rows": 1, "hash": "1"}, "b": {"rows": 2, "hash": "2"}}}}

    def records(self, passes=3):
        recs = [{"kind": "fingerprint", "query": "a", "rows": 1, "hash": "1"},
                {"kind": "fingerprint", "query": "b", "rows": 2, "hash": "2"}]
        for p in range(passes):
            slow = 5.0 if p == 0 else 1.0
            for q, s in (("a", 0.1 * p + 0.1), ("b", 0.4)):
                recs.append({"kind": "query", "pass": p, "query": q, "group": "CoreOps",
                             "plan_s": 0.0, "exec_s": s * slow, "error": ""})
            recs.append({"kind": "pass", "pass": p, "s": 1.0, "traced": p % 2 == 0})
        return recs

    def test_first_pass_is_left_out(self):
        run = stats.Run()
        stats._batch(run, self.records(), self.EXPECTED)
        # medians over passes 1 and 2: a 250 ms, b 400 ms
        self.assertAlmostEqual(run.e2e["op_ms"], (250 * 400) ** 0.5)
        self.assertAlmostEqual(run.e2e["work_s"], 0.65)
        self.assertTrue(all(ok for _, ok, _ in run.checks))

    def test_a_single_pass_reports_that_pass(self):
        run = stats.Run()
        stats._batch(run, self.records(passes=1), self.EXPECTED, warmed=False)
        self.assertAlmostEqual(run.e2e["work_s"], 2.5)

    def test_a_query_not_run_fails_the_gate(self):
        run = stats.Run()
        stats._batch(run, self.records()[1:], self.EXPECTED)
        self.assertEqual(run.failed, 1)
        self.assertFalse(all(ok for _, ok, _ in run.checks))

    def test_a_metric_not_computed_is_null_and_fails(self):
        setup = {"kind": "setup", "session_s": 1.0, "prepare_s": [1.0], "warmup_s": 1.0}
        out = stats.summarize("batch_queries", [setup] + self.records(), self.EXPECTED,
                              trace=True, env={}, rss_mb=1.0)
        self.assertIsNone(out["metrics"]["kernel.nfc_us"]["value"])
        self.assertFalse(out["correct"])


if __name__ == "__main__":
    unittest.main()
