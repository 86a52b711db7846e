"""Tests for the benchmark's own arithmetic (reduce.py).

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import reduce


class PercentileRule(unittest.TestCase):

    def test_needs_ten_samples_beyond(self):
        self.assertTrue(reduce.supported(20, 50))
        self.assertFalse(reduce.supported(19, 50))
        self.assertTrue(reduce.supported(100, 90))
        self.assertFalse(reduce.supported(99, 90))
        self.assertTrue(reduce.supported(1000, 99))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(reduce.percentile(xs, 50), 50)
        self.assertEqual(reduce.percentile(xs, 90), 90)
        self.assertEqual(reduce.percentile(reversed(xs), 90), 90)
        self.assertIsNone(reduce.percentile(xs[:99], 90))
        self.assertIsNone(reduce.percentile([], 50))

    def test_tail_is_highest_supported(self):
        self.assertEqual(reduce.tail(range(40)), (75, 29))
        self.assertEqual(reduce.tail(range(100)), (90, 89))
        self.assertEqual(reduce.tail(range(5)), (None, None))


class FreshnessJoin(unittest.TestCase):

    def test_commit_minus_due_per_file(self):
        loads = [{"run": "a", "file": "f1", "batch": 0, "due_ms": 1000},
                 {"run": "a", "file": "f2", "batch": 1, "due_ms": 1500},
                 {"run": "a", "file": "f3", "batch": 1, "due_ms": 1800}]
        commits = [{"run": "a", "batch": 0, "ms": 4000},
                   {"run": "a", "batch": 1, "ms": 7000}]
        got, missing = reduce.freshness(loads, commits)
        self.assertEqual(sorted(got), [3000, 5200, 5500])
        self.assertEqual(missing, [])

    def test_batch_ids_restart_per_run(self):
        loads = [{"run": "a", "file": "f", "batch": 0, "due_ms": 0},
                 {"run": "b", "file": "f", "batch": 0, "due_ms": 0}]
        commits = [{"run": "a", "batch": 0, "ms": 10},
                   {"run": "b", "batch": 0, "ms": 20}]
        self.assertEqual(sorted(reduce.freshness(loads, commits)[0]), [10, 20])

    def test_uncommitted_file_is_missing_not_fresh(self):
        loads = [{"run": "a", "file": "f", "batch": 3, "due_ms": 0},
                 {"run": "a", "file": "g", "batch": 0, "due_ms": None}]
        got, missing = reduce.freshness(loads, [{"run": "a", "batch": 0, "ms": 5}])
        self.assertEqual((got, missing), ([], ["f"]))

    def test_pending_counts_landed_but_uncommitted(self):
        lands = [{"file": f"f{i}", "landed_ms": i * 10} for i in range(100)]
        loads = [{"run": "a", "file": f"f{i}", "batch": i // 50} for i in range(100)]
        commits = [{"run": "a", "batch": 0, "ms": 600}, {"run": "a", "batch": 1, "ms": 2000}]
        # landing i sees files 0..i pending (1..60) until batch 0 commits at
        # 600 ms, then files 50..i (11..50): the 90th of those 100 is 50
        self.assertEqual(reduce.pending_p90(lands, loads, commits), 50)
        self.assertIsNone(reduce.pending_p90(lands[:99], loads, commits))


class FailureCount(unittest.TestCase):

    def test_counts_ops_entries_lands_checks(self):
        recs = [{"kind": "op", "ok": True}, {"kind": "op", "ok": False},
                {"kind": "entry", "ok": False}, {"kind": "check", "ok": True},
                {"kind": "progress"}, {"kind": "job", "ok": False},
                {"kind": "land", "phase": "main", "file": "f"},
                {"kind": "load", "phase": "main", "run": "a", "file": "f", "batch": 0},
                {"kind": "commit", "phase": "main", "run": "a", "batch": 0, "ms": 9}]
        self.assertEqual(reduce.failures(recs), (5, 2))
        self.assertEqual(reduce.failures(recs, oracle_mismatches=1), (6, 3))

    def test_landed_file_fails_unless_loaded_once_and_committed(self):
        def land(f):
            return {"kind": "land", "phase": "main", "file": f}

        def load(f, batch):
            return {"kind": "load", "phase": "main", "run": "a", "file": f,
                    "batch": batch, "due_ms": 0}
        recs = [land("ok"), land("never"), land("twice"), land("uncommitted"),
                load("ok", 0), load("twice", 0), load("twice", 1),
                load("uncommitted", 2),
                {"kind": "commit", "phase": "main", "run": "a", "batch": 0, "ms": 5},
                {"kind": "commit", "phase": "main", "run": "a", "batch": 1, "ms": 6}]
        self.assertEqual(reduce.failures(recs), (4, 3))
        # the same file name in another phase is judged on that phase's loads
        recs.append({"kind": "land", "phase": "traced", "file": "ok"})
        self.assertEqual(reduce.failures(recs), (5, 4))

    def test_share(self):
        self.assertEqual(reduce.failed_share(8, 2), 0.25)
        self.assertEqual(reduce.failed_share(0, 0), 1.0)


class WorkloadFigures(unittest.TestCase):

    def test_trickle_work_is_a_read_cycle_and_latency_is_freshness(self):
        recs = [{"kind": "cycle", "phase": "main", "ms": ms} for ms in (1000, 3000, 2000)]
        recs += [{"kind": "load", "phase": "main", "run": "a", "file": "f",
                  "batch": 0, "due_ms": 100},
                 {"kind": "commit", "phase": "main", "run": "a", "batch": 0, "ms": 600}]
        self.assertEqual(reduce.work_s("trickle", recs, "main"), 2.0)
        self.assertEqual(reduce.end_to_end("trickle", recs)["latency_ms"], 500)

    def test_entries_latency_is_the_geometric_mean(self):
        recs = [{"kind": "entry", "phase": "main", "ms": ms} for ms in (100, 400, 1600)]
        recs.append({"kind": "pass", "phase": "main", "s": 2.1})
        m = reduce.end_to_end("entries", recs)
        self.assertEqual(m["work_s"], 2.1)
        self.assertAlmostEqual(m["latency_ms"], 400.0)


class JobBuckets(unittest.TestCase):

    def job(self, out=None, reads=(), site=""):
        return {"out": out, "reads": list(reads), "site": site}

    def test_written_table_dir(self):
        self.assertEqual(reduce.bucket(self.job("file:/w/run/raw/trips_raw")),
                         "write_trips_raw")
        self.assertEqual(reduce.bucket(self.job("file:/w/run/modelled/trips/")),
                         "write_trips")
        self.assertEqual(reduce.bucket(self.job("file:/w/run/ops/task_history")),
                         "write_task_history")

    def test_scanned_table_dir(self):
        loc = "InMemoryFileIndex(1 paths)[file:/w/run/ops/copy_history]"
        self.assertEqual(reduce.bucket(self.job(reads=[loc])), "purge")
        loc = "InMemoryFileIndex(1 paths)[file:/w/run/modelled/stations]"
        self.assertEqual(reduce.bucket(self.job(reads=[loc])), "write_stations")

    def test_call_site(self):
        site = "graft.pipeline.Pipeline.purge(Pipeline.scala:231)|x"
        self.assertEqual(reduce.bucket(self.job(site=site)), "purge")
        site = "graft.pipeline.Pipeline.applyBatch(Pipeline.scala:95)"
        self.assertEqual(reduce.bucket(self.job(site=site)), "count")
        site = "graft.pipeline.Pipeline.start(Pipeline.scala:158)"
        self.assertEqual(reduce.bucket(self.job(site=site)), "count")

    def test_primer_batch_is_not_measured(self):
        recs = [{"kind": "load", "phase": "main", "batch": 0, "due_ms": None},
                {"kind": "load", "phase": "main", "batch": 1, "due_ms": 5},
                {"kind": "progress", "phase": "main", "batch": 0,
                 "durations": ["triggerExecution=9000"]},
                {"kind": "progress", "phase": "main", "batch": 1,
                 "durations": ["triggerExecution=4000"]}]
        self.assertEqual([p["batch"] for p in reduce.measured_batches(recs, "main")], [1])

    def test_jobs_join_their_batch_window(self):
        progress = {"batch": 2, "end_ms": 10_000,
                    "durations": ["triggerExecution=4000", "addBatch=3000"]}
        jobs = [{"kind": "job", "batch": 2, "start_ms": 7000},
                {"kind": "job", "batch": 2, "start_ms": 1000},   # older run
                {"kind": "job", "batch": 3, "start_ms": 8000},
                {"kind": "job", "batch": None, "start_ms": 8000}]
        self.assertEqual(reduce.batch_jobs(jobs, progress), [jobs[0]])


if __name__ == "__main__":
    unittest.main()
