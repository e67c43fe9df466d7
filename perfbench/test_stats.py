"""Tests for the benchmark's own arithmetic.

    python3 -m unittest perfbench/test_stats.py
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_too_few_samples_for_the_median(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))

    def test_twenty_samples_give_the_median(self):
        p, v = stats.tail_percentile([float(i) for i in range(1, 21)])
        self.assertEqual((p, v), (50, 10.0))

    def test_hundred_samples_give_p90(self):
        p, v = stats.tail_percentile([float(i) for i in range(1, 101)])
        self.assertEqual((p, v), (90, 90.0))

    def test_always_ten_beyond(self):
        for n in range(20, 400):
            values = list(range(n))
            p, v = stats.tail_percentile(values)
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10, n)
            # one percentile higher would leave fewer than ten beyond
            rank = -(-(p + 1) * n // 100)
            self.assertLess(n - rank, 10, n)


class Quartiles(unittest.TestCase):
    def test_matches_statistics(self):
        vals = [3.1, 2.9, 3.3, 3.0, 3.2, 2.8, 3.6, 3.05, 2.95, 3.15]
        q1, q2, q3 = stats.quartiles(vals)
        self.assertEqual([q1, q2, q3], statistics.quantiles(vals, n=4))
        self.assertEqual(q2, statistics.median(vals))

    def test_single_value(self):
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0, 4.0))


class IntervalUnion(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(stats.union_length([(0, 2), (5, 6)]), 3)

    def test_overlapping_jobs_count_once(self):
        # concurrent jobs: wall minus the summed job time would go negative
        jobs = [(0, 10), (2, 8), (5, 12), (20, 21)]
        self.assertEqual(stats.union_length(jobs), 13)
        self.assertGreaterEqual(20 - stats.union_length(jobs), 0)
        self.assertLess(20 - sum(e - s for s, e in jobs), 0)

    def test_touching_and_empty(self):
        self.assertEqual(stats.union_length([(0, 1), (1, 2), (3, 3)]), 2)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_times_clip_children(self):
        span = lambda i, parent, start, end: dict(id=i, parent=parent,
                                                  start=start, end=end)
        spans = [span("p", None, 10, 20), span("a", "p", 5, 12),
                 span("b", "p", 11, 14), span("c", "p", 18, 30)]
        selfs = stats.self_times(spans)
        # a and b overlap on [11, 12], shared; c counts only up to 20
        self.assertEqual(selfs, {"p": 4, "a": 1.5, "b": 2.5, "c": 2})


def planted_run(fail_key):
    """Records of two timed passes over keys a and b; `fail_key` throws
    in the second pass."""
    recs = [dict(rec="timed_start", t=5_000_000)]
    t = 5_000_000
    for p in (1, 2):
        start = t
        for k in ("a", "b"):
            if p == 2 and k == fail_key:
                recs.append(dict(rec="key", **{"pass": p}, key=k, ok=False,
                                 error="planted"))
                continue
            recs.append(dict(rec="key", **{"pass": p}, key=k, ok=True,
                             build=[t, t + 100], sink=[t + 100, t + 1_000_000],
                             rdds_left=0, counters=[0, 0, 0, 0]))
            t += 1_000_000
        recs.append(dict(rec="pass", **{"pass": p}, span=[start, t], timed=True))
        recs.append(dict(rec="heap", **{"pass": p}, old_gen_mb=100.0 + p))
    return recs


class PlantedFailure(unittest.TestCase):
    def test_failed_key_is_counted_and_its_pass_not_timed(self):
        recs = planted_run("b")
        attempted, failed = stats.failures(recs, [], [])
        self.assertEqual((attempted, failed), (4, 1))
        e2e = stats.end_to_end(recs, launch_us=0)
        # only pass 1 (two keys, 2 s) is timed; the short pass 2, which
        # lost its throwing key, must not appear as a fast sample
        self.assertEqual(e2e["pass_walls"], [2.0])
        self.assertEqual(e2e["pass_s"], 2.0)
        self.assertEqual(e2e["setup_s"], 5.0)

    def test_every_pass_failing_leaves_no_time(self):
        recs = [r for r in planted_run("b") if r.get("pass") != 1]
        self.assertIsNone(stats.end_to_end(recs, 0)["pass_s"])

    def test_clean_run(self):
        recs = planted_run(None)
        self.assertEqual(stats.failures(recs, [], []), (4, 0))
        self.assertEqual(stats.end_to_end(recs, 0)["pass_walls"], [2.0, 2.0])

    def test_pass_s_sums_per_key_medians(self):
        recs = planted_run(None) + planted_run(None)[1:]
        # a third pass in which key "a" alone was slow by 3 s
        recs += [dict(rec="key", **{"pass": 3}, key="a", ok=True,
                      build=[0, 1], sink=[1, 4_000_000], rdds_left=0,
                      counters=[0, 0, 0, 0]),
                 dict(rec="key", **{"pass": 3}, key="b", ok=True,
                      build=[0, 1], sink=[1, 1_000_000], rdds_left=0,
                      counters=[0, 0, 0, 0]),
                 dict(rec="pass", **{"pass": 3}, span=[0, 5_000_000], timed=True)]
        self.assertEqual(stats.end_to_end(recs, 0)["pass_s"], 2.0)

    def test_commit_series_counts_once_per_pass(self):
        recs = planted_run(None)
        for p, t in ((1, 10_000_000), (2, 20_000_000)):
            recs += [dict(rec="series_init", **{"pass": p}, span=[t, t + 200_000]),
                     dict(rec="commit", **{"pass": p}, i=0, ok=True,
                          span=[t + 200_000, t + 700_000], files_written=1,
                          manifest_bytes=10, counters=[0, 0, 0, 0])]
        self.assertEqual(stats.end_to_end(recs, 0)["pass_s"], 2.7)
        self.assertEqual(stats.commit_walls(recs), [0.5, 0.5])
        self.assertEqual(stats.failures(recs, [], []), (8, 0))

    def test_wrong_output_counts_as_failed(self):
        # key a's output mismatched in the first and the last verified pass
        self.assertEqual(stats.failures(planted_run(None), [("0", "a"), ("3", "a")], [2]),
                         (4, 3))

    def test_untimed_check_pass_counts_but_is_not_timed(self):
        recs = planted_run(None)
        # the pass after the timed ones re-runs every key for the digest
        recs += [dict(rec="key", **{"pass": 3}, key="a", ok=False, error="planted"),
                 dict(rec="key", **{"pass": 3}, key="b", ok=True,
                      build=[0, 1], sink=[1, 9_000_000], rdds_left=0,
                      counters=[0, 0, 0, 0]),
                 dict(rec="pass", **{"pass": 3}, span=[0, 9_000_000], timed=False)]
        self.assertEqual(stats.failures(recs, [], []), (6, 1))
        e2e = stats.end_to_end(recs, 0)
        self.assertEqual((e2e["pass_s"], e2e["pass_walls"]), (2.0, [2.0, 2.0]))


def traced_pass():
    """One traced pass over one key: two concurrent jobs in the build,
    one job in the sink, and an analysis phase inside the build."""
    stage = dict(tasks=2, run_ms=300, cpu_ns=2 * 10**8, gc_ms=10,
                 shuffle_read_b=0, shuffle_write_b=1048576, spill_b=0)
    return [
        dict(rec="timed_start", t=0),
        dict(rec="pass_mode", **{"pass": 1}, traced=True),
        dict(rec="key", **{"pass": 1}, key="k", ok=True, build=[0, 1000],
             sink=[1000, 1500], rdds_left=2, counters=[8, 2, 1, 0]),
        dict(rec="job_start", job=1, span="1/k/build", t=100),
        dict(rec="job_start", job=2, span="1/k/build", t=300),
        dict(rec="job_start", job=3, span="1/k/sink", t=1100),
        dict(rec="job_end", job=1, t=600),
        dict(rec="job_end", job=2, t=700),
        dict(rec="job_end", job=3, t=1400),
        dict(rec="stage", stage=7, job=1, start=150, end=550, **stage),
        dict(rec="stage", stage=8, job=3, start=1100, end=1400, **stage),
        dict(rec="phase", name="analysis", start=10, end=60),
        dict(rec="pass", **{"pass": 1}, span=[0, 1600], timed=True),
        dict(rec="heap", **{"pass": 1}, old_gen_mb=50.0),
    ]


class Layers(unittest.TestCase):
    def test_per_pass_sums(self):
        recs = traced_pass()
        (m,) = stats.per_pass_layers(recs, stats.build_spans(recs))
        self.assertEqual((m["jobs"], m["build_jobs"], m["stages"], m["tasks"]),
                         (3, 2, 2, 4))
        # jobs cover [100, 700] and [1100, 1400] of the 1600 us pass
        self.assertAlmostEqual(m["driver_idle_s"], (1600 - 900) / 1e6)
        self.assertAlmostEqual(m["analysis_s"], 50 / 1e6)
        self.assertEqual(m["shuffle_write_mb"], 2.0)
        self.assertAlmostEqual(m["block_skip_ratio"], 0.2)
        self.assertEqual(m["persisted_rdds_left"], 2)
        # the build's self time excludes its jobs' union and the phase
        self.assertAlmostEqual(m["self_build_s"], (1000 - 600 - 50) / 1e6)
        self.assertAlmostEqual(m["self_pass_s"], 100 / 1e6)

    def test_self_times_account_for_the_pass(self):
        # job 2 runs beside job 1 and its stage; the overlap is shared,
        # so the self times add up to the pass wall
        recs = traced_pass()
        spans = stats.build_spans(recs)
        selfs = stats.self_times(spans)
        self.assertEqual(sum(selfs.values()), 1600)
        self.assertEqual((selfs["job1"], selfs["job2"], selfs["stage7"]),
                         (50 + 25, 125 + 25 + 100, 150 + 125))


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_run_reports(self):
        import json
        import run
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER_UNITS)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
