"""Unit tests of the benchmark harness (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import decimal
import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import canon  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_highest_supported_quantile(self):
        self.assertIsNone(stats.supported_quantile(10))
        self.assertAlmostEqual(stats.supported_quantile(100), 0.90)
        self.assertAlmostEqual(stats.supported_quantile(200), 0.95)
        self.assertAlmostEqual(stats.supported_quantile(1000), 0.95)

    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))
        v, q = stats.tail(xs)
        self.assertAlmostEqual(q, 0.90)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        v, q = stats.tail(list(range(1, 201)))
        self.assertEqual((v, q), (190, 0.95))

    def test_tail_falls_back_to_median(self):
        self.assertEqual(stats.tail([5, 1, 3]), (3, 0.5))
        self.assertEqual(stats.tail([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14]), (7.5, 0.5))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([3, 1, 2, 4], 0.5), 2)
        self.assertEqual(stats.percentile([3, 1, 2, 4], 1.0), 4)

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10, 10, 10, 10]), 0.0)
        xs = [9, 10, 10, 11, 10]
        self.assertGreater(stats.quartile_spread(xs), 0)


def span(i, parent, a, b):
    return {"id": i, "parent": parent, "start_us": a, "end_us": b}


class SelfTimeTest(unittest.TestCase):
    def test_nested(self):
        spans = [span(1, 0, 0, 10_000), span(2, 1, 1_000, 4_000), span(3, 2, 2_000, 3_000)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 7.0)
        self.assertEqual(st[2], 2.0)
        self.assertEqual(st[3], 1.0)

    def test_overlapping_children_count_once(self):
        # Two children overlapping on [3, 5) ms cover [2, 8) ms together.
        spans = [span(1, 0, 0, 10_000), span(2, 1, 2_000, 5_000), span(3, 1, 3_000, 8_000)]
        self.assertEqual(stats.self_times(spans)[1], 4.0)

    def test_children_are_clipped_to_parent(self):
        # A listener-timed job may start before its phase span's clock tick.
        spans = [span(1, 0, 1_000, 5_000), span(2, 1, 0, 2_000), span(3, 1, 4_000, 9_000)]
        self.assertEqual(stats.self_times(spans)[1], 2.0)

    def test_disjoint_and_empty(self):
        spans = [span(1, 0, 0, 10_000), span(2, 1, 1_000, 2_000), span(3, 1, 5_000, 7_000),
                 span(4, 0, 0, 3_000)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 7.0)
        self.assertEqual(st[4], 3.0)


VIEWS = ["pipe_a", "pipe_leaderboard", "pipe_b", "pipe_c"]


class ScheduleTest(unittest.TestCase):
    def test_same_seed_same_schedule(self):
        self.assertEqual(run.serve_schedule(7, VIEWS), run.serve_schedule(7, VIEWS))

    def test_other_seed_other_schedule(self):
        self.assertNotEqual(run.serve_schedule(7, VIEWS), run.serve_schedule(8, VIEWS))

    def test_users_differ_and_think_times_in_range(self):
        sched = run.serve_schedule(7, VIEWS, length=2000)
        self.assertEqual(len(sched), run.SERVE_USERS)
        self.assertNotEqual(sched[0], sched[1])
        thinks = [t for plan in sched for _, t in plan]
        self.assertGreaterEqual(min(thinks), run.THINK_MS[0])
        self.assertLessEqual(max(thinks), run.THINK_MS[1])

    def test_leaderboard_weighting(self):
        plan = [ep for user in run.serve_schedule(3, VIEWS, length=3000) for ep, _ in user]
        share = plan.count("pipe_leaderboard") / len(plan)
        expected = run.LEADERBOARD_WEIGHT / (run.LEADERBOARD_WEIGHT + len(VIEWS) - 1)
        self.assertAlmostEqual(share, expected, delta=0.02)


def _write_all(out, seed):
    ev = gen.validator_events(seed, 2, 100, 3_000, 6, 0.05, 0.05)
    gen.write_tables(out, seed, ev, copies=2, n_customers=300, n_docs=80, n_vecs=40,
                     n_suppliers=50, n_parts=50, n_orders=100)
    return gen.land_day_files(os.path.join(out, "landing"), seed, ev, 6, splits=2)


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    same = all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
               for f in cmp.common_files)
    return same and all(_same_tree(os.path.join(a, d), os.path.join(b, d))
                        for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_byte_identical(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            order_a, order_b = _write_all(a, 5), _write_all(b, 5)
            self.assertEqual(order_a, order_b)
            self.assertTrue(_same_tree(a, b))
            mt = lambda d: [os.path.getmtime(os.path.join(d, "landing", f)) for f in order_a]
            self.assertEqual(mt(a), mt(b))
            self.assertEqual(mt(a), sorted(mt(a)))

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            _write_all(a, 5)
            _write_all(b, 6)
            for name in ("events", "customer", "documents", "embeddings"):
                self.assertFalse(filecmp.cmp(f"{a}/{name}.parquet", f"{b}/{name}.parquet",
                                             shallow=False), name)

    def test_arrival_order_is_partly_out_of_order(self):
        with tempfile.TemporaryDirectory() as t:
            ev = gen.validator_events(1, 1, 50, 5_000, 20, 0.0, 0.0)
            order = gen.land_day_files(t, 1, ev, 20)
            self.assertEqual(sorted(order), [f"events_{d:03d}_0.parquet" for d in range(20)])
            self.assertNotEqual(order, sorted(order))

    def test_shard_up_and_drops(self):
        ev = gen.validator_events(3, 3, 100, 2_000, 10, 0.1, 0.05)
        users = set(ev["user_id"].tolist())
        self.assertEqual({u // gen.USER_STRIDE for u in users}, {0, 1, 2})
        self.assertLess(len(ev["ts"]), 3 * 2_000)  # dropped (key, epoch) cells
        self.assertEqual(len(set(ev["event_id"].tolist())), len(ev["event_id"]))


class CheckTest(unittest.TestCase):
    def test_engine_independent_tokens(self):
        self.assertEqual(canon.token(5), canon.token(5.0))
        self.assertEqual(canon.token(decimal.Decimal("5.000")), "5")
        self.assertNotEqual(canon.token(0.1), canon.token(0.1 + 1e-12))
        self.assertEqual(canon.token(datetime.datetime(1970, 1, 2)), str(86_400_000_000))
        self.assertEqual(canon.token(datetime.date(1970, 1, 3)), "2")
        self.assertEqual(canon.token(None), "\u0000N")
        self.assertEqual(canon.token([1, None]), "[1,\u0000N]")

    def test_hash_ignores_row_and_column_order(self):
        h = canon.result_hash(["b", "a"], [(1, "x"), (2, "y")])
        self.assertEqual(h, canon.result_hash(["a", "b"], [("y", 2), ("x", 1)]))
        self.assertNotEqual(h, canon.result_hash(["b", "a"], [(1, "x"), (1, "x"), (2, "y")]))

    def test_planted_wrong_expectation_fires(self):
        with tempfile.TemporaryDirectory() as t:
            ev = gen.validator_events(9, 1, 100, 3_000, 6, 0.0, 0.0)
            gen.write_tables(t, 9, ev, n_customers=200, n_docs=20, n_vecs=20)
            sql = {"q": "SELECT user_id, round(sum(value), 6) AS v FROM events "
                        "GROUP BY 1 ORDER BY 1"}
            expected = canon.oracle_hashes(t, sql, ["q"])
            # The "engine" result: the same aggregate computed another way.
            sums = {}
            for u, v in zip(ev["user_id"].tolist(), ev["value"].tolist()):
                sums[u] = sums.get(u, 0.0) + v
            rows = [(round(v, 6), u) for u, v in sums.items()]
            ok = {"name": "q", "ok": True, "hash": canon.result_hash(["v", "user_id"], rows),
                  "latency_ms": 1.0}
            self.assertEqual(run.failed_ops("corpus_curate", [ok], expected), [])
            planted = dict(expected)
            wrong_rows = [(rows[0][0] + 0.01, rows[0][1])] + rows[1:]
            planted["q"] = canon.result_hash(["v", "user_id"], wrong_rows)
            self.assertEqual(run.failed_ops("corpus_curate", [ok], planted), [ok])
            self.assertEqual(run.failed_ops("corpus_curate", [dict(ok, ok=False)], expected)[0]["name"], "q")

    def test_serving_timeout_counts_as_failed(self):
        op = {"name": "q", "ok": True, "hash": "h", "latency_ms": run.SERVE_TIMEOUT_MS + 1}
        self.assertEqual(run.failed_ops("validator_serve", [op], {"q": "h"}), [op])
        self.assertEqual(run.failed_ops("validator_refresh", [op], {"q": "h"}), [])


if __name__ == "__main__":
    unittest.main()
