"""The benchmark's own tests: generator determinism, order statistics,
and executor busy time / driver gap on a synthetic listener stream.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen_shop  # noqa: E402
import gen_tables  # noqa: E402
import pairs  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def gen(self, seed):
        d = tempfile.mkdtemp()
        gen_shop.generate(seed, 0.01, 2, d)
        return d

    def test_same_seed_same_bytes(self):
        self.assertEqual(tree_digest(self.gen(7)), tree_digest(self.gen(7)))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(tree_digest(self.gen(7)), tree_digest(self.gen(8)))

    def test_tables_same_seed_same_bytes(self):
        a, b = tempfile.mkdtemp(), tempfile.mkdtemp()
        gen_tables.generate(3, 1, a)
        gen_tables.generate(3, 1, b)
        self.assertEqual(tree_digest(a), tree_digest(b))

    def test_must_cover_branches(self):
        cat = gen_shop.load(self.gen(7))
        orders = [o for s in gen_shop.STORES for o in cat[(s, "orders")]]
        items = [e["node"] for o in orders
                 for e in (o.get("lineItems") or {}).get("edges", [])]
        self.assertTrue(any(o["customer"] is None for o in orders))
        self.assertTrue(any(o["shippingAddress"] is None for o in orders))
        self.assertTrue(any("lineItems" not in o for o in orders))
        self.assertTrue(any(i["variant"] is None for i in items))
        self.assertTrue(any("shopMoney" not in o["totalPriceSet"]
                            for o in orders))
        self.assertTrue(any(not o["name"].startswith("#") for o in orders))
        self.assertTrue(any(o["tags"] is None for o in orders))
        self.assertTrue(any(o["tags"] == [] for o in orders))
        custs = [c for s in gen_shop.STORES for c in cat[(s, "customers")]]
        for field in ("defaultAddress", "lastOrder", "statistics",
                      "taxExempt"):
            self.assertTrue(any(c[field] is None for c in custs), field)
        prods = [p for s in gen_shop.STORES for p in cat[(s, "products")]]
        variants = [e["node"] for p in prods for e in p["variants"]["edges"]]
        self.assertTrue(any(p["status"] != "ACTIVE" for p in prods))
        self.assertTrue(any(v["inventoryItem"] is None for v in variants))
        self.assertTrue(any(v["compareAtPrice"] is None for v in variants))
        skus = lambda s: {e["node"]["sku"] for p in cat[(s, "products")]
                          for e in p["variants"]["edges"]}
        self.assertTrue(skus("retail") & skus("wholesale") - {None})

    def test_lookback_overlap_redelivers(self):
        cat = gen_shop.load(self.gen(7))
        nodes = cat[("retail", "orders")]
        day0 = gen_shop.served(nodes, gen_shop.iso(gen_shop.run_time(0)),
                               "2025-12-05")
        since1 = checks.expected_since(
            1, max(n["updatedAt"] for n in day0.values()))
        day1 = gen_shop.served(nodes, gen_shop.iso(gen_shop.run_time(1)),
                               since1.isoformat())
        again = [i for i, n in day1.items()
                 if i in day0 and day0[i]["updatedAt"] == n["updatedAt"]]
        newer = [i for i, n in day1.items()
                 if i in day0 and day0[i]["updatedAt"] < n["updatedAt"]]
        self.assertTrue(again)
        self.assertTrue(newer)

    def test_served_takes_latest_version_after_since(self):
        nodes = [{"id": "a", "updatedAt": "2025-12-01T00:00:00Z"},
                 {"id": "a", "updatedAt": "2025-12-03T00:00:00Z"},
                 {"id": "b", "updatedAt": "2025-12-02T00:00:00Z"},
                 {"id": "c", "updatedAt": "2025-12-09T00:00:00Z"}]
        got = gen_shop.served(nodes, "2025-12-08T05:45:00Z", "2025-12-02")
        self.assertEqual({i: n["updatedAt"] for i, n in got.items()},
                         {"a": "2025-12-03T00:00:00Z",
                          "b": "2025-12-02T00:00:00Z"})


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        self.assertEqual(stats.median(xs), 4.0)
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertAlmostEqual(stats.percentile(xs, 95), 95.05)
        self.assertEqual(stats.percentile([3.0], 95), 3.0)

    def test_pairs_verdict(self):
        parent = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.1, 9.9]
        faster = [x - 1.0 for x in parent]
        self.assertEqual(pairs.verdict(parent, faster, lower=True),
                         (10, True))
        self.assertEqual(pairs.verdict(parent, faster, lower=False),
                         (0, False))
        # 8 wins in 10 is short of the rule
        mixed = faster[:8] + [x + 1.0 for x in parent[8:]]
        self.assertEqual(pairs.verdict(parent, mixed, lower=True),
                         (8, False))
        # every pair won, but by less than the parent's own spread
        close = [x - 0.01 for x in parent]
        self.assertEqual(pairs.verdict(parent, close, lower=True),
                         (10, False))

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([]), 0)


class BusyGapTest(unittest.TestCase):
    """A 10 s window on 2 cores: tasks run 1-4 and 2-5 (overlapping) and
    8-9, so 7 s of task time, 5 s with some task running, 5 s gap."""

    def record(self):
        tasks = [dict(stage=0, start=1.0, end=4.0, failed=False, run_s=3,
                      cpu_s=2.5, gc_s=0.1, shuffle_read=0, shuffle_write=10,
                      spill=0, input_bytes=100, output_bytes=0,
                      records_written=0),
                 dict(stage=0, start=2.0, end=5.0, failed=False, run_s=3,
                      cpu_s=2.0, gc_s=0.0, shuffle_read=0, shuffle_write=10,
                      spill=0, input_bytes=100, output_bytes=0,
                      records_written=0),
                 dict(stage=1, start=8.0, end=9.0, failed=True, run_s=1,
                      cpu_s=1.0, gc_s=0.0, shuffle_read=20, shuffle_write=0,
                      spill=5, input_bytes=0, output_bytes=50,
                      records_written=7)]
        jobs = [dict(id=0, group="p2/q/q1_a", start=0.5, end=5.5,
                     stages=[0], call_site="count at Q.scala:1", sql_id=1),
                dict(id=1, group="p2/q/q2_b", start=7.5, end=9.5,
                     stages=[1], call_site="Materialize.scala:22",
                     sql_id=None)]
        stages = [dict(id=0, attempt=0, tasks=2, start=1, end=5,
                       failure=None),
                  dict(id=1, attempt=1, tasks=1, start=8, end=9,
                       failure="lost")]
        sql = [dict(id=1, group="p2/q/q1_a", start=0.5, end=5.5,
                    analysis_s=0.2, optimization_s=0.1, planning_s=0.05)]
        spans = [dict(name="p2/q/q1_a", parent=None, start=0.0, end=6.0,
                      ok=True),
                 dict(name="p2/q/q2_b", parent=None, start=6.0, end=10.0,
                      ok=True)]
        ops = [dict(op="q1_a", tier="etl", graph=False, wall_s=6.0, ok=True),
               dict(op="q2_b", tier="mining", graph=True, wall_s=4.0,
                    ok=True)]
        return {"trace": dict(spans=spans, jobs=jobs, stages=stages,
                              tasks=tasks, sql=sql),
                "traced_units": [dict(wall_s=10.0, ops=ops)]}

    def test_busy_and_gap(self):
        busy, frac, gap = stats.busy_and_gap(
            [(1.0, 4.0), (2.0, 5.0), (8.0, 9.0)], (0.0, 10.0), 2)
        self.assertAlmostEqual(busy, 7.0)
        self.assertAlmostEqual(frac, 0.35)
        self.assertAlmostEqual(gap, 5.0)

    def test_layer_metrics_on_synthetic_stream(self):
        m = trace.layer_metrics(self.record(), untraced_wall=9.0, cores=2)
        self.assertEqual(set(m), {k for k, _ in trace.LAYER_METRICS})
        self.assertAlmostEqual(m["executor.busy_s"], 7.0)
        self.assertAlmostEqual(m["executor.busy_frac"], 0.35)
        self.assertAlmostEqual(m["driver.gap_s"], 5.0)
        self.assertEqual(m["driver.rdd_jobs"], 1)
        self.assertEqual(m["materialize.jobs"], 1)
        self.assertEqual(m["scheduler.jobs"], 2)
        self.assertEqual(m["scheduler.stages_retried"], 1)
        self.assertEqual(m["scheduler.tasks_failed"], 1)
        self.assertEqual(m["catalyst.sql_executions"], 1)
        self.assertAlmostEqual(m["catalyst.analysis_s"], 0.2)
        self.assertEqual(m["shuffle.write_bytes"], 20)
        self.assertEqual(m["shuffle.spill_bytes"], 5)
        self.assertAlmostEqual(m["queries.etl.wall_s"], 6.0)
        self.assertAlmostEqual(m["queries.graph.wall_s"], 4.0)
        self.assertAlmostEqual(m["trace.overhead_s"], 1.0)

    def test_stage_actions_split_by_call_site(self):
        g = "d1/stage/retail/orders"
        sql = [dict(id=7, group=g, call_site="parquet at AtomicTableWriter"
                    ".scala:31", start=1.0, end=3.0, analysis_s=0.0,
                    optimization_s=0.0, planning_s=0.0)]
        jobs = [dict(id=0, group=g, start=0.2, end=0.6, stages=[0],
                     call_site="count at RawReader.scala:39", sql_id=None),
                dict(id=1, group=g, start=1.5, end=2.5, stages=[1],
                     call_site="$anonfun at CompletableFuture.java:1768",
                     sql_id=7)]
        rec = {"trace": dict(spans=[], jobs=jobs, stages=[], tasks=[],
                             sql=sql)}
        groups = trace.per_group(rec)
        self.assertEqual(groups[g + "/bronze"]["jobs"], 1)
        self.assertAlmostEqual(groups[g + "/bronze"]["action_s"], 0.4)
        self.assertEqual(groups[g + "/write"]["jobs"], 1)
        self.assertAlmostEqual(groups[g + "/write"]["action_s"], 2.0)
        self.assertEqual(trace.sub_group("d1/merge/orders",
                                         "count at RawReader.scala:39"),
                         "d1/merge/orders")

    def test_battery_query_medians_skip_failed_queries(self):
        passes = [{"ops": [dict(op="a", ok=True, wall_s=1.0),
                           dict(op="b", ok=True, wall_s=2.0)]},
                  {"ops": [dict(op="a", ok=True, wall_s=3.0),
                           dict(op="b", ok=False, wall_s=0.1)]}]
        self.assertEqual(run.query_medians(passes), [2.0])

    def test_per_phase_keys_drop_the_pass_prefix(self):
        table = trace.per_phase(self.record())
        self.assertEqual(table["q/q1_a"]["tasks"], 2)
        self.assertEqual(table["q/q2_b"]["jobs"], 1)


if __name__ == "__main__":
    unittest.main()
