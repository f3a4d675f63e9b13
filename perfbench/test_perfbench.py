"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import copy
import filecmp
import os
import tempfile
import unittest

import gen
import metrics
from layers import round_means_ms


class GeneratorTest(unittest.TestCase):
    WORKLOAD = "sync_many_kinds"

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(cls.tmp.name, name)
            cls.dirs[name] = (d, gen.generate(cls.WORKLOAD, seed, d))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_files(self):
        a, b = self.dirs["a"][0], self.dirs["b"][0]
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_inputs_and_answers(self):
        a, c = self.dirs["a"], self.dirs["c"]
        for name in ("main.jsonl", "expected.json"):
            self.assertFalse(filecmp.cmp(os.path.join(a[0], name),
                                         os.path.join(c[0], name),
                                         shallow=False), name)
        self.assertNotEqual([q["expect"] for q in a[1]["search"]],
                            [q["expect"] for q in c[1]["search"]])

    def test_graph_shape(self):
        d, exp = self.dirs["a"]
        self.assertGreaterEqual(len(exp["tables"]), 30)
        counts = exp["row_counts"][0]
        # Declared but unobserved link tables are written empty.
        self.assertTrue(any(c == 0 for t, c in counts.items()
                            if t.startswith("link_")))
        # The two variants differ in the first leaf kind only.
        diff = {t for t in counts if counts[t] != exp["row_counts"][1][t]}
        self.assertEqual(len(diff), 2)


class CheckerTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.exp = gen.generate("sync_many_kinds", 3, cls.tmp.name)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def snapshot(self, v=0):
        return {"kind": "snapshot", "variant": v,
                "row_counts": dict(self.exp["row_counts"][v])}

    def search(self, i=0, v=0):
        q = self.exp["search"][i]
        return {"kind": "search", "name": q["id"], "index": q["index"],
                "variant": v, **q["expect"][v]}

    def test_accepts_matching_outputs(self):
        self.assertIsNone(metrics.check_op(self.snapshot(1), self.exp))
        for i in range(len(self.exp["search"])):
            self.assertIsNone(metrics.check_op(self.search(i, 1), self.exp))

    def test_rejects_perturbed_row_count(self):
        op = self.snapshot()
        t = sorted(op["row_counts"])[0]
        op["row_counts"][t] += 1
        self.assertIn(t, metrics.check_op(op, self.exp))

    def test_rejects_wrong_search_answer(self):
        op = self.search()
        op["digest"] = "0" * 64
        self.assertIsNotNone(metrics.check_op(op, self.exp))
        # The answer of the other variant is wrong for this one.
        op = self.search(0, 0)
        other = self.search(0, 1)
        if op["digest"] != other["digest"]:
            op["variant"] = 1
            op.update(self.exp["search"][0]["expect"][0])
            self.assertIsNotNone(metrics.check_op(op, self.exp))

    def test_rejects_cycle_with_missing_table(self):
        op = {"kind": "cycle", "variant": 0,
              "tables": self.exp["tables"][1:],
              **self.exp["first_query"]["expect"][0]}
        self.assertIsNotNone(metrics.check_op(op, self.exp))
        op["tables"] = list(self.exp["tables"])
        self.assertIsNone(metrics.check_op(op, self.exp))

    def test_error_fails_the_operation(self):
        op = dict(self.snapshot(), error="java.lang.RuntimeException: boom")
        self.assertIn("boom", metrics.check_op(op, self.exp))


def site(*frames):
    return "\n".join(frames)


SPARK = "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)"
HARNESS = "perfbench.Run.$anonfun$cycle$1(Harness.scala:160)"
ASYNC = ("org.apache.spark.sql.execution.SQLExecution$."
         "$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)")


class AttributionTest(unittest.TestCase):

    def test_each_entry_point_maps_to_its_layer(self):
        cases = {
            # GraphSource.readEnvelopes: the JSON schema-inference job.
            site("org.apache.spark.sql.DataFrameReader.json("
                 "DataFrameReader.scala:1)",
                 "graft.sources.GraphSource$.readEnvelopes(GraphSource.scala:51)",
                 HARNESS): "sources",
            # Sync.toParquet: the two staging scans.
            site("org.apache.spark.sql.DataFrameWriter.parquet(x.scala:1)",
                 "graft.Sync$.toParquet(Sync.scala:87)", HARNESS): "ingest",
            site("graft.ingest.Flatten$.keyEdges(Flatten.scala:98)",
                 "graft.Sync$.toParquet(Sync.scala:88)"): "ingest",
            # Sync.toParquet: table writes and catalog registration.
            site("graft.sink.SnapshotSwap$.graft$sink$SnapshotSwap$$"
                 "stageParquet(SnapshotSwap.scala:40)",
                 "graft.sink.SnapshotSwap$.write(SnapshotSwap.scala:63)",
                 "graft.sink.TableSink$.$anonfun$writeAll$1(TableSink.scala:148)",
                 "graft.Sync$.toParquet(Sync.scala:127)"): "sink",
            site("graft.sink.TableSink$.$anonfun$registerProd$1("
                 "TableSink.scala:176)"): "sink",
            site("graft.sink.JdbcSink$.$anonfun$writeStaging$4("
                 "JdbcSink.scala:58)"): "sink",
            site(SPARK, "graft.Tables$.executeSql(Tables.scala:268)"): "query",
            site("graft.model.ModelCompiler$.tables(ModelCompiler.scala:1)"):
                "model",
            site("graft.queries.CoreQueries$.q(CoreQueries.scala:1)"): "other",
            # collect() by the benchmark on a returned DataFrame, and jobs
            # Spark submits from its own threads: no graft frame.
            site(SPARK, HARNESS): None,
            site(ASYNC, "java.lang.Thread.run(Thread.java:840)"): None,
        }
        for details, layer in cases.items():
            self.assertEqual(metrics.layer_of_callsite(details), layer, details)

    def test_jobs_without_graft_frame(self):
        spans = [
            {"id": 1, "parent": 0, "name": "cycle", "start_ms": 0, "dur_s": 1},
            {"id": 2, "parent": 1, "name": "toParquet", "start_ms": 0, "dur_s": 1},
            {"id": 3, "parent": 0, "name": "search", "start_ms": 0, "dur_s": 1},
            {"id": 4, "parent": 3, "name": "evaluateQuery", "start_ms": 0,
             "dur_s": 1},
            {"id": 5, "parent": 0, "name": "sql", "start_ms": 0, "dur_s": 1},
            {"id": 6, "parent": 5, "name": "executeSql", "start_ms": 0,
             "dur_s": 1},
        ]
        stages = [
            {"id": 10, "details": site(
                "graft.sink.SnapshotSwap$.write(SnapshotSwap.scala:63)")},
            {"id": 11, "details": ASYNC},
            {"id": 12, "details": site(SPARK, HARNESS)},
        ]
        jobs = [
            {"id": 1, "span": "2", "execution": "7", "stages": [11]},
            {"id": 2, "span": "2", "execution": "7", "stages": [10]},
            {"id": 3, "span": "2", "execution": "", "stages": [11]},
            {"id": 4, "span": "4", "execution": "8", "stages": [12]},
            {"id": 5, "span": "6", "execution": "9", "stages": [11]},
        ]
        executions = {"7": site("graft.sink.SnapshotSwap$.write("
                                "SnapshotSwap.scala:63)"),
                      "8": site(SPARK, HARNESS), "9": ASYNC}
        tr = metrics.Trace({"spans": spans, "stages": stages, "jobs": jobs,
                            "executions": executions})
        # The SQL execution's call site; else the public call's layer.
        self.assertEqual([j["layer"] for j in tr.jobs],
                         ["sink", "sink", "sync", "sources", "query"])


class StatsTest(unittest.TestCase):

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.p90(list(range(99))))
        xs = list(range(100))
        v = metrics.p90(xs)
        self.assertEqual(v, 89)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(sum(1 for x in range(1000)
                             if x > metrics.p90(list(range(1000)))), 100)

    def test_union_and_self_time(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(metrics.union_ms([(0, 10), (5, 20)], 8, 12), 4)
        tr = metrics.Trace({"spans": [
            {"id": 1, "parent": 0, "name": "cycle", "start_ms": 0, "dur_s": 1.0},
            {"id": 2, "parent": 1, "name": "a", "start_ms": 100, "dur_s": 0.3},
            {"id": 3, "parent": 1, "name": "b", "start_ms": 300, "dur_s": 0.3},
        ]})
        self.assertAlmostEqual(metrics.self_time_s(tr, 1), 0.5)

    def test_round_means(self):
        ops = [{"round": r, "wall_s": w} for r, w in
               ((3, 0.1), (3, 0.3), (4, 0.2), (4, 0.4))]
        self.assertEqual([round(x) for x in round_means_ms(copy.deepcopy(ops))],
                         [200, 300])


if __name__ == "__main__":
    unittest.main()
