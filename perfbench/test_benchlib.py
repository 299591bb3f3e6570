"""Tests of the benchmark's own statistics, checks and trace accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import numpy as np

import benchlib as bl
import run


class TailRule(unittest.TestCase):
    def test_highest_quantile_with_ten_samples_beyond(self):
        self.assertEqual(bl.tail_quantile(1000), 0.99)
        self.assertEqual(bl.tail_quantile(999), 0.95)  # 9.99 beyond p99
        self.assertEqual(bl.tail_quantile(200), 0.95)
        self.assertEqual(bl.tail_quantile(100), 0.9)
        self.assertEqual(bl.tail_quantile(40), 0.75)
        self.assertEqual(bl.tail_quantile(39), 0.5)
        self.assertEqual(bl.tail_quantile(20), 0.5)
        self.assertIsNone(bl.tail_quantile(19))

    def test_tail_value_and_small_sample_fallback(self):
        xs = np.arange(1, 1001, dtype=float)
        v, q = bl.tail(xs)
        self.assertEqual(q, 0.99)
        self.assertAlmostEqual(v, np.percentile(xs, 99))
        v, q = bl.tail([5.0, 1.0, 3.0])
        self.assertEqual((v, q), (5.0, 1.0))
        # 1000 items delivered by 100 sink calls: the rule counts the calls
        v, q = bl.tail(xs, n=100)
        self.assertEqual(q, 0.9)
        self.assertAlmostEqual(v, np.percentile(xs, 90))
        # a cap holds the quantile below the rule's choice, never above it
        self.assertEqual(bl.tail(xs, max_q=0.9)[1], 0.9)
        self.assertEqual(bl.tail(xs, n=40, max_q=0.9)[1], 0.75)


class Backlog(unittest.TestCase):
    def test_trough_slope_ignores_a_flush_sawtooth(self):
        # 15k items/s arrive and a flush empties the backlog once a second
        ts = np.arange(0, 4, 0.05)
        saw = 15000 * (ts % 1.0)
        self.assertGreater(abs(bl.slope(ts[10:50], saw[10:50])), 1500)
        self.assertAlmostEqual(bl.trough_slope(ts, saw, 1.0), 0.0)
        # falling behind: 2,000 more items left after each flush
        self.assertAlmostEqual(bl.trough_slope(ts, saw + 2000 * (ts // 1.0), 1.0), 2000.0)


class OpenLoop(unittest.TestCase):
    def test_latency_counts_a_blocked_put(self):
        # four items due 1 ms apart; the second put blocks for 50 ms, so the
        # generator sends items 1-3 late, together
        due = np.array([0.0, 1.0, 2.0, 3.0])
        sent = np.array([0.0, 51.0, 51.0, 51.0])
        done = np.array([10.0, 61.0, 61.0, 61.0])
        np.testing.assert_allclose(bl.lateness(due, sent), [0, 50, 49, 48])
        # from the due time: the 50 ms stall shows; from the send time it would not
        np.testing.assert_allclose(bl.open_loop_latency(due, done), [10, 60, 59, 58])
        self.assertTrue(np.all(done - sent == 10))

    def test_ingest_metrics_time_from_due_not_from_send(self):
        with tempfile.TemporaryDirectory() as out:
            n = 100
            due = np.arange(n, dtype=float)
            sent = due.copy()
            sent[50:] += 200.0  # a put blocked for 200 ms at item 50
            done = sent + 10.0
            sent.astype("<f8").tofile(os.path.join(out, "sent_ms.f64"))
            done.astype("<f8").tofile(os.path.join(out, "done_ms.f64"))
            acc = lambda k: {"items": k, "ids_missing": 0, "sink_calls": [],
                             "stat": {"items_in": k, "items_flushed": k,
                                      "items_dropped": 0, "pending": 0}}
            r = {"steady": {**acc(n), "origin_ns": 0},
                 "burst": {**acc(300), "round_items": 100, "round_s": [0.2, 0.25, 0.1]}}
            zero = np.zeros(n, dtype=int)
            e2e, attempted, failed, info, _ = run.ingest_metrics(
                r, out, due, zero, zero, trace=False)
            self.assertEqual((attempted, failed), (n + 300, 0))
            self.assertAlmostEqual(e2e["latency_p50_ms"],
                                   np.percentile(done - due, 50))
            self.assertGreater(e2e["latency_p50_ms"], 100)
            # closed-loop throughput: the median of the timed rounds' ids per second
            self.assertAlmostEqual(e2e["throughput_per_s"], 500.0)


class Ledger(unittest.TestCase):
    def stat(self, items_in, flushed, dropped=0, pending=0):
        return {"items_in": items_in, "items_flushed": flushed, "items_dropped": dropped,
                "pending": pending}

    def test_balanced_ledger_passes(self):
        self.assertEqual(bl.ledger_failures(1000, self.stat(1000, 1000), 0), (0, []))

    def test_lossy_sink_fails(self):
        # a sink that returns normally but loses 7 items: the pipeline's own
        # ledger balances, the per-id delivery record does not
        failed, problems = bl.ledger_failures(1000, self.stat(1000, 1000), ids_missing=7)
        self.assertEqual(failed, 7)
        self.assertTrue(any("never delivered" in p for p in problems))

    def test_dropped_and_pending_fail(self):
        failed, _ = bl.ledger_failures(1000, self.stat(1000, 976, dropped=24), 24)
        self.assertEqual(failed, 24)
        failed, problems = bl.ledger_failures(1000, self.stat(1000, 990, pending=10), 10)
        self.assertEqual(failed, 10)
        self.assertTrue(any("pending" in p for p in problems))

    def test_unbalanced_ledger_fails(self):
        failed, problems = bl.ledger_failures(1000, self.stat(1000, 995), 0)
        self.assertEqual(failed, 5)
        self.assertTrue(any("flushed+dropped+pending" in p for p in problems))


# Call sites as Spark records them in StageInfo.details (long form).
TABLES_JOB = "\n".join([
    "org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)",
    "graft.Tables$.raw(Tables.scala:22)",
    "graft.Tables$.apply(Tables.scala:19)",
    "graft.Tables$.embeddings(Tables.scala:80)",
    "graft.operators.Dedup$.d04EmbeddingNearDup(Dedup.scala:272)",
    "perfbench.Queries$.run(Queries.scala:24)"])
DEDUP_JOB = "\n".join([
    "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
    "graft.operators.Dedup$.ivfCandidateVecs(Dedup.scala:336)",
    "graft.operators.Dedup$.ivfNearDupPairs(Dedup.scala:323)"])
AQE_JOB = "\n".join([
    "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2"
    "(SQLExecution.scala:329)",
    "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run"
    "(CompletableFuture.java:1768)"])
PIPELINE_JOB = "\n".join([
    "org.apache.spark.sql.classic.DataStreamWriter.start(DataStreamWriter.scala:137)",
    "graft.core.BatchPipeline.start(BatchPipeline.scala:140)"])


class Attribution(unittest.TestCase):
    def test_tables_schema_job_maps_to_tables(self):
        self.assertEqual(bl.layer_of(TABLES_JOB), "tables")

    def test_other_layers(self):
        self.assertEqual(bl.layer_of(DEDUP_JOB), "operators.Dedup")
        self.assertEqual(bl.layer_of(PIPELINE_JOB), "core")
        self.assertEqual(bl.layer_of(AQE_JOB), "harness")
        self.assertEqual(bl.layer_of(""), "harness")
        self.assertEqual(bl.builder_module("d05_dedup_survivors"), "Dedup")
        self.assertEqual(bl.builder_module("q01_pricing_summary"), "Relational")


class SelfTime(unittest.TestCase):
    def test_union_and_self_time(self):
        self.assertEqual(bl.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(bl.union_length([(0, 4), (2, 6)], 1, 3), 2)
        self.assertEqual(bl.self_time((0, 10), [(1, 3), (2, 5), (9, 12)]), 5)

    def test_query_layers_add_up_to_each_query(self):
        t = 1000.0
        execs = [{"name": "q01_x", "pass": 1, "phase": "cold", "builder_start_ms": t,
                  "builder_end_ms": t + 100, "exec_end_ms": t + 300, "end_ms": t + 305,
                  "error": ""}]
        jobs = [
            {"start_ms": t + 10, "end_ms": t + 30, "details": TABLES_JOB},
            {"start_ms": t + 40, "end_ms": t + 70, "details": DEDUP_JOB},
            {"start_ms": t + 60, "end_ms": t + 80, "details": AQE_JOB},
            {"start_ms": t + 150, "end_ms": t + 250, "details": AQE_JOB},
        ]
        plans = [{"func": "overwrite", "phases": {"optimization": [t + 101, t + 111],
                                                   "planning": [t + 111, t + 116]}}]
        r = {"trace": {"jobs": jobs, "plans": plans}}
        m, spans, _ = run.query_layers(r, execs)
        q = [s for s in spans if s["name"] == "query"][0]
        self.assertAlmostEqual(sum(q["self_ms"].values()), 305.0)
        self.assertAlmostEqual(q["self_ms"]["tables"], 20.0)
        self.assertAlmostEqual(q["self_ms"]["builder_jobs"], 40.0)
        self.assertAlmostEqual(q["self_ms"]["catalyst"], 15.0)
        self.assertAlmostEqual(q["self_ms"]["exec.jobs"], 100.0)
        self.assertEqual(m["tables.schema_jobs"], 1)
        self.assertEqual(m["builder.jobs.Dedup"], 1)
        self.assertEqual(m["builder.jobs.Relational"], 1)  # the AQE job in q01's builder
        self.assertEqual(m["trace.self_sum_error_ms"], 0.0)


class Inputs(unittest.TestCase):
    def test_schedule_is_seeded_and_follows_the_ladder(self):
        a, step_a, seg_a = run.schedule(7, 9.0)
        b, _, _ = run.schedule(7, 9.0)
        c, _, _ = run.schedule(8, 9.0)
        np.testing.assert_array_equal(a, b)
        self.assertFalse(np.array_equal(a[:100], c[:100]))
        self.assertTrue(np.all(np.diff(a) >= 0))
        for i, (_, rate) in enumerate(run.LADDER):
            n = int((step_a == i).sum())
            self.assertAlmostEqual(n / 3.0, rate, delta=0.05 * rate)
            # each rung comes once per round
            self.assertEqual(len(np.unique(seg_a[step_a == i])), run.ROUNDS)
        self.assertTrue(np.all((seg_a == -1) == (step_a == -1)))

    def test_query_order_is_a_seeded_permutation(self):
        self.assertEqual(run.query_order(3), run.query_order(3))
        self.assertEqual(sorted(run.query_order(3)), sorted(run.QUERIES))

    def test_benchmark_json_names_the_workloads_and_layers(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = {m["name"] for m in spec["per_layer"]}
        self.assertIn("tables.schema_jobs", names)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
