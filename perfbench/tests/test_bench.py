"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The hash test compiles the harness (``perfbench/build.py``) and starts a
small local Spark session, so it takes about a minute on first run.
"""

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gendata  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def scratch():
    os.makedirs(build.BUILD, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=build.BUILD)


def qrec(query, pass_, jobs, hash_, fixtures=0, error=""):
    return {"query": query, "pass": pass_, "jobs": jobs, "hash": hash_,
            "fixtures_built": fixtures, "error": error}


class QuantileMath(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q1, q2, q3))
        self.assertEqual(stats.median(xs), statistics.median(xs))
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_single_and_equal_values(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))
        self.assertEqual(stats.spread([2.0, 2.0, 2.0, 2.0]), 0.0)

    def test_median_of_even_count_averages_middle(self):
        self.assertEqual(stats.median([1.0, 10.0, 2.0, 3.0]), 2.5)


class Parity(unittest.TestCase):
    EXPECTED = {"a": "h1", "b": "h2"}

    def test_clean_run_has_no_flags(self):
        recs = [qrec("a", 0, 5, "h1"), qrec("a", 1, 5, "h1"),
                qrec("a", 2, 5, "h1")]
        self.assertEqual(stats.parity_flags(recs, self.EXPECTED), {})

    def test_cold_extra_jobs_allowed_only_with_fixture_build(self):
        built = [qrec("b", 0, 52, "h2", fixtures=1), qrec("b", 1, 13, "h2")]
        self.assertEqual(stats.parity_flags(built, self.EXPECTED), {})
        skipped = [qrec("b", 0, 52, "h2"), qrec("b", 1, 13, "h2")]
        self.assertIn("no fixture build",
                      stats.parity_flags(skipped, self.EXPECTED)["b"])

    def test_warm_passes_with_different_job_counts_are_flagged(self):
        recs = [qrec("a", 0, 5, "h1"), qrec("a", 1, 5, "h1"),
                qrec("a", 2, 3, "h1")]
        self.assertIn("[3, 5]", stats.parity_flags(recs, self.EXPECTED)["a"])

    def test_warm_hash_other_than_expected_is_flagged_and_failed(self):
        recs = [qrec("a", 0, 5, "h1"), qrec("a", 1, 5, "stale")]
        self.assertIn("stale", stats.parity_flags(recs, self.EXPECTED)["a"])
        self.assertEqual(stats.failures(recs, self.EXPECTED), [recs[1]])

    def test_errors_count_as_failures(self):
        recs = [qrec("a", 0, 5, "", error="action: boom")]
        self.assertEqual(len(stats.failures(recs, self.EXPECTED)), 1)


class LayerMetrics(unittest.TestCase):
    def test_jobs_and_stages_are_attributed_to_phases(self):
        q = {"query": "k2_tfrecord_roundtrip", "pass": 1, "build_s": 1.0,
             "plan_s": 0.1, "action_s": 2.0, "release_s": 0.05,
             "compiles": 7, "compile_s": 0.3, "persisted_rdds": 1,
             "storage_mb": 4.0, "scratch_bytes_written": 1048576}
        jobs = [{"job": 1, "parent": "p1/k2_tfrecord_roundtrip/build"},
                {"job": 2, "parent": "p1/k2_tfrecord_roundtrip/action"}]
        stage = {"failed_tasks": 0, "cpu_s": 0.5, "gc_s": 0.0,
                 "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                 "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0,
                 "output_records": 0}
        stages = [dict(stage, job=1, tasks=2, task_s=0.8, skew=1.0),
                  dict(stage, job=2, tasks=4, task_s=4.0, skew=3.0)]
        m = stats.layer_metrics({"pass": {"jvm_gc_s": 0.2}, "queries": [q],
                                 "jobs": jobs, "stages": stages,
                                 "streams": []}, cores=4)
        self.assertEqual(m["SparkEntry.eager_jobs"], 1)
        self.assertEqual(m["SparkEntry.eager_task_s"], 0.8)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.tasks"], 4)
        self.assertEqual(m["exec.cpu_floor_s"], 1.0)
        self.assertEqual(m["exec.stage_gap_s"], 1.0)
        self.assertEqual(m["exec.task_skew"], 3.0)
        self.assertEqual(m["sources.write_s"], 1.0)
        self.assertEqual(m["sources.bytes_written_mb"], 1.0)

    def test_image_kernel_time_is_the_action_of_k1(self):
        base = {"plan_s": 0.0, "release_s": 0.0, "compiles": 0,
                "compile_s": 0.0, "persisted_rdds": 0, "storage_mb": 0.0,
                "scratch_bytes_written": 0, "pass": 1, "build_s": 0.5}
        qs = [dict(base, query="k1_image_pipeline", action_s=4.0),
              dict(base, query="q03_class_dictionary", action_s=0.2)]
        m = stats.layer_metrics({"pass": {"jvm_gc_s": 0.0}, "queries": qs,
                                 "jobs": [], "stages": [], "streams": []},
                                cores=4)
        self.assertEqual(m["functions.image_s"], 4.0)
        self.assertAlmostEqual(m["exec.action_s"], 4.2)

    def test_live_memory_is_the_largest_probed_query(self):
        qs = [{"live_heap_mb": 0.0, "live_nonheap_mb": 0.0},
              {"live_heap_mb": 300.0, "live_nonheap_mb": 150.0},
              {"live_heap_mb": 250.0, "live_nonheap_mb": 160.0}]
        self.assertEqual(stats.live_memory_mb(qs), 450.0)
        self.assertEqual(stats.live_memory_mb(qs[:1]), 0.0)

    def test_jobs_outside_a_phase_group_are_attributed_by_time(self):
        spans = [{"id": "p1/q/build", "kind": "phase", "start_ms": 10,
                  "end_ms": 20},
                 {"id": "p1/q", "kind": "query", "start_ms": 10,
                  "end_ms": 30}]
        jobs = [{"job": 1, "parent": "stream-run-id", "start_ms": 15},
                {"job": 2, "parent": "p1/q/action", "start_ms": 15},
                {"job": 3, "parent": "", "start_ms": 40}]
        stats.attribute_jobs(jobs, spans)
        self.assertEqual([j["parent"] for j in jobs],
                         ["p1/q/build", "p1/q/action", ""])

    def test_stream_progress_belongs_to_the_next_query_record(self):
        with scratch() as d:
            path = os.path.join(d, "r.jsonl")
            with open(path, "w") as fh:
                for r in [{"type": "stream", "rows": 5, "ts": "t"},
                          {"type": "query", "pass": 3, "query": "q"}]:
                    fh.write(json.dumps(r) + "\n")
            rec = run.parse_records(path)
        self.assertEqual(rec["stream"], [{"rows": 5, "ts": "t", "pass": 3}])


class Inputs(unittest.TestCase):
    def test_seed_permutes_rows_but_keeps_content(self):
        import pyarrow.parquet as pq
        with scratch() as d:
            for seed in (1, 2):
                gendata.write(os.path.join(d, str(seed)), seed)
            a = pq.read_table(os.path.join(d, "1", "documents.parquet"))
            b = pq.read_table(os.path.join(d, "2", "documents.parquet"))
        self.assertNotEqual(a.column("doc_id").to_pylist(),
                            b.column("doc_id").to_pylist())
        self.assertEqual(a.sort_by("doc_id").to_pylist(),
                         b.sort_by("doc_id").to_pylist())

    def test_same_seed_same_bytes(self):
        with scratch() as d:
            for sub in ("x", "y"):
                gendata.write(os.path.join(d, sub), 7)
            for name in gendata.tables():
                with open(os.path.join(d, "x", name + ".parquet"), "rb") as x, \
                        open(os.path.join(d, "y", name + ".parquet"), "rb") as y:
                    self.assertEqual(x.read(), y.read(), name)

    def test_every_workload_query_has_an_expected_hash(self):
        expected = run.load_expected()
        for name, (queries, _) in run.WORKLOADS.items():
            queries = queries + run.TRACED_ONLY.get(name, [])
            self.assertEqual([q for q in queries if q not in expected], [],
                             name)


class Harness(unittest.TestCase):
    def test_content_hash(self):
        cp = build.build()
        with scratch() as d:
            res = subprocess.run(["java"] + run.JVM_OPTS + [
                f"-Djava.io.tmpdir={d}", "-cp", cp, "perfbench.Harness",
                "selftest=1"], capture_output=True, text=True, timeout=300,
                cwd=d, env=dict(os.environ, SPARK_LOCAL_DIRS=d))
        lines = [l for l in res.stdout.splitlines()
                 if l.startswith("[selftest]")]
        self.assertEqual(res.returncode, 0, res.stdout + res.stderr[-2000:])
        self.assertEqual(len(lines), 8, res.stdout)
        self.assertTrue(all(" ok " in l for l in lines), lines)

    def test_refuses_to_run_without_the_program(self):
        with scratch() as d:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), d)
            res = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 "tfdata_etl", "--seed", "1", "--seconds", "1"],
                cwd=d, capture_output=True, text=True, timeout=120)
        self.assertNotEqual(res.returncode, 0)
        self.assertNotIn('"correct"', res.stdout)


if __name__ == "__main__":
    unittest.main()
