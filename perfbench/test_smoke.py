"""Smoke test of the benchmark on tiny inputs.

    python3 perfbench/test_smoke.py

Runs every workload once untraced and once traced with --tiny, and
checks that each prints every metric BENCHMARK.json names, with its
unit, that every correctness check of the workload ran and passed, and
that the benchmark refuses to run without the program's sources.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

CHECKS = {
    "store_flow": {"store_query_matches_brute_force", "store_rows_equal_distinct_targets",
                   "mlp_predicts_every_row"},
    "ann_batch": {"topk_join_matches_brute_force", "ivf_answers_every_query"},
    "curation_stream": {"exact_dup_drops_equal_planted", "stream_survivors_match_final_stage",
                        "stream_stage_counts_never_increase", "stream_gopher_equals_batch",
                        "stream_lm_equals_batch", "stream_decontam_equals_batch"},
}
DETAIL = {
    "store_flow": {"flow_s", "query_ms_p50", "query_ms_p95", "append_ms_p50"},
    "ann_batch": {"exact_knn_qps", "index_build_s", "ann_knn_qps", "recall_at_10"},
    "curation_stream": {"curation_docs_per_s", "stream_docs_per_s", "microbatch_ms_p50"},
}
COMMON_DETAIL = {"setup_s", "live_heap_mb", "error_rate"}


def run(workload, trace, cwd=ROOT):
    cmd = [sys.executable, str(Path(cwd) / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=str(cwd), stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=400)


class SmokeTest(unittest.TestCase):
    def check_run(self, workload, trace):
        r = run(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        record = json.loads(lines[-2])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        for m in spec:
            self.assertIn(m["name"], result["metrics"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], (int, float))
        self.assertEqual(set(record["check_names"]) & CHECKS[workload], CHECKS[workload])
        for name in DETAIL[workload] | COMMON_DETAIL:
            self.assertIn(name, record["detail"])
            self.assertTrue(record["detail"][name]["unit"])
        self.assertIn("spin_ms", record["host"]["start"])
        self.assertIn("rows", record["input"])
        if trace:
            self.assertTrue(Path(record["spans_file"]).is_file())
            self.assertIn("no_timed_plan_is_a_bare_count", record["check_names"])
            self.assertIsNotNone(record["tracing_overhead"])
        return record

    def test_store_flow(self):
        for trace in (0, 1):
            self.check_run("store_flow", trace)

    def test_ann_batch(self):
        for trace in (0, 1):
            self.check_run("ann_batch", trace)

    def test_curation_stream(self):
        for trace in (0, 1):
            self.check_run("curation_stream", trace)

    def test_refuses_without_program_sources(self):
        bare = ROOT / ".bench_build" / "perfbench-bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(BENCH, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            r = run("store_flow", 0, cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
