"""Tests for the benchmark's correctness checks and a smoke run of every
workload. Run from the repository root:

    python3 -m unittest perfbench/test_checks.py

The smoke runs build the program on first use and take a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def share(result):
    attempted, failed, _ = result
    return failed / attempted


class RelayCheck(unittest.TestCase):
    def setUp(self):
        self.per_file = 10
        self.files, self.replays = gen.cdc_files(7, 40, self.per_file, 0.1)
        self.landed = [(n, int(n[1:6])) for n, _ in self.files]
        seen = {}
        for _, rows in self.files:
            for r in rows:
                seen[r["event_id"]] = f"graft/{r['ts']}"
        self.rows = sorted(seen.items())

    def check(self, rows, dups=None):
        return checks.check_relay(self.landed, self.per_file, rows,
                                  self.replays if dups is None else dups,
                                  self.replays)

    def test_correct_output_passes(self):
        self.assertGreater(self.replays, 0)
        self.assertEqual(share(self.check(self.rows)), 0)

    def test_dropped_event_fails(self):
        self.assertGreater(share(self.check(self.rows[:5] + self.rows[6:])), 0)

    def test_duplicated_msg_id_fails(self):
        rows = list(self.rows)
        rows[3] = (rows[3][0], rows[4][1])
        self.assertGreater(share(self.check(rows)), 0)

    def test_published_replay_fails(self):
        self.assertGreater(share(self.check(self.rows + [self.rows[0]])), 0)

    def test_replays_not_counted_by_dedup_fail(self):
        self.assertGreater(share(self.check(self.rows, self.replays - 1)), 0)


class DedupCheck(unittest.TestCase):
    def test_survivors(self):
        texts = ["a b c d e f", "g h i j k l", "m n"]
        files, survivors = gen.doc_stream(3, texts, 6, 5, 0.3)
        ids = {r["doc_id"] for f in files for r in f}
        self.assertLess(sum(len(v) for v in survivors.values()), len(ids))
        got = {b: list(v) for b, v in survivors.items()}
        self.assertEqual(share(checks.check_dedup(survivors, got)), 0)
        extra = next(i for i in sorted(ids)
                     if i not in {d for v in survivors.values() for d in v})
        got[5] = got[5] + [extra]
        self.assertGreater(share(checks.check_dedup(survivors, got)), 0)

    def test_uncommitted_or_failed_stream(self):
        survivors = {0: [0, 1], 1: [], 2: [5]}
        got = {0: [0, 1], 1: [], 2: [5]}
        self.assertEqual(share(checks.check_dedup(survivors, got)), 0)
        # a file with no survivors still fails if its epoch never committed
        self.assertGreater(share(checks.check_dedup(survivors, {0: [0, 1]})), 0)
        attempted, failed, _ = checks.check_dedup(survivors, {}, "boom")
        self.assertEqual((attempted, failed), (3, 3))
        self.assertFalse(run.correct(attempted, failed))

    def test_nothing_attempted_is_not_correct(self):
        self.assertFalse(run.correct(0, 0))
        self.assertTrue(run.correct(1, 0))


class QueryCheck(unittest.TestCase):
    def test_wrong_row(self):
        exp = (["a", "b"], ["BIGINT", "VARCHAR"], [(1, "x"), (2, "y")])
        self.assertEqual(share(checks.check_queries({"q": exp}, {"q": exp})), 0)
        bad = (exp[0], exp[1], [(1, "x"), (2, "z")])
        self.assertGreater(share(checks.check_queries({"q": exp}, {"q": bad})), 0)
        self.assertGreater(share(checks.check_queries({"q": exp}, {"q": "failed"})), 0)

    def test_oracle_against_engine_output(self):
        import duckdb
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "q"))
            con = duckdb.connect()
            con.sql(f"COPY (SELECT 1::BIGINT AS a, 'x' AS b) TO "
                    f"'{d}/q/part.parquet' (FORMAT PARQUET)")
            got = checks.read_output(os.path.join(d, "q"))
            exp = checks._rows(con.sql("SELECT 'x' AS b, 1::BIGINT AS a"))
            self.assertIsNone(checks.compare(exp, got))
            wrong = checks._rows(con.sql("SELECT 'x' AS b, 2::BIGINT AS a"))
            self.assertIsNotNone(checks.compare(wrong, got))


class Smoke(unittest.TestCase):
    """A short run of each workload prints every metric with its unit."""

    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "2", "--seconds", "1", "--trace", str(trace)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return p.stdout.strip().splitlines()

    def test_workloads(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        table_metrics = {
            "relay_drain": ["events_per_s"],
            "analytics_mix": ["cdc_s", "rel_s", "dedup_s"],
            "dedup_stream": ["docs_per_s", "epoch_p50_ms"]}
        for w in spec["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    lines = self.run_bench(w["name"], trace)
                    result = json.loads(lines[-1])
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    want = {m["name"]: m["unit"] for m in spec[key]}
                    got = {k: v["unit"] for k, v in result["metrics"].items()}
                    self.assertEqual(got, want)
                    printed = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1]
                               if len(ln.split()) == 3}
                    for name in (["setup_s", "failed_share"] +
                                 table_metrics[w["name"]]):
                        self.assertIn(name, printed)


if __name__ == "__main__":
    unittest.main()
