#!/usr/bin/env python3
"""Tests of the benchmark itself, on smoke-sized inputs.

    python3 perfbench/test_perfbench.py

Each workload runs once untraced and once traced with `--smoke`; the output
checks run and every metric of BENCHMARK.json must be printed with its unit.
A run from a directory holding only BENCHMARK.json and perfbench/ must fail
without printing a result. Expect a few minutes: each run starts a JVM.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402


def run(workload, trace, cwd=ROOT, seed=7):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


class SmokeTest(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check_run(self, workload, trace):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], p.stderr[-3000:])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        wanted = self.spec["per_layer"] if trace else self.spec["end_to_end"]
        self.assertEqual(set(last["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = last["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
        if not trace:
            for m in wanted:
                self.assertGreater(last["metrics"][m["name"]]["value"], 0, m["name"])
        return last

    def test_pit_megaconv(self):
        self.check_run("pit_megaconv", 0)

    def test_pit_megaconv_traced(self):
        m = self.check_run("pit_megaconv", 1)["metrics"]
        self.assertEqual(m["backfill.redone_buckets"]["value"], 2)  # 4 buckets, crash after 2
        self.assertGreater(m["spark.exchanges"]["value"], 0)

    def test_query_library(self):
        self.check_run("query_library", 0)

    def test_query_library_traced(self):
        m = self.check_run("query_library", 1)["metrics"]
        self.assertGreater(m["q.q_pit_backfill_s"]["value"], 0)

    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"))
            p = run("pit_megaconv", 0, cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen_tables.tables(3, 0.0005), gen_tables.tables(3, 0.0005)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["events"].equals(gen_tables.tables(4, 0.0005)["events"]))


if __name__ == "__main__":
    unittest.main(verbosity=2)
