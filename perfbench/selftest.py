#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic (no JVM needed):

    python3 perfbench/selftest.py

Scratch files go under .perfbench/selftest/ at the checkout root.
"""
import filecmp
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench", "selftest")


def same_tree(a, b):
    """Byte-identical directory trees (markers excluded)."""
    cmp = filecmp.dircmp(a, b, ignore=["READY"])
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class Generators(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        self.saved = gen.SPECS["wordcount"]["tokens"]
        gen.SPECS["wordcount"]["tokens"] = 50_000  # the property does not depend on size

    def tearDown(self):
        gen.SPECS["wordcount"]["tokens"] = self.saved
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_seed_determines_inputs(self):
        for w in gen.SPECS:
            a, pa, _ = gen.ensure(w, 7, os.path.join(SCRATCH, "a"))
            b, pb, _ = gen.ensure(w, 7, os.path.join(SCRATCH, "b"))
            c, _, _ = gen.ensure(w, 8, os.path.join(SCRATCH, "c"))
            self.assertTrue(same_tree(a, b), f"{w}: same seed, different bytes")
            self.assertEqual(pa, pb)
            self.assertFalse(same_tree(a, c), f"{w}: different seeds, same bytes")

    def test_cache_hit_and_restamp(self):
        d, _, g1 = gen.ensure("curation", 3, SCRATCH)
        _, _, g2 = gen.ensure("curation", 3, SCRATCH)
        self.assertGreater(g1, 0.0)
        self.assertEqual(g2, 0.0)
        with open(os.path.join(d, "READY")) as fh:
            m = json.load(fh)
        m["stamp"] = "stale"
        with open(os.path.join(d, "READY"), "w") as fh:
            json.dump(m, fh)
        _, _, g3 = gen.ensure("curation", 3, SCRATCH)
        self.assertGreater(g3, 0.0, "a stale stamp must regenerate")


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class Spans(unittest.TestCase):
    def test_self_time(self):
        s = 1_000_000_000
        tree = [
            span(0, -1, 0, 10 * s, "root"),
            span(1, 0, 1 * s, 4 * s, "a"),
            span(2, 0, 3 * s, 6 * s, "b"),      # overlaps a: union is 1..6
            span(3, 1, 2 * s, 3 * s, "leaf"),
            span(4, -1, 20 * s, 21 * s, "root2"),
        ]
        st = stats.self_times(tree)
        self.assertAlmostEqual(st[0], 5.0)   # 10 - |[1,6]|
        self.assertAlmostEqual(st[1], 2.0)   # 3 - 1
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 1.0)
        table = {r[0]: r for r in stats.span_table(tree)}
        self.assertAlmostEqual(table["root"][3], 5.0)
        self.assertEqual(table["leaf"][1], 1)

    def test_tail(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        v, pct, n = stats.tail(list(range(1, 101)))
        self.assertEqual((v, pct, n), (90, 90.0, 100))   # 91..100 lie beyond it
        v, pct, _ = stats.tail(list(range(1, 1001)))
        self.assertEqual((v, pct), (990, 99.0))


class MetricNames(unittest.TestCase):
    def test_names(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, stats.NAME_RE)
        e2e = {m["name"] for m in spec["end_to_end"]}
        got, _ = stats.end_to_end(SYNTHETIC, 1_000_000)
        self.assertEqual(set(got), e2e)
        layer = {m["name"] for m in spec["per_layer"]}
        for w in gen.SPECS:
            extra = set(stats.per_layer(SYNTHETIC, w, {"stream": {"stream_docs": 10}})) - layer
            self.assertFalse(extra, f"{w} emits names missing from BENCHMARK.json: {extra}")


def _pass(i, traced, ops):
    p = {"pass": i, "traced": traced, "wall_s": 2.0, "gc_s": 0.1, "jit_s": 0.5,
         "extra": {"quality.wall_s": 1.0}, "ops": ops}
    if traced:
        p["exec"] = {"jobs": 3, "task_run_s": 4.0}
        p["plan"] = {"plan.sort_s": 0.2}
    return p


SYNTHETIC = {
    "env": {"n": 4},
    "setups": [1.0, 0.5, 0.6],
    "warm_passes": 1,
    "passes": [_pass(i, i > 2, [{"name": "ops.q30_exact_dedup", "s": 0.5, "ok": True,
                                 "detail": {"plan_s": 0.1}}]) for i in range(5)],
    "retained_heap_mb": 100.0, "code_cache_mb": 20.0,
    "layers": {"wordcount.count_s": 1.0},
    "stream": {"index_build_s": 1.0, "passes": [
        {"pass": i, "wall_s": 1.0, "extra": {"quality.wall_s": 0.5},
         "ops": [{"name": "streaming.quality", "s": 0.2, "ok": True,
                  "detail": {"plan_s": 0.01, "add_batch_s": 0.1, "wal_s": 0.02}}]}
        for i in range(2)]},
}


class WordcountChecker(unittest.TestCase):
    def setUp(self):
        self.inp = os.path.join(SCRATCH, "wc", "input")
        self.out = os.path.join(SCRATCH, "wc", "out")
        os.makedirs(self.inp)
        os.makedirs(self.out)
        with open(os.path.join(self.inp, "part-00000.txt"), "w", encoding="utf-8") as fh:
            fh.write("b a  a\n\n 😀 � b a\n")

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def _write(self, text):
        with open(os.path.join(self.out, "part-00000.txt"), "wb") as fh:
            fh.write(text.encode("utf-8"))

    def test_reference_and_off_by_one(self):
        ref = checks.wordcount_reference(self.inp)
        # UTF-8 byte order: U+FFFD (EF BF BD) before U+1F600 (F0 9F 98 80)
        self.assertEqual(ref.decode(), "a\t3\nb\t2\n�\t1\n😀\t1\n")
        self._write(ref.decode())
        self.assertIsNone(checks.check_wordcount(ref, self.out))
        self._write("a\t4\nb\t2\n�\t1\n😀\t1\n")
        self.assertIsNotNone(checks.check_wordcount(ref, self.out))


if __name__ == "__main__":
    unittest.main()
